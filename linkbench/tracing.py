"""Tracing for the benchmark's traced run: in-memory spans, Spark job
tagging, and a parser that turns Spark's plain-JSON event log into the
per-layer metrics.

Spans are opened from the benchmark's own files around calls into the
engine's public functions; nothing inside ``unarxive_spark`` changes.
Each span sets the Spark local property ``linkbench.span`` to its id
while it is open, so every Spark job records the innermost span that
submitted it. ``CheckpointManager.write_state``/``log_lineage`` are
wrapped (``patch_checkpoints``) to give one span per superstep: it opens
when superstep *i* starts writing its state and closes when its lineage
row is logged.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PROPERTY = "linkbench.span"


def log(msg: str) -> None:
    """Progress and diagnostics go to stderr; stdout carries the result."""
    print(f"linkbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every call a no-op
    so the untraced run executes the same benchmark code."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None and enabled else None
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run = -1  # -1 = set-up; jobs are numbered from 0

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, parent, self.run, time.time(), attrs=attrs)
        self.spans.append(span)
        self.stack.append(span)
        self._tag(span.id)
        return span

    def end(self, span: Span | None) -> None:
        """Close ``span`` and any span still open inside it (a superstep
        whose operator raised before logging its lineage)."""
        if span is None or span not in self.stack:
            return
        now = time.time()
        while self.stack:
            s = self.stack.pop()
            s.end = now
            if s is span:
                break
        self._tag(self.stack[-1].id if self.stack else None)

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                PROPERTY, None if span_id is None else str(span_id)
            )

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished top-level span timed before the tracer existed
        (session start)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, None, self.run, start, end))

    def last(self, name: str) -> Span | None:
        return next((s for s in reversed(self.spans) if s.name == name), None)

    def current(self) -> Span | None:
        return self.stack[-1] if self.stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@contextlib.contextmanager
def patch_checkpoints(tracer: Tracer):
    """Wrap ``CheckpointManager.write_state``/``log_lineage`` so each
    superstep of PageRank, components and LPA becomes a span
    ``<operator>.superstep`` with ``checkpoint.*`` children."""
    from unarxive_spark.sources.checkpoint import CheckpointManager

    if not tracer.enabled:
        yield
        return
    write_state, log_lineage = CheckpointManager.write_state, CheckpointManager.log_lineage
    open_steps: dict[int, Span] = {}

    def traced_write_state(self, iteration, state):
        op = tracer.current()
        step = tracer.begin(f"{op.name if op else 'unknown'}.superstep", iteration=iteration)
        open_steps[id(self)] = step
        with tracer.span("checkpoint.write_state", iteration=iteration):
            return write_state(self, iteration, state)

    def traced_log_lineage(self, iteration, state, metric_name, metric_value):
        try:
            with tracer.span("checkpoint.log_lineage", iteration=iteration):
                return log_lineage(self, iteration, state, metric_name, metric_value)
        finally:
            tracer.end(open_steps.pop(id(self), None))

    CheckpointManager.write_state = traced_write_state
    CheckpointManager.log_lineage = traced_log_lineage
    try:
        yield
    finally:
        CheckpointManager.write_state = write_state
        CheckpointManager.log_lineage = log_lineage


# -- event log ---------------------------------------------------------------


@dataclass
class Task:
    stage: int
    seconds: float  # launch → finish
    run_s: float
    gc_s: float
    shuffle_write: int
    output_bytes: int
    disk_spill: int
    failed: bool


@dataclass
class Job:
    id: int
    span: int | None
    stages: list[int]


def parse_event_log(path: str) -> tuple[list[Job], list[Task]]:
    """Spark jobs (with the span that submitted them) and finished tasks
    from a plain-JSON event log (``spark.eventLog.compress=false``)."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(PROPERTY)
                jobs.append(
                    Job(ev["Job ID"], None if tag is None else int(tag), ev["Stage IDs"])
                )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        seconds=(info["Finish Time"] - info["Launch Time"]) / 1e3,
                        run_s=m.get("Executor Run Time", 0) / 1e3,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        disk_spill=m.get("Disk Bytes Spilled", 0),
                        failed=ev["Task End Reason"]["Reason"] != "Success",
                    )
                )
    return jobs, tasks


# -- per-layer metrics -------------------------------------------------------

MB = 1024 * 1024

# name → unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "datagen.gen_s": "s",
    "edges.mine_s": "s",
    "edges.build_s": "s",
    "edges.shuffle_write_mb": "MB",
    "edges.link_rate": "ratio",
    "stats.vertices_s": "s",
    "stats.report_s": "s",
    "pagerank.op_s": "s",
    "pagerank.prep_s": "s",
    "pagerank.superstep_s": "s",
    "pagerank.supersteps": "count",
    "pagerank.jobs_per_superstep": "count",
    "pagerank.tasks_per_superstep": "count",
    "pagerank.shuffle_mb_per_superstep": "MB",
    "skew.gather_task_skew": "ratio",
    "checkpoint.write_state_s": "s",
    "checkpoint.log_lineage_s": "s",
    "checkpoint.bytes_written_mb": "MB",
    "components.op_s": "s",
    "components.supersteps": "count",
    "components.superstep_s": "s",
    "lpa.op_s": "s",
    "lpa.superstep_s": "s",
    "triangles.op_s": "s",
    "triangles.shuffle_mb": "MB",
    "triangles.spill_mb": "MB",
    "refresh.cycle_s": "s",
    "streaming.mine_s": "s",
    "streaming.rows_mined": "count",
    "refresh.pagerank_prep_s": "s",
    "refresh.pagerank_supersteps": "count",
    "refresh.superstep_s": "s",
    "refresh.local_checkpoint_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "cache.leaked_rdds": "count",
    "trace.job_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class SpanIndex:
    """Spans joined to the Spark jobs and tasks they submitted."""

    def __init__(self, spans: list[Span], jobs: list[Job], tasks: list[Task]):
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        stage_tasks: dict[int, list[Task]] = defaultdict(list)
        for t in tasks:
            stage_tasks[t.stage].append(t)
        # a stage listed by several jobs (a reused shuffle) counts once,
        # for the first job that lists it
        seen: set[int] = set()
        self.stages_of: dict[int, list[list[Task]]] = defaultdict(list)
        self.jobs_of: dict[int, int] = defaultdict(int)
        for j in jobs:
            if j.span is None:
                continue
            self.jobs_of[j.span] += 1
            for st in j.stages:
                if st not in seen and st in stage_tasks:
                    seen.add(st)
                    self.stages_of[j.span].append(stage_tasks[st])

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s.id])
        return out

    def named(self, root: Span, name: str) -> list[Span]:
        return [s for s in self.subtree(root) if s.name == name]

    def stages(self, span: Span) -> list[list[Task]]:
        return [st for s in self.subtree(span) for st in self.stages_of[s.id]]

    def tasks(self, span: Span) -> list[Task]:
        return [t for st in self.stages(span) for t in st]

    def n_jobs(self, span: Span) -> int:
        return sum(self.jobs_of[s.id] for s in self.subtree(span))

    def seconds(self, root: Span, name: str) -> float:
        return sum(s.seconds for s in self.named(root, name))

    def mb(self, spans: list[Span], field: str) -> float:
        return sum(getattr(t, field) for s in spans for t in self.tasks(s)) / MB


def _gather_skew(stages: list[list[Task]]) -> float:
    """max ÷ median task time of the heaviest stage (by total run time) —
    in a PageRank superstep that is the salted gather."""
    if not stages:
        return 0.0
    heaviest = max(stages, key=lambda st: sum(t.run_s for t in st))
    times = [t.seconds for t in heaviest]
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0


def _job_metrics(idx: SpanIndex, root: Span) -> dict[str, float]:
    """Per-layer values of one job (the ``job`` span ``root``)."""
    v: dict[str, float] = {}
    named = lambda name: idx.named(root, name)  # noqa: E731
    # layer probes run inside the job span but are not part of the job
    v["trace.job_s"] = (
        root.seconds - idx.seconds(root, "edges.mine") - idx.seconds(root, "refresh.cycle"))

    v["edges.mine_s"] = idx.seconds(root, "edges.mine")
    v["edges.build_s"] = idx.seconds(root, "edges.build")
    v["edges.shuffle_write_mb"] = idx.mb(named("edges.build"), "shuffle_write")
    v["edges.link_rate"] = sum(s.attrs.get("link_rate", 0.0) for s in named("stats.report"))
    v["stats.vertices_s"] = idx.seconds(root, "stats.vertices")
    v["stats.report_s"] = idx.seconds(root, "stats.report")

    steps = named("pagerank.superstep")
    v["pagerank.op_s"] = idx.seconds(root, "pagerank")
    v["pagerank.prep_s"] = v["pagerank.op_s"] - sum(s.seconds for s in steps)
    v["pagerank.superstep_s"] = _median(s.seconds for s in steps)
    v["pagerank.supersteps"] = float(len(steps))
    v["pagerank.jobs_per_superstep"] = _median(idx.n_jobs(s) for s in steps)
    v["pagerank.tasks_per_superstep"] = _median(len(idx.tasks(s)) for s in steps)
    v["pagerank.shuffle_mb_per_superstep"] = _median(idx.mb([s], "shuffle_write") for s in steps)
    v["skew.gather_task_skew"] = _median(_gather_skew(idx.stages(s)) for s in steps)

    # parquet checkpoints: the batch operators' supersteps
    parquet_steps = steps + named("components.superstep") + named("lpa.superstep")
    writes = [c for s in parquet_steps for c in idx.named(s, "checkpoint.write_state")]
    lineage = [c for s in parquet_steps for c in idx.named(s, "checkpoint.log_lineage")]
    v["checkpoint.write_state_s"] = _median(s.seconds for s in writes)
    v["checkpoint.log_lineage_s"] = _median(s.seconds for s in lineage)
    v["checkpoint.bytes_written_mb"] = idx.mb(writes + lineage, "output_bytes")

    v["components.op_s"] = idx.seconds(root, "components")
    v["components.supersteps"] = float(len(named("components.superstep")))
    v["components.superstep_s"] = _median(s.seconds for s in named("components.superstep"))
    v["lpa.op_s"] = idx.seconds(root, "lpa")
    v["lpa.superstep_s"] = _median(s.seconds for s in named("lpa.superstep"))
    v["triangles.op_s"] = idx.seconds(root, "triangles")
    v["triangles.shuffle_mb"] = idx.mb(named("triangles"), "shuffle_write")
    v["triangles.spill_mb"] = idx.mb(named("triangles"), "disk_spill")

    # in-memory (localCheckpoint) supersteps of the warm-started refresh
    r_steps = named("refresh.pagerank.superstep")
    v["refresh.cycle_s"] = idx.seconds(root, "refresh.cycle")
    v["streaming.mine_s"] = idx.seconds(root, "streaming.mine")
    v["streaming.rows_mined"] = float(sum(s.attrs.get("rows", 0) for s in named("streaming.mine")))
    v["refresh.pagerank_prep_s"] = (
        idx.seconds(root, "refresh.pagerank") - sum(s.seconds for s in r_steps))
    v["refresh.pagerank_supersteps"] = float(len(r_steps))
    v["refresh.superstep_s"] = _median(s.seconds for s in r_steps)
    v["refresh.local_checkpoint_s"] = _median(
        c.seconds for s in r_steps for c in idx.named(s, "checkpoint.write_state"))

    all_tasks = idx.tasks(root)
    v["spark.executor_run_s"] = sum(t.run_s for t in all_tasks)
    v["spark.gc_s"] = sum(t.gc_s for t in all_tasks)
    v["spark.failed_tasks"] = float(sum(t.failed for t in all_tasks))
    v["cache.leaked_rdds"] = float(sum(s.attrs.get("leaked_rdds", 0) for s in idx.subtree(root)))
    return v


def per_layer_metrics(spans: list[Span], jobs: list[Job], tasks: list[Task]) -> dict:
    """Median over the run's jobs of each per-layer metric; 0 for a layer
    the workload does not exercise."""
    idx = SpanIndex(spans, jobs, tasks)
    per_job: dict[str, list[float]] = defaultdict(list)
    for root in (s for s in spans if s.name == "job"):
        for k, x in _job_metrics(idx, root).items():
            per_job[k].append(x)
    out = {k: _median(per_job[k]) for k in PER_LAYER}
    out["session.start_s"] = _median(s.seconds for s in spans if s.name == "session.start")
    out["datagen.gen_s"] = _median(s.seconds for s in spans if s.name == "datagen.gen")
    return out
