"""The benchmark's own tests: oracles on hand-checked graphs, the event-log
parser on a canned log, a tiny-size smoke of each workload with its
output checks (and one that must catch a wrong answer), and the failure
exit outside a full checkout.

    python3 -m pytest linkbench/tests -q -p no:cacheprovider

Run from the repository root; the smoke runs start their own Spark JVM.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from linkbench import oracles, run as bench
from linkbench.tracing import PER_LAYER, Span, parse_event_log, per_layer_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def graph(pairs):
    return oracles.Graph([(f"c{a}", f"c{b}", float(w)) for a, b, w in pairs])


def test_oracles_on_known_graphs():
    tri_plus_tail = graph([(0, 1, 1), (1, 2, 1), (2, 0, 1), (2, 3, 1), (5, 6, 2)])
    assert oracles.triangles(tri_plus_tail) == 1
    assert oracles.components(tri_plus_tail) == {
        "c0": "c0", "c1": "c0", "c2": "c0", "c3": "c0", "c5": "c5", "c6": "c5"}
    star = graph([(i, 0, 1) for i in range(1, 6)])
    ranks = oracles.pagerank(star)
    assert abs(sum(ranks.values()) - 1.0) < 1e-12
    assert max(ranks, key=ranks.get) == "c0"
    # c1..c5 each see only c0; c0 sees five labels of equal weight → the min
    assert oracles.label_propagation(star, n_iter=1)["c0"] == "c1"
    assert oracles.label_propagation(star, n_iter=1)["c3"] == "c0"


def test_event_log_parser_on_canned_log():
    jobs, tasks = parse_event_log(os.path.join(HERE, "canned_eventlog.json"))
    assert [j.span for j in jobs] == [1, 3, 4, 6, 7, 8, None, 6]
    assert len(tasks) == 16 and sum(t.failed for t in tasks) == 1

    def span(i, name, parent, start, end):
        return Span(i, name, parent, 0, float(start), float(end))

    spans = [
        span(0, "job", None, 0, 10),
        span(1, "pagerank", 0, 0, 8),
        span(2, "pagerank.superstep", 1, 2, 5),
        span(3, "checkpoint.write_state", 2, 2, 4),
        span(4, "checkpoint.log_lineage", 2, 4, 5),
        span(5, "pagerank.superstep", 1, 5, 8),
        span(6, "checkpoint.write_state", 5, 5, 7),
        span(7, "checkpoint.log_lineage", 5, 7, 8),
        span(8, "triangles", 0, 8, 10),
    ]
    m = per_layer_metrics(spans, jobs, tasks)
    assert set(m) == set(PER_LAYER)
    assert m["pagerank.supersteps"] == 2
    assert m["pagerank.op_s"] == 8 and m["pagerank.prep_s"] == 2
    assert m["pagerank.superstep_s"] == 3
    assert m["pagerank.jobs_per_superstep"] == 2.5  # 2 and 3 (job 7 reuses stage 3)
    assert m["pagerank.tasks_per_superstep"] == 5
    assert m["pagerank.shuffle_mb_per_superstep"] == 0.5  # 1.0 and 0.0
    assert m["skew.gather_task_skew"] == pytest.approx((3 / 1 + 2 / 1.5) / 2)
    assert m["checkpoint.write_state_s"] == 2 and m["checkpoint.log_lineage_s"] == 1
    assert m["checkpoint.bytes_written_mb"] == 3
    assert m["triangles.shuffle_mb"] == 3 and m["triangles.spill_mb"] == 0.5
    assert m["spark.failed_tasks"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(15.4)  # untagged job 6 excluded
    assert m["spark.gc_s"] == pytest.approx(0.15)
    assert m["trace.job_s"] == 10 and m["edges.build_s"] == 0


TINY = {"ingest": {"n_convs": 200}, "graph": {"n_base": 200, "n_delta": 40, "max_deltas": 2}}


@pytest.mark.parametrize("workload,trace", [("ingest", False), ("graph", True)])
def test_tiny_workload_runs_and_checks_pass(workload, trace):
    result = bench.run(workload, seed=3, seconds=1, trace=trace, sizes=TINY[workload])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    names = PER_LAYER if trace else bench.END_TO_END
    assert set(result["metrics"]) == set(names)
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["pagerank.supersteps"] > 0 and m["components.supersteps"] > 0
        assert m["refresh.pagerank_supersteps"] > 0 and m["streaming.rows_mined"] > 0
        assert m["checkpoint.bytes_written_mb"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_checks_catch_a_wrong_answer(monkeypatch):
    from linkbench import workloads

    monkeypatch.setattr(workloads, "triangle_count", lambda edges: 1 + edges.count())
    result = bench.run("graph", seed=3, seconds=1, trace=False, sizes=TINY["graph"])
    assert not result["correct"] and result["failed"] == 1


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run fails fast and prints no result."""
    shutil.copytree(os.path.join(ROOT, "linkbench"), tmp_path / "linkbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())
