"""Benchmark entry point.

    python3 linkbench/run.py --workload ingest|graph \
        --seed N --seconds S --trace 0|1

Run from the repository root. Starts one Spark session on
``local[<slots>]`` in this process (half the usable cores), builds the
workload's input from the seed, warms up, then runs the workload's job
in a closed loop (one client; the next job starts when the previous one
has finished and its output has been checked) for about ``--seconds``
seconds, and prints one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics from the span tree and Spark's event log with
``--trace 1``.

Everything the run writes stays under ``.bench_work/`` in the current
directory; the run's scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# a run must end well inside 180 s; past this it aborts without a result
DEADLINE_S = 170
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "cpu_us_per_row": "us/row", "peak_rss_mb": "MB"}


def task_slots() -> int:
    """Spark task slots: half the usable cores. On a VM whose cores are
    shared with other tenants, a job with a task on every core waits for
    whichever core the host takes away; with half, the JVM's GC and JIT
    threads and the Python driver have cores of their own, and a job
    measured ~15% faster on a 4-core VM than with a task on every core."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def session_conf(slots: int, work: str, trace: bool) -> dict[str, str]:
    """The benchmark's pinned session settings, on top of the engine's
    ``get_spark`` defaults."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(slots),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap committed at its full size up front (a heap that grows
        # on demand made jobs ~20% slower and peak RSS spread ~12% from
        # run to run); GC and JIT threads capped at the task slots, and a
        # fixed set of JIT compiler threads, which cpu_seconds leaves out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms{DRIVER_MEMORY} "
            f"-XX:ParallelGCThreads={slots} -XX:CICompilerCount={max(2, slots)} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_pid(spark) -> int:
    """The Spark JVM (driver and executors share it in local mode)."""
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> float:
    """VmHWM of the Spark JVM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def _stat_cpu_s(path: str) -> tuple[str, float]:
    """(thread or process name, user + system CPU seconds) from a
    /proc stat file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    fields = rest.split()  # fields from the 3rd on
    return head.split("(", 1)[1], (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds so far of the Spark JVM and of this
    Python process, less the JVM's JIT compiler threads: their work
    falls for minutes as a fresh JVM warms up, and is not the engine's.
    Time the host runs other tenants on this VM's cores (CPU steal) is
    not counted."""
    total = _stat_cpu_s(f"/proc/{pid}/stat")[1]
    for task in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            name, cpu = _stat_cpu_s(task)
        except OSError:  # the thread has exited
            continue
        if "CompilerThre" in name:
            total -= cpu
    own = os.times()
    return total + own.user + own.system


def cpu_steal() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat:
    the time a shared host ran other tenants on this VM's cores."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: dict | None = None) -> dict:
    """One benchmark run; ``sizes`` overrides the workload's input sizes
    (the smoke tests run tiny inputs)."""
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    # the JVM launcher and Spark's scratch files go under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir, from the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        return _run(workload, seed, seconds, trace, work, task_slots(), sizes or {})
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload, seed, seconds, trace, work, slots, sizes) -> dict:
    t_setup = time.perf_counter()
    t_wall = time.time()
    from unarxive_spark.session import get_spark

    from linkbench.tracing import PER_LAYER, Tracer, log, parse_event_log, per_layer_metrics
    from linkbench.workloads import WORKLOADS

    conf = session_conf(slots, work, trace)
    spark = get_spark(master=f"local[{slots}]", app_name=f"linkbench-{workload}",
                      shuffle_partitions=slots, extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        log(f"local[{slots}] conf {json.dumps(conf)}")
        tracer = Tracer(spark, enabled=trace)
        tracer.record("session.start", t_wall, time.time())
        t_session = time.perf_counter() - t_setup
        wl = WORKLOADS[workload](spark, tracer, os.path.join(work, "data"), seed, **sizes)
        with tracer.span("datagen.gen"):
            wl.setup()
        log(f"session {t_session:.1f} s, datagen {time.perf_counter() - t_setup - t_session:.1f} s")
        with tracer.span("warm_up"):
            wl.warm_up()
        setup_s = time.perf_counter() - t_setup
        wl.ops, wl.failures = 0, []
        wl.oracle()
        log(f"set-up {setup_s:.1f} s, oracle {time.perf_counter() - t_setup - setup_s:.1f} s")

        pid = jvm_pid(spark)
        job_s, cpu_s, cpu_per_row = [], [], []
        steal0 = cpu_steal()
        t_loop = time.perf_counter()
        while wl.has_next():
            wl.reset()
            tracer.run = wl.n_jobs
            with tracer.span("job"):
                c0, t0 = cpu_seconds(pid), time.perf_counter()
                out = wl.job()
                dt, cpu = time.perf_counter() - t0, cpu_seconds(pid) - c0
            job_s.append(dt)
            cpu_s.append(cpu)
            cpu_per_row.append(cpu * 1e6 / max(wl.rows(out), 1))
            wl.check(out)
            wl.n_jobs += 1
            # one more job only if it should end within half a job of
            # --seconds: the loop measures about --seconds in all
            elapsed = time.perf_counter() - t_loop
            if elapsed + statistics.median(job_s) / 2 > seconds:
                break
        tracer.run = -1
        stolen, total = (b - a for a, b in zip(steal0, cpu_steal()))
        log(f"loop {time.perf_counter() - t_loop:.1f} s, "
            f"host CPU steal {100 * stolen / max(total, 1):.1f}%")
        wl.finish()
        rss = peak_rss_mb(pid)
    finally:
        stop_session(spark)
    log(f"finished at {time.perf_counter() - t_setup:.1f} s")

    for job, op, why in wl.failures:
        log(f"FAILED job {job} {op}: {why}")
    log(f"{wl.n_jobs} jobs, job_s {[round(x, 3) for x in job_s]}, "
        f"cpu_s {[round(x, 2) for x in cpu_s]}")
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.ops,
        "failed": wl.failed,
    }
    if trace:
        (event_log,) = glob.glob(os.path.join(work, "eventlog", "*"))
        jobs, tasks = parse_event_log(event_log)
        values = per_layer_metrics(tracer.spans, jobs, tasks)
        tracer.dump(os.path.join(WORK_ROOT, f"spans-{workload}.json"))
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "cpu_us_per_row": statistics.median(cpu_per_row),
            "peak_rss_mb": rss,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "graph"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
