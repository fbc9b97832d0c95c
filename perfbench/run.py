"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload nightly_incremental --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is the separate traced run that prints the
per-layer metrics (see README.md). All generated inputs, warehouses and
Spark scratch space live under ``perfbench/.work/`` and are removed on
exit. The last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CPUS = min(4, os.cpu_count() or 4)
END_TO_END = ("setup_s", "step_s_p50", "write_s_p50", "ops_per_s", "rows_per_s",
              "bytes_stored_per_input_byte", "peak_rss_mb")
UNITS = {"setup_s": "s", "step_s_p50": "s", "write_s_p50": "s", "ops_per_s": "1/s",
         "rows_per_s": "rows/s", "bytes_stored_per_input_byte": "ratio",
         "peak_rss_mb": "MB"}


def _environment(work: str) -> None:
    """Pin the process to the benchmark's settings before Spark loads:
    UTC, ``CPUS`` task slots, a 2 GB driver heap, and every scratch
    directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TZ": "UTC", "SPARK_GRAFT_CPUS": str(CPUS), "SPARK_DRIVER_MEM": "2g",
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    time.tzset()
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed-size heap: peak RSS then tracks the work, not heap resizing
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    total_kb = 0
    for pid in (os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it every
    Python worker it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def cpu_probe() -> float:
    """Median time of a fixed single-threaded Python loop: a gauge of
    how fast this machine's CPU is running right now."""
    times = []
    for _ in range(15):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Phases:
    """Wall time of each phase of a run, reported on standard error."""

    def __init__(self):
        self.t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        print(f"perfbench: {name} {now - self.t:.2f}s", file=sys.stderr)
        self.t = now


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import workloads
    from etl_pipeline_for_detection_banking_fraud_spark import session

    recorder = None
    if trace:
        import tracing
        recorder = tracing.Recorder()
        tracing.install(recorder)
    phases = Phases()
    wl = workloads.WORKLOADS[workload](seed, work, recorder)
    phases.mark("generate")

    t = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{workload}",
                              extra_conf=spark_conf(work, trace))
    session_s = time.perf_counter() - t
    phases.mark("session")
    if recorder:
        recorder.attach(spark)
    wl.spark = spark
    builds = []
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        wl.build(k)
        builds.append(time.perf_counter() - t)
    setup_s = session_s + statistics.median(builds)
    phases.mark("build")
    wl.warm()
    phases.mark("warm")
    runs = []
    if recorder:
        # trace.overhead_s compares the traced phase with the same work
        # timed with the recorder off in this process, half of it before
        # and half after, so that a warm-up trend cancels out
        recorder.enabled = False
        runs.append(wl.measure(seconds / 2))
        recorder.enabled = True
        recorder.start_measuring()
    m = wl.measure(seconds)
    runs.append(m)
    if recorder:
        recorder.stop_measuring()
        recorder.enabled = False
        runs.append(wl.measure(seconds / 2))
    phases.mark("measure")
    print(f"perfbench: cpu_probe {cpu_probe():.5f}", file=sys.stderr)
    print(f"perfbench: {len(m.steps)} steps, median {_median(m.steps):.4f}s; "
          f"{len(m.writes)} writes, median {_median(m.writes):.4f}s "
          f"{[round(w, 2) for w in m.writes[:12]]}", file=sys.stderr)
    rss = peak_rss_mb(spark)
    problems = wl.check()
    phases.mark("check")
    errors = [e for r in runs for e in r.errors]
    for msg in errors + problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    correct = not problems and failed == 0 and bool(m.steps)
    if trace:
        files_end = tracing.table_files(wl.warehouse())
        stop_spark(spark)
        metrics = tracing.layer_metrics(recorder, os.path.join(work, "eventlog"), wl, m,
                                        runs[0].steps + runs[2].steps, files_end)
    else:
        values = {
            "setup_s": setup_s,
            "step_s_p50": _median(m.steps),
            "write_s_p50": _median(m.writes),
            "ops_per_s": (m.attempted - m.failed) / m.wall if m.wall else 0.0,
            "rows_per_s": m.rows / m.wall if m.wall else 0.0,
            "bytes_stored_per_input_byte": wl.stored_bytes() / wl.input_bytes,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
        stop_spark(spark)
    return {"correct": correct, "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
