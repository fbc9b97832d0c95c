"""Spark-job census of the product's write paths.

Runs one analyst write cycle (MERGE, DELETE, UPDATE and one streamed
drop, after the workload's untimed warm-up cycle) and one nightly day
(after its warm-up day) through ``perfbench/workloads.py``, with no
readers beside the writer. For every op it prints the wall time and each
Spark job the op submitted, with the job's id, name and duration, read
from Spark's status store.

Usage, from the repository root:

    python3 tools/census.py [--seed 8] [--workload analyst_mix]
        [--workload nightly_incremental] [--cycles 1]

Generated feeds, warehouses and Spark scratch space go to a temporary
directory that is removed on exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")


class JobLog:
    """Jobs from Spark's status store, diffed around each op. The store
    is fed asynchronously by the listener bus, so a barrier job in its
    own group is awaited first: once it is visible, every job submitted
    before it is too."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.seen = self._ids()

    def _jobs(self) -> list:
        seq = self.store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def _ids(self) -> set:
        return {j.jobId() for j in self._jobs()}

    def _barrier(self) -> str:
        sc = self.spark.sparkContext
        group = f"census-barrier-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "listener-bus barrier")
        self.spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(group) \
                and time.time() < deadline:
            time.sleep(0.05)
        return group

    def new_jobs(self) -> list[tuple[int, str, float]]:
        """``(id, name, seconds)`` of each job since the last call."""
        group = self._barrier()
        out = []
        for j in sorted(self._jobs(), key=lambda j: j.jobId()):
            if j.jobId() in self.seen:
                continue
            self.seen.add(j.jobId())
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            secs = (done.get().getTime() - sub.get().getTime()) / 1000 \
                if sub.isDefined() and done.isDefined() else float("nan")
            out.append((j.jobId(), j.name(), secs))
        return out


def census_op(log: JobLog, label: str, fn) -> int:
    log.new_jobs()
    t = time.perf_counter()
    fn()
    wall = time.perf_counter() - t
    jobs = log.new_jobs()
    print(f"{label}: {wall:.3f} s, {len(jobs)} jobs")
    for jid, name, secs in jobs:
        print(f"    job {jid:>5} {secs * 1000:8.0f} ms  {name}")
    return len(jobs)


def analyst(seed: int, work: str, cycles: int, conf: dict) -> None:
    import workloads

    from etl_pipeline_for_detection_banking_fraud_spark import session

    wl = workloads.AnalystMix(seed, work)
    wl.spark = session.get_spark(app_name="census-analyst",
                                 extra_conf=conf)
    wl.build(0)
    wl.warm()
    log = JobLog(wl.spark)
    j = wl.next_write
    try:
        for _ in range(cycles):
            for kind in wl.WRITE_CYCLE:
                census_op(log, f"analyst {kind} (write {j})",
                          lambda j=j: wl._write(j))
                j += 1
    finally:
        wl.query.stop()


def nightly(seed: int, work: str, cycles: int, conf: dict) -> None:
    import workloads

    from etl_pipeline_for_detection_banking_fraud_spark import session

    wl = workloads.NightlyIncremental(seed, work)
    wl.spark = session.get_spark(app_name="census-nightly",
                                 extra_conf=conf)
    wl.build(0)
    wl.warm()
    log = JobLog(wl.spark)
    for _ in range(cycles):
        i = len(wl.paths)
        paths = wl._next_day()
        census_op(log, f"nightly day {i}", lambda: wl._run_day(paths, i))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=8)
    ap.add_argument("--workload", action="append",
                    choices=("analyst_mix", "nightly_incremental"))
    ap.add_argument("--cycles", type=int, default=1,
                    help="write cycles (analyst) or days (nightly) to census")
    args = ap.parse_args()
    sys.path[:0] = [BENCH, ROOT]
    import run

    work = tempfile.mkdtemp(prefix="census-")
    try:
        run._environment(work)
        conf = run.spark_conf(work, trace=False)
        for name in args.workload or ["analyst_mix", "nightly_incremental"]:
            wdir = os.path.join(work, name)
            os.makedirs(wdir)
            (analyst if name == "analyst_mix" else nightly)(
                args.seed, wdir, args.cycles, conf)
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
