"""The traced run: span recorder, call-site patching, Spark event-log
parser, self-time computation and the per-layer metrics.

Spans are recorded from the benchmark's side, around the calls into each
engine module. Each name is patched where its caller looks it up
(``pipeline`` imports the CSV and XLSX readers, ``log_meta`` and
``flush_meta`` into its own namespace; methods are patched on their
class). Every span tags the Spark jobs it submits with
``sc.setJobGroup``, so the event log (``spark.eventLog.enabled``)
attributes task metrics, SQL file-scan and file-write metrics and job
timing to the innermost span that triggered them. Spans around lazy
calls (``rule*``, ``apply_increment``, ``Warehouse.read*``) measure plan
construction only: the execution is charged to the span whose action
runs it.

A span's self time is its duration minus the part of it that its child
spans cover, so within one trace (a day, an op or a micro-batch) the
self times add up to the trace's wall time. A streaming micro-batch runs
on Spark's callback thread, so it opens a trace of its own, keyed by its
batch id; it runs while the writer's ingest op waits for it.

``Recorder.enabled`` off turns every span into a no-op: the traced run
first times its phase that way, as the baseline of ``trace.overhead_s``.
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# Engine layers (modules) and the short prefix of their metrics.
LAYERS = {
    "session": "session",
    "sources.seed_dml": "seed",
    "sources.csv_source": "csv",
    "sources.xlsx": "xlsx",
    "sources.warehouse": "wh",
    "operators.scd2": "scd2",
    "operators.fraud_rules": "rules",
    "pipeline": "pipeline",
    "audit": "audit",
    "sql_door": "sql",
    "streaming.ingest": "stream",
}
BENCH = "bench"
SPARK_STATS = ("tasks", "executor_run_s", "gc_s", "failed_tasks")
DIM_TERM = "dwh_dim_terminals_hist"


@dataclasses.dataclass
class Span:
    id: int
    name: str
    layer: str
    trace: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.sc = None
        self.window = (float("inf"), float("inf"))
        self.enabled = True

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def start_measuring(self) -> None:
        self.window = (time.time(), float("inf"))

    def stop_measuring(self) -> None:
        self.window = (self.window[0], time.time())

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sp.id}", sp.name)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        trace = parent.trace if parent else getattr(self._local, "trace", None) or f"t{sid}"
        sp = Span(sid, name, layer, trace, parent.id if parent else None, attrs=attrs)
        stack.append(sp)
        self._tag(sp)
        sp.start = time.time()
        try:
            yield sp
        except BaseException as e:
            sp.attrs["error"] = type(e).__name__
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            self._tag(parent)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def root(self, name: str, trace_id: str, layer: str = BENCH):
        """A span that starts a trace: the benchmark's own span around
        one day or op, or a streaming micro-batch. Its trace id is shared
        by every span under it."""
        self._local.trace = trace_id
        try:
            with self.span(name, layer) as sp:
                yield sp
        finally:
            self._local.trace = None

    def wrap(self, owner, attr: str, layer: str, name: str | None = None, on_result=None,
             on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not rec.enabled:
                return fn(*args, **kwargs)
            attrs = on_call(*args, **kwargs) if on_call else {}
            with rec.span(label, layer, **attrs) as sp:
                out = fn(*args, **kwargs)
                if on_result:
                    sp.attrs.update(on_result(out))
                return out

        setattr(owner, attr, wrapper)


def table_files(wh) -> dict[str, int]:
    """Live data files per table of ``wh`` (taken once, after the timed
    phase, as the denominator of ``wh.files_read_frac``)."""
    return {t: _live_files(wh, t) for t in wh.tables()}


def _live_files(wh, table: str) -> int:
    """Files in ``table``'s current version: the commit log's file set,
    else the newest ``v=`` directory of a rewritten table, else the
    table directory."""
    tracked = wh._manifest_files(table.lower())
    if tracked is not None:
        return len(tracked)
    path = os.path.join(wh.root, table)
    if not os.path.isdir(path):
        return 0
    versions = sorted((d for d in os.listdir(path) if d.startswith("v=")),
                      key=lambda d: int(d[2:]))
    if versions:
        path = os.path.join(path, versions[-1])
    return sum(f.endswith(".parquet") and not f.startswith((".", "_"))
               for _d, _s, files in os.walk(path) for f in files)


def install(rec: Recorder) -> None:
    """Patch every traced call site (see the module docstring)."""
    import workloads
    from etl_pipeline_for_detection_banking_fraud_spark import audit, pipeline, session, sql_door
    from etl_pipeline_for_detection_banking_fraud_spark.operators import fraud_rules, scd2
    from etl_pipeline_for_detection_banking_fraud_spark.sources import seed_dml, xlsx
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        Transaction, Warehouse)
    from etl_pipeline_for_detection_banking_fraud_spark.streaming import ingest

    rec.wrap(session, "get_spark", "session")
    rec.wrap(seed_dml, "load_seed_dims", "sources.seed_dml")
    rec.wrap(pipeline, "read_transactions", "sources.csv_source")
    rec.wrap(pipeline, "count_and_date_global", "sources.csv_source",
             on_result=lambda out: {"rows": out[0]})
    rec.wrap(pipeline, "read_passport_blacklist", "sources.xlsx")
    rec.wrap(pipeline, "read_terminals", "sources.xlsx")
    rec.wrap(xlsx, "_records", "sources.xlsx", on_result=lambda out: {"rows": len(out)})

    for m in ("append", "append_transactions", "append_mart", "rewrite"):
        rec.wrap(Warehouse, m, "sources.warehouse", name=f"wh.{m}",
                 on_call=lambda self, df, table=None, *a, **k: {"kind": "write",
                                                                 "table": table})
    rec.wrap(Transaction, "commit", "sources.warehouse", name="wh.commit",
             on_call=lambda *a, **k: {"kind": "commit"})
    defaults = {"read_transactions": pipeline.FACT_TX, "read_mart": pipeline.MART}
    for m in ("read", "read_transactions", "read_mart", "read_at"):
        def on_read(self, table=None, *a, _default=defaults.get(m), **k):
            return {"kind": "read", "table": table or _default}
        rec.wrap(Warehouse, m, "sources.warehouse", name=f"wh.{m}", on_call=on_read)
    for m in ("merge_when", "delete_where", "update_where"):
        rec.wrap(Warehouse, m, "sources.warehouse", name=f"wh.{m}",
                 on_call=lambda *a, **k: {"kind": "dml"})
    rec.wrap(scd2, "apply_increment", "operators.scd2")
    for m in ("rule1_passport", "rule2_contract", "rule3_diff_cities_window",
              "rule4_amount_guessing_window"):
        rec.wrap(fraud_rules, m, "operators.fraud_rules")
    rec.wrap(pipeline.DailyBatch, "run_fraud_rules", "operators.fraud_rules",
             name="pipeline.run_fraud_rules",
             on_result=lambda out: {"mart_rows": sum(
                 v for k, v in out.items() if k.startswith("rep_fraud"))})
    rec.wrap(pipeline.DailyBatch, "run_day", "pipeline")
    rec.wrap(pipeline.DailyBatch, "clear_stg_tables", "pipeline")
    for owner in (pipeline, audit):
        rec.wrap(owner, "log_meta", "audit")
        rec.wrap(owner, "flush_meta", "audit")

    def kind_of(wh, stmt, *a, **k):
        return {"kind": "select" if stmt.lstrip().upper().startswith("SELECT") else "dml"}

    rec.wrap(sql_door, "warehouse_sql", "sql_door", on_call=kind_of)
    workloads.warehouse_sql = sql_door.warehouse_sql
    rec.wrap(ingest, "read_transactions_stream", "streaming.ingest")
    rec.wrap(ingest, "stream_to_warehouse", "streaming.ingest")

    # each micro-batch of a foreachBatch sink is one trace
    from pyspark.sql.streaming.readwriter import DataStreamWriter
    foreach_batch = DataStreamWriter.foreachBatch

    def traced_foreach_batch(self, func):
        def batch(df, batch_id):
            with rec.root("stream.batch", f"batch-{batch_id}", "streaming.ingest"):
                return func(df, batch_id)
        return foreach_batch(self, batch)

    DataStreamWriter.foreachBatch = traced_foreach_batch


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    submit: float
    end: float | None = None
    stages: list = dataclasses.field(default_factory=list)
    first_launch: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclasses.dataclass
class EventLog:
    jobs: dict = dataclasses.field(default_factory=dict)
    # per SQL execution: group id and summed driver-side metrics by name
    exec_group: dict = dataclasses.field(default_factory=dict)
    exec_time: dict = dataclasses.field(default_factory=dict)
    exec_metrics: dict = dataclasses.field(default_factory=dict)
    # file scans: (execution id, scanned location, files read)
    scans: list = dataclasses.field(default_factory=list)


_DRIVER_METRICS = ("number of files read", "number of written files", "written output")


def _plan_accumulators(info: dict, out: dict) -> None:
    """accumulator id -> (metric name, the node's scanned location)."""
    loc = (info.get("metadata") or {}).get("Location", "")
    for m in info.get("metrics", []):
        if m.get("name") in _DRIVER_METRICS:
            out[m["accumulatorId"]] = (m["name"], loc)
    for child in info.get("children", []):
        _plan_accumulators(child, out)


def parse_event_log(lines) -> EventLog:
    """Jobs with their span group, timing and summed task metrics, and
    per SQL execution the file-scan and file-write driver metrics."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    accums: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      int(ex) if ex is not None else None, ev["Submission Time"] / 1000,
                      stages=list(ev.get("Stage IDs", [])))
            log.jobs[job.id] = job
            for s in job.stages:
                stage_job[s] = job.id
            if job.execution is not None and job.group:
                log.exec_group.setdefault(job.execution, job.group)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job:
                job.end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            job = log.jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            launch = info.get("Launch Time", 0) / 1000
            job.first_launch = launch if job.first_launch is None else min(job.first_launch, launch)
            job.tasks += 1
            job.failed_tasks += bool(info.get("Failed") or info.get("Killed"))
            job.run_s += tm.get("Executor Run Time", 0) / 1000
            job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            job.gc_s += tm.get("JVM GC Time", 0) / 1000
            srm = tm.get("Shuffle Read Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            job.shuffle_bytes += (srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                                  + swm.get("Shuffle Bytes Written", 0))
            job.spill_bytes += tm.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            ex = ev["executionId"]
            log.exec_time[ex] = ev.get("time", 0) / 1000
            if ev.get("jobGroupId"):
                log.exec_group[ex] = ev["jobGroupId"]
            _plan_accumulators(ev.get("sparkPlanInfo") or {}, accums.setdefault(ex, {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_accumulators(ev.get("sparkPlanInfo") or {},
                               accums.setdefault(ev["executionId"], {}))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = ev["executionId"]
            names = accums.get(ex, {})
            metrics = log.exec_metrics.setdefault(ex, {})
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id not in names:
                    continue
                name, loc = names[acc_id]
                metrics[name] = metrics.get(name, 0) + value
                if name == "number of files read":
                    log.scans.append((ex, loc, value))
    return log


def read_event_log(directory: str) -> EventLog:
    """Parse every event file under ``directory`` (one application)."""
    lines: list[str] = []
    for dirpath, _dirs, files in sorted(os.walk(directory)):
        for name in sorted(files):
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                lines.extend(f)
    return parse_event_log(lines)


# ---------------------------------------------------------------------------
# Self time and per-layer metrics
# ---------------------------------------------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        out[s.id] = s.dur - _covered([c for c in cover if c[1] > c[0]])
    return out


def _top_level(spans: list[Span], by_id: dict[int, Span]) -> list[Span]:
    """Spans whose parent is in another layer (no double counting of a
    layer's nested calls)."""
    return [s for s in spans if s.parent is None or by_id[s.parent].layer != s.layer]


def per_layer_names() -> list[str]:
    names = ["session.start_s", "seed.load_s",
             "csv.read_s", "csv.rows", "xlsx.parse_s", "xlsx.rows",
             "wh.append_s", "wh.commit_s", "wh.commits", "wh.files_written", "wh.bytes_written",
             "wh.read_s", "wh.files_read", "wh.files_read_frac", "wh.dml_s",
             "wh.commit_conflicts",
             "scd2.s", "scd2.rows_changed",
             "rules.s", "rules.executor_cpu_s", "rules.shuffle_bytes", "rules.spill_bytes",
             "rules.jobs", "rules.mart_rows_written", "rules.new_hit_frac",
             "pipeline.driver_s",
             "audit.flush_s", "audit.files",
             "sql.plan_s", "sql.exec_s", "sql.queue_s",
             "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
             "stream.batches"]
    for short in list(LAYERS.values()) + [BENCH]:
        names.append(f"{short}.self_s")
    for short in LAYERS.values():
        names.extend(f"{short}.spark.{k}" for k in SPARK_STATS)
    names += ["trace.wall_s", "trace.self_sum_error_s", "trace.step_s_p50",
              "trace.overhead_s", "trace.unattributed_jobs"]
    return names


UNITS = {"rows": "count", "commits": "count", "files_written": "count",
         "bytes_written": "bytes", "files_read": "count", "files_read_frac": "ratio",
         "commit_conflicts": "count", "rows_changed": "count", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "jobs": "count", "mart_rows_written": "count",
         "new_hit_frac": "ratio", "files": "count", "batches": "count",
         "tasks": "count", "failed_tasks": "count", "unattributed_jobs": "count"}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_ms"):
        return "ms"
    return UNITS.get(last, "s")


def layer_metrics(rec: Recorder, eventlog_dir: str, wl, measured,
                  baseline_steps: list[float], files_end: dict[str, int]) -> dict:
    """Every per-layer metric (0 where the layer did not run).
    ``measured`` is the traced phase, ``baseline_steps`` the step times of
    the same work timed with the recorder off; ``files_end`` is
    ``table_files`` of the workload's warehouse."""
    lo, hi = rec.window
    spans = rec.spans
    by_id = {s.id: s for s in spans}
    timed_traces = {s.trace for s in spans if s.parent is None and lo <= s.start <= hi}
    timed = [s for s in spans if s.trace in timed_traces]
    top = _top_level(timed, by_id)
    selfs = self_times(spans)
    log = read_event_log(eventlog_dir)
    v: dict[str, float] = {n: 0.0 for n in per_layer_names()}

    def total(pred, xs=top) -> float:
        return sum(s.dur for s in xs if pred(s))

    setup = [s for s in spans if s.end <= lo]
    v["session.start_s"] = total(lambda s: s.layer == "session", setup)
    seeds = [s.dur for s in setup if s.layer == "sources.seed_dml"]
    v["seed.load_s"] = statistics.median(seeds) if seeds else 0.0
    v["csv.read_s"] = total(lambda s: s.layer == "sources.csv_source")
    v["csv.rows"] = sum(s.attrs.get("rows", 0) for s in timed
                        if s.name.endswith("count_and_date_global"))
    v["xlsx.parse_s"] = total(lambda s: s.layer == "sources.xlsx")
    v["xlsx.rows"] = sum(s.attrs.get("rows", 0) for s in timed if s.name.endswith("_records"))
    wh_top = [s for s in top if s.layer == "sources.warehouse"]
    v["wh.append_s"] = total(lambda s: s.attrs.get("kind") == "write", wh_top)
    commits = [s for s in timed if s.name == "wh.commit"]
    v["wh.commit_s"] = sum(s.dur for s in commits)
    v["wh.commits"] = len(commits)
    v["wh.commit_conflicts"] = sum(s.attrs.get("error") == "CommitConflict" for s in commits)
    v["wh.read_s"] = total(lambda s: s.attrs.get("kind") == "read", wh_top)
    v["wh.dml_s"] = total(lambda s: s.attrs.get("kind") == "dml", wh_top)
    v["scd2.s"] = (total(lambda s: s.layer == "operators.scd2")
                   + total(lambda s: s.name == "wh.rewrite" and s.attrs.get("table") == DIM_TERM,
                           timed))
    rules_spans = [s for s in timed if s.name == "pipeline.run_fraud_rules"]
    v["rules.s"] = sum(s.dur for s in rules_spans)
    v["rules.mart_rows_written"] = sum(s.attrs.get("mart_rows", 0) for s in rules_spans)
    audit_flush = [s for s in timed if s.name == "audit.flush_meta"]
    v["audit.flush_s"] = sum(s.dur for s in audit_flush)
    v["audit.files"] = sum(1 for s in audit_flush if any(
        c.name == "wh.append" or c.name == "wh.commit" for c in timed if c.parent == s.id))
    v["sql.plan_s"] = total(lambda s: s.layer == "sql_door" and s.attrs.get("kind") == "select")
    v["sql.exec_s"] = total(lambda s: s.name == "sql.exec", timed)

    # Spark work: each job belongs to the innermost span that submitted it
    span_of_group = {f"span-{s.id}": s for s in spans}
    timed_ids = {s.id for s in timed}
    in_window = [j for j in log.jobs.values() if lo <= j.submit <= hi]
    owned = [(j, span_of_group.get(j.group)) for j in in_window]
    v["trace.unattributed_jobs"] = sum(1 for _j, s in owned if s is None)

    def subtree(root: Span) -> set[int]:
        ids, frontier = {root.id}, [root.id]
        kids: dict[int, list[int]] = {}
        for s in timed:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        while frontier:
            nxt = [c for p in frontier for c in kids.get(p, [])]
            ids.update(nxt)
            frontier = nxt
        return ids

    rules_ids = set().union(*(subtree(s) for s in rules_spans)) if rules_spans else set()
    for j, s in owned:
        if s is None or s.id not in timed_ids:
            continue
        short = LAYERS.get(s.layer)
        if short:
            v[f"{short}.spark.tasks"] += j.tasks
            v[f"{short}.spark.executor_run_s"] += j.run_s
            v[f"{short}.spark.gc_s"] += j.gc_s
            v[f"{short}.spark.failed_tasks"] += j.failed_tasks
        if s.id in rules_ids:
            v["rules.executor_cpu_s"] += j.cpu_s
            v["rules.shuffle_bytes"] += j.shuffle_bytes
            v["rules.spill_bytes"] += j.spill_bytes
            v["rules.jobs"] += 1
        if s.name == "sql.exec" and j.first_launch is not None:
            v["sql.queue_s"] += max(0.0, j.first_launch - j.submit)
    for ex, metrics in log.exec_metrics.items():
        s = span_of_group.get(log.exec_group.get(ex))
        if s is None or s.id not in timed_ids:
            continue
        v["wh.files_read"] += metrics.get("number of files read", 0)
        v["wh.files_written"] += metrics.get("number of written files", 0)
        v["wh.bytes_written"] += metrics.get("written output", 0)
    # each scan against the files its table holds at the end of the run
    scanned = listed = 0
    for ex, loc, n in log.scans:
        s = span_of_group.get(log.exec_group.get(ex))
        table = next((t for t in files_end
                      if re.search(rf"/{re.escape(t)}(?:[/\],]|$)", loc)), None)
        if s is not None and s.id in timed_ids and table:
            scanned += n
            listed += files_end[table]
    v["wh.files_read_frac"] = scanned / listed if listed else 0.0

    # driver time: run_day spans with no Spark job running
    jobs_iv = [(j.submit, j.end) for j in log.jobs.values() if j.end is not None]
    for s in timed:
        if s.name.endswith("run_day"):
            busy = _covered([(max(a, s.start), min(b, s.end)) for a, b in jobs_iv
                             if b > s.start and a < s.end])
            v["pipeline.driver_s"] += s.dur - busy

    for s in timed:
        short = LAYERS.get(s.layer, BENCH if s.layer == BENCH else None)
        if short:
            v[f"{short}.self_s"] += selfs[s.id]
    roots = [s for s in timed if s.parent is None]
    # micro-batch traces run inside an ingest op's wait: not added again
    v["trace.wall_s"] = sum(s.dur for s in roots if s.layer == BENCH)
    v["trace.self_sum_error_s"] = max(
        (abs(sum(selfs[s.id] for s in timed if s.trace == r.trace) - r.dur) for r in roots),
        default=0.0)
    v["trace.step_s_p50"] = statistics.median(measured.steps) if measured.steps else 0.0
    if measured.steps and baseline_steps:
        v["trace.overhead_s"] = v["trace.step_s_p50"] - statistics.median(baseline_steps)
    v.update(wl.layer_counts(measured))
    return {k: {"value": float(v[k]), "unit": unit_of(k)} for k in per_layer_names()}
