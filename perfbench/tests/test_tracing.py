"""Self-time arithmetic, the span recorder, and the event-log parser."""

import os
import threading

import pytest

import tracing
from tracing import Span

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_covered_merges_overlaps():
    assert tracing._covered([]) == 0
    assert tracing._covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._covered([(0, 10), (2, 3)]) == 10


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span(1, "day", "bench", "d", None, 0.0, 10.0),
        Span(2, "run_day", "pipeline", "d", 1, 0.5, 9.5),
        Span(3, "read", "sources.csv_source", "d", 2, 1.0, 2.0),
        Span(4, "rules", "operators.fraud_rules", "d", 2, 3.0, 8.0),
        Span(5, "append", "sources.warehouse", "d", 4, 4.0, 7.0),
        # overlapping children are covered once
        Span(6, "a", "audit", "d", 5, 4.5, 5.5),
        Span(7, "b", "audit", "d", 5, 5.0, 6.0),
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(9.0 - 1.0 - 5.0)
    assert st[4] == pytest.approx(5.0 - 3.0)
    assert st[5] == pytest.approx(3.0 - 1.5)
    # in one thread siblings never overlap, and then the self times of a
    # trace add up to its wall time
    sequential = tracing.self_times(spans[:-1])
    assert sum(sequential.values()) == pytest.approx(10.0)


def test_recorder_nests_spans_per_thread_and_shares_trace_ids():
    rec = tracing.Recorder()

    def op(tid):
        with rec.root("op", tid):
            with rec.span("outer", "sql_door"):
                with rec.span("inner", "sources.warehouse"):
                    pass

    threads = [threading.Thread(target=op, args=(f"t{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(10)
    assert not any(t.is_alive() for t in threads)
    by_id = {s.id: s for s in rec.spans}
    assert len(rec.spans) == 12
    for s in rec.spans:
        if s.name == "op":
            assert s.parent is None
        else:
            parent = by_id[s.parent]
            assert parent.trace == s.trace
            assert parent.start <= s.start <= s.end <= parent.end
    assert len({s.trace for s in rec.spans}) == 4


def test_wrap_records_attrs_and_reraises():
    rec = tracing.Recorder()

    class Box:
        def read(self, table):
            if table == "missing":
                raise KeyError(table)
            return [1, 2, 3]

    rec.wrap(Box, "read", "sources.warehouse", on_call=lambda self, table: {"table": table},
             on_result=lambda out: {"rows": len(out)})
    assert Box().read("t") == [1, 2, 3]
    with pytest.raises(KeyError):
        Box().read("missing")
    ok, failed = rec.spans
    assert ok.attrs == {"table": "t", "rows": 3}
    assert failed.attrs == {"table": "missing", "error": "KeyError"}
    # switched off, wrappers call straight through and spans are no-ops
    rec.enabled = False
    assert Box().read("t") == [1, 2, 3]
    with rec.root("op", "t1"):
        with rec.span("inner", "audit") as sp:
            assert sp is None
    assert rec.spans == [ok, failed]


def test_event_log_parser_on_recorded_log():
    log = tracing.read_event_log(os.path.join(DATA, "eventlog"))
    groups = {j.group for j in log.jobs.values()}
    assert {"span-1", "span-2"} <= groups
    write_jobs = [j for j in log.jobs.values() if j.group == "span-1"]
    assert write_jobs and all(j.end is not None and j.end >= j.submit for j in write_jobs)
    assert sum(j.tasks for j in write_jobs) >= 1
    assert all(j.first_launch >= j.submit for j in log.jobs.values() if j.first_launch)
    written = sum(m.get("number of written files", 0) for ex, m in log.exec_metrics.items()
                  if log.exec_group.get(ex) == "span-1")
    assert written == 2
    scans = [(ex, loc, n) for ex, loc, n in log.scans if log.exec_group.get(ex) == "span-2"]
    assert scans and sum(n for _e, _l, n in scans) == 2
    assert all("/data/tiny" in loc for _e, loc, _n in scans)
