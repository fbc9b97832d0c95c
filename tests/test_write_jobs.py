"""Jobs-per-statement guard for the analyst write path, on a small
generated warehouse: a MERGE, a DELETE and an UPDATE each run one
tagged pass and one write, and one streamed micro-batch commits its
facts, audit rows and COMMIT marker as one commit-log entry in at most
two Spark jobs. Affected counts, the MERGE cardinality guard, and the
``mode="dv"`` and ``cdf=True`` results are checked beside the counts."""

import datetime
import os
import time
import uuid

import pytest

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.functions.localframe import (
    local_rows_df,
)
from etl_pipeline_for_detection_banking_fraud_spark.sources import warehouse
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
    Transaction,
    Warehouse,
)
from etl_pipeline_for_detection_banking_fraud_spark.sql_door import (
    warehouse_sql,
)
from etl_pipeline_for_detection_banking_fraud_spark.streaming import ingest

DAY = datetime.date(2021, 3, 1)
TX_HEADER = ("transaction_id;transaction_date;amount;card_num;oper_type;"
             "oper_result;terminal")


@pytest.fixture(params=["one_slice", "partitioned"])
def dml_path(request, monkeypatch):
    """Both DML plan shapes: candidate sets small enough to read as one
    slice, and (with the threshold at 0) Spark's own partitioning. The
    job budgets are the one-slice shape's."""
    if request.param == "partitioned":
        monkeypatch.setattr(warehouse, "_ONE_SLICE_ROWS", 0)
    return request.param


def _job_ids(spark) -> set:
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return {seq.apply(i).jobId() for i in range(seq.size())}


def _barrier(spark) -> int:
    """Run a job in its own group and wait until the status store shows
    it: every job submitted before it is then visible too. Returns its
    id."""
    sc = spark.sparkContext
    group = f"barrier-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "listener-bus barrier")
    spark.range(1).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    tracker = sc.statusTracker()
    while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
        time.sleep(0.05)
    return tracker.getJobIdsForGroup(group)[0]


def _jobs(spark, fn):
    """``(fn(), Spark jobs submitted while fn ran)`` from any thread,
    the streaming query's included."""
    before = _job_ids(spark) | {_barrier(spark)}
    out = fn()
    after = _barrier(spark)
    return out, len(_job_ids(spark) - before - {after})


def _blacklist(spark, tmp_path) -> Warehouse:
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with wh.transaction():
        for prefix in ("p", "q"):
            wh.append(local_rows_df(
                spark, [(DAY, f"{prefix}{i:04d}") for i in range(200)],
                schemas.PASSPORT_BLACKLIST), "bl")
    return wh


def _mart(spark, wh: Warehouse) -> None:
    rows = [(datetime.datetime(2021, 3, 1, h, m), f"pass{h % 3}", "fio",
             "+7 1", "passport", DAY)
            for h in range(24) for m in (0, 30)]
    with wh.transaction():
        wh.append(local_rows_df(spark, rows, schemas.REP_FRAUD), "mart")


MERGE_SQL = """
    MERGE INTO bl USING src s ON bl.passport = s.passport
    WHEN MATCHED THEN UPDATE SET `date` = s.`date`
    WHEN NOT MATCHED THEN INSERT (`date`, passport) VALUES (s.`date`, s.passport)"""


def _source(spark, rows):
    local_rows_df(spark, rows, schemas.PASSPORT_BLACKLIST) \
        .createOrReplaceTempView("src")


def test_merge_two_matched_three_inserted_in_six_jobs(spark, tmp_path,
                                                     dml_path):
    wh = _blacklist(spark, tmp_path)
    later = DAY + datetime.timedelta(days=1)
    _source(spark, [(later, "p0001"), (later, "q0007")]
            + [(later, f"new{k}") for k in range(3)])
    res, n = _jobs(spark, lambda: warehouse_sql(wh, MERGE_SQL))
    assert res == {"updated": 2, "deleted": 0, "inserted": 3}
    if dml_path == "one_slice":
        assert n <= 6, f"MERGE ran {n} Spark jobs"
    got = {r["passport"]: r["date"] for r in wh.read("bl").collect()}
    assert len(got) == 403
    assert got["p0001"] == got["q0007"] == got["new2"] == later
    assert got["p0002"] == DAY


def test_merge_subquery_source_keeps_its_partitioning(spark, tmp_path):
    """A source whose plan scans a multi-file table is not narrowed to
    one task for the join: only a source Spark estimates as small is
    read as one slice. A 5-row local source still is."""
    wh = _blacklist(spark, tmp_path)
    later = DAY + datetime.timedelta(days=1)
    with wh.transaction():
        for j in range(4):  # 4 files of ~100 KB: one scan task each
            wh.append(local_rows_df(
                spark, [(later, f"p{j * 50 + i:04d}", os.urandom(1024).hex())
                        for i in range(50)],
                "`date` date, passport string, pad string"), "feed")

    def collect_tasks(stmt):
        """(result, most tasks in one job the statement's collects
        ran)"""
        seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        before = {seq.apply(i).jobId() for i in range(seq.size())}
        before.add(_barrier(spark))
        res = warehouse_sql(wh, stmt)
        after = _barrier(spark)
        seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        jobs = [seq.apply(i) for i in range(seq.size())]
        return res, max(j.numTasks() for j in jobs
                        if j.jobId() not in before | {after}
                        and j.name().startswith("collect at"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024))
    try:
        res, tasks = collect_tasks("""
            MERGE INTO bl USING (SELECT `date`, passport FROM feed
                                 WHERE passport LIKE 'p000%') s
            ON bl.passport = s.passport
            WHEN MATCHED THEN UPDATE SET `date` = s.`date`""")
        assert res == {"updated": 10, "deleted": 0, "inserted": 0}
        assert tasks >= 4, f"the join pass ran {tasks} task(s)"
        _source(spark, [(later, "q0001")])
        res, tasks = collect_tasks(MERGE_SQL)
        assert res == {"updated": 1, "deleted": 0, "inserted": 0}
        assert tasks == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    got = {r["passport"]: r["date"] for r in wh.read("bl").collect()}
    assert sum(d == later for d in got.values()) == 11


def test_merge_scans_a_python_rdd_source_once(spark, tmp_path):
    """A source Spark cannot size (a Python RDD) is cached at its first
    scan, the key bounds: the tagged pass and the write read it back."""
    wh = _blacklist(spark, tmp_path)
    later = DAY + datetime.timedelta(days=1)
    rows = [(later, "p0001"), (later, "q0007"), (later, "new0")]
    scans = spark.sparkContext.accumulator(0)

    def counted(r):
        scans.add(1)
        return r

    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2).map(counted),
        schemas.PASSPORT_BLACKLIST).createOrReplaceTempView("src")
    res = warehouse_sql(wh, MERGE_SQL)
    assert res == {"updated": 2, "deleted": 0, "inserted": 1}
    assert scans.value == len(rows)


def test_merge_cardinality_violation_raises(spark, tmp_path, dml_path):
    wh = _blacklist(spark, tmp_path)
    _source(spark, [(DAY, "p0001"), (DAY, "p0001"), (DAY, "z")])
    with pytest.raises(ValueError, match="cardinality violation"):
        warehouse_sql(wh, MERGE_SQL)
    assert wh.read("bl").count() == 400  # nothing committed


def test_delete_and_update_in_three_jobs_each(spark, tmp_path, dml_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _mart(spark, wh)
    got, n = _jobs(spark, lambda: warehouse_sql(
        wh, "DELETE FROM mart WHERE passport = 'pass1'"))
    assert got == 16
    if dml_path == "one_slice":
        assert n <= 3, f"DELETE ran {n} Spark jobs"
    got, n = _jobs(spark, lambda: warehouse_sql(
        wh, "UPDATE mart SET phone = '+7 0' WHERE passport = 'pass2'"))
    assert got == 16
    if dml_path == "one_slice":
        assert n <= 3, f"UPDATE ran {n} Spark jobs"
    rows = wh.read("mart").collect()
    assert len(rows) == 32
    assert {r["phone"] for r in rows if r["passport"] == "pass2"} == {"+7 0"}
    assert {r["phone"] for r in rows if r["passport"] == "pass0"} == {"+7 1"}
    # a statement that matches nothing commits nothing
    seq = wh._latest_seq()
    assert warehouse_sql(wh, "DELETE FROM mart WHERE passport = 'none'") == 0
    assert wh._latest_seq() == seq


def test_dv_mode_results(spark, tmp_path, dml_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _mart(spark, wh)
    assert wh.delete_where("mart", "passport = 'pass1'", mode="dv") == 16
    assert wh.update_where("mart", "passport = 'pass2'",
                           {"phone": "'+7 0'"}, mode="dv") == 16
    assert wh._dv_state("mart")
    rows = wh.read("mart").collect()
    assert len(rows) == 32
    assert {r["phone"] for r in rows if r["passport"] == "pass2"} == {"+7 0"}
    # an already-deleted row cannot be deleted twice
    assert wh.delete_where("mart", "passport = 'pass1'", mode="dv") == 0

    bl = _blacklist(spark, tmp_path / "b")
    later = DAY + datetime.timedelta(days=1)
    res = bl.merge_when(
        "bl", local_rows_df(spark, [(later, "p0001"), (later, "n1")],
                            schemas.PASSPORT_BLACKLIST), ["passport"],
        matched=[{"when": "matched", "action": "update",
                  "set": {"date": "source.date"}, "condition": None}],
        not_matched=[{"when": "not_matched", "action": "insert",
                      "values": None, "condition": None}],
        mode="dv")
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    got = {r["passport"]: r["date"] for r in bl.read("bl").collect()}
    assert len(got) == 401 and got["p0001"] == got["n1"] == later


def test_cdf_results(spark, tmp_path, dml_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _mart(spark, wh)
    assert wh.delete_where("mart", "passport = 'pass1'", cdf=True) == 16
    assert wh.update_where("mart", "passport = 'pass2'",
                           {"phone": "'+7 0'"}, cdf=True) == 16
    feed = wh.read("mart__cdf").groupBy("change_type").count().collect()
    assert {r[0]: r[1] for r in feed} == {
        "delete": 16, "update_preimage": 16, "update_postimage": 16}
    post = wh.read("mart__cdf").where("change_type = 'update_postimage'")
    assert {r["phone"] for r in post.collect()} == {"+7 0"}


def _drop(inbox, name: str, ids: list[str]) -> None:
    lines = [TX_HEADER] + [
        f"{i};2021-03-01 10:{k % 60:02d}:00;10,50;card{k % 3};PAYMENT;"
        f"SUCCESS;T{k % 2}" for k, i in enumerate(ids)]
    tmp = os.path.join(str(inbox), f".{name}")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(str(inbox), name))


def test_stream_micro_batch_is_one_commit_in_two_jobs(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _drop(inbox, "a.txt", [f"a{k}" for k in range(60)])
    tx = ingest.read_transactions_stream(spark, str(inbox) + "/*.txt")
    q = ingest.stream_to_warehouse(tx, Warehouse(spark, wh.root),
                                   str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()  # the first batch reads the marker set
        entries = len(wh.snapshots())
        _drop(inbox, "b.txt", [f"b{k}" for k in range(60)])
        _, n = _jobs(spark, q.processAllAvailable)
    finally:
        q.stop()
    assert n <= 2, f"a micro-batch ran {n} Spark jobs"
    assert len(wh.snapshots()) == entries + 1
    assert wh.read_transactions().count() == 120
    meta = wh.read("meta_loading").collect()
    assert sorted((r["event_dt"], r["rows_processed"]) for r in meta
                  if not r["status"].startswith("COMMIT_")) == \
        [(DAY, 60), (DAY, 60)]
    assert sum(r["status"].startswith("COMMIT_") for r in meta) == 2


def test_sink_day_counts_without_recorded_stats(spark, tmp_path,
                                                monkeypatch):
    """A fact file staged without footer stats (their read is
    best-effort) still counts: its row count comes from the footer."""
    import decimal

    monkeypatch.setattr(warehouse, "_file_stats", lambda path: {})
    day2 = datetime.date(2021, 3, 2)
    rows = [(f"t{k}", datetime.datetime(2021, 3, 1 + k % 2, 10, k % 60),
             decimal.Decimal("10.50"), "card1", "PAYMENT", "SUCCESS", "T1")
            for k in range(7)]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with wh.transaction() as txn:
        wh.append_transactions(
            local_rows_df(spark, rows, schemas.TRANSACTIONS),
            "dwh_fact_transactions")
        assert txn.stats.get("dwh_fact_transactions", {}) == {}
        counts = ingest._staged_day_rows(txn, "dwh_fact_transactions")
    assert counts == {DAY: 4, day2: 3}


def test_stream_crash_of_the_fact_commit_replays_exactly_once(
        spark, tmp_path, monkeypatch):
    """Crash the commit that carries the batch's fact files, then
    restart from the checkpoint: the rows land exactly once, with
    exactly one COMMIT marker. A marker committed ahead of the facts
    would make the replay skip the batch and lose its rows."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    ids = [f"t{k}" for k in range(40)]
    _drop(inbox, "a.txt", ids)
    root = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    real_commit = Transaction.commit
    crashed = {}

    def crashing_commit(self):
        if not crashed and "dwh_fact_transactions" in self.pending:
            crashed["yes"] = True
            self._finish()
            raise RuntimeError("simulated kill before manifest link")
        return real_commit(self)

    monkeypatch.setattr(Transaction, "commit", crashing_commit)
    tx = ingest.read_transactions_stream(spark, str(inbox) + "/*.txt")
    q = ingest.stream_to_warehouse(tx, Warehouse(spark, root), ckpt)
    with pytest.raises(Exception, match="simulated kill"):
        q.processAllAvailable()
    q.stop()
    assert crashed

    tx2 = ingest.read_transactions_stream(spark, str(inbox) + "/*.txt")
    q2 = ingest.stream_to_warehouse(tx2, Warehouse(spark, root), ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    wh = Warehouse(spark, root)
    got = [r["transaction_id"] for r in
           wh.read_transactions().select("transaction_id").collect()]
    assert sorted(got) == sorted(ids)
    markers = wh.read("meta_loading").where("status LIKE 'COMMIT_%'")
    assert markers.count() == 1
