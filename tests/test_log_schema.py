"""Reads plan from the commit log: every tracked table's data-file schema
is recorded in the log when its files are written, so building a read
(``read``, ``read_where``, ``read_at``, a ``warehouse_sql`` SELECT,
DESCRIBE) submits no Spark job, and the planned schema is exactly the one
Spark infers from the files' footers."""

import glob
import json
import os
import time
import uuid

import pytest

from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
    Warehouse,
)
from etl_pipeline_for_detection_banking_fraud_spark.sql_door import (
    warehouse_sql,
)


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, counted by job group.
    The status tracker is fed asynchronously by the listener bus, so a
    sentinel job in a second group is awaited first: once its start is
    visible, every job submitted before it is too."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "planning probe")
    try:
        out = fn()
    finally:
        sentinel = f"sentinel-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(sentinel, "listener-bus barrier")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _files(wh, table, at=None):
    p = wh._path(table)
    return [os.path.join(p, r) for r in wh._manifest_files(table, at=at)]


def _footer_schema(spark, wh, table, at=None):
    """What Spark infers from the table's parquet footers (the read the
    log-planned scan replaces)."""
    return spark.read.option("basePath", wh._path(table)).parquet(
        *_files(wh, table, at)).schema


def _assert_planned_from_log(spark, wh, table, where=None):
    df, n = _jobs(spark, lambda: wh.read(table))
    assert n == 0, f"wh.read({table!r}) submitted {n} job(s)"
    assert df.schema == _footer_schema(spark, wh, table)
    if where is not None:
        _, n = _jobs(spark, lambda: wh.read_where(table, where))
        assert n == 0, f"read_where submitted {n} job(s)"
    _, n = _jobs(spark, lambda: warehouse_sql(wh, f"SELECT * FROM {table}"))
    assert n == 0, f"SELECT planning submitted {n} job(s)"
    desc, n = _jobs(spark, lambda: warehouse_sql(wh, f"DESCRIBE TABLE {table}"))
    assert n == 0, f"DESCRIBE submitted {n} job(s)"
    assert [r["col_name"] for r in desc.collect()] == df.columns
    return df


def _wh(tmp_path, spark, **kw):
    return Warehouse(spark, str(tmp_path / f"wh-{uuid.uuid4().hex[:6]}"), **kw)


def test_flat_table(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    for i in range(2):
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(i, f"n{i}", float(i))], "id long, name string, v double"),
                "t")
    df = _assert_planned_from_log(spark, wh, "t", where="id = 1")
    assert sorted(r["id"] for r in df.collect()) == [0, 1]


def test_identity_partitioned_table(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    for d in ("2021-03-01", "2021-03-02"):
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(1, d, 2.5)], "id int, dt string, amt double"),
                "ev", partition_by=["dt"])
    df = _assert_planned_from_log(spark, wh, "ev", where="dt = '2021-03-02'")
    # the path key keeps the type partition discovery gives it
    assert dict(df.dtypes)["dt"] == "date"


def test_hidden_days_partitioned_fact(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "card string, amount double")
            .selectExpr("card", "amount",
                        "timestamp'2021-03-01 10:00:00' + "
                        "make_interval(0, 0, 0, cast(amount as int)) "
                        "AS transaction_date"),
            "fact", partition_by=["days(transaction_date)"])
    df = _assert_planned_from_log(
        spark, wh, "fact",
        where="transaction_date >= timestamp'2021-03-02 00:00:00'")
    # the derived path key surfaces on an undeclared read, as before
    assert "transaction_date_day" in df.columns


def test_table_with_deletion_vectors(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [(k, float(k)) for k in range(4)], "k long, v double")
            .coalesce(1), "t")
    assert wh.delete_where("t", "k = 1", mode="dv") == 1
    assert wh._dv_state("t")
    df = _assert_planned_from_log(spark, wh, "t", where="k > 0")
    assert sorted(r["k"] for r in df.collect()) == [0, 2, 3]


def test_table_after_compact(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    for i in range(3):
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(i, "x")], "id int, tag string"), "t")
    wh.compact("t")
    assert wh._load_entry(wh._latest_seq())["op"] == "replace"
    df = _assert_planned_from_log(spark, wh, "t")
    assert df.count() == 3


def test_checkpointed_log(spark, tmp_path):
    wh = _wh(tmp_path, spark, checkpoint_interval=2)
    for i in range(5):
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(i, i * 1.5)], "id int, v double"), "t")
    ckpts = glob.glob(os.path.join(wh._manifest_dir(), "*.checkpoint.json"))
    assert ckpts
    with open(sorted(ckpts)[-1]) as f:
        assert "t" in json.load(f)["file_schema"]
    cold = Warehouse(spark, wh.root)  # replays from the checkpoint
    df = _assert_planned_from_log(spark, cold, "t")
    assert df.count() == 5


def test_read_at_below_a_wider_append(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    narrow_seq = wh._latest_seq()
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, score double"), "t")
    old, n = _jobs(spark, lambda: wh.read_at("t", narrow_seq))
    assert n == 0
    assert old.schema == _footer_schema(spark, wh, "t", at=narrow_seq)
    assert old.columns == ["id", "v"]
    merged, n = _jobs(spark, lambda: wh.read("t", merge_schema=True))
    assert n == 0
    assert merged.columns == ["id", "v", "score"]
    assert {r["id"]: r["score"] for r in merged.collect()} == {1: None, 2: 9.5}


def test_same_shape_appends_log_the_schema_once(spark, tmp_path):
    """Log growth guard: the schema rides only the commit where the
    table's file schema first appears or changes."""
    wh = _wh(tmp_path, spark)

    def carriers():
        out = []
        for fn in sorted(os.listdir(wh._manifest_dir())):
            if fn.endswith(".json") and fn[:-5].isdigit():
                with open(os.path.join(wh._manifest_dir(), fn)) as f:
                    if "t" in json.load(f).get("file_schema", {}):
                        out.append(fn)
        return out

    for i in range(4):
        with wh.transaction():
            wh.append(spark.createDataFrame([(i, "a")], "id int, v string"),
                      "t")
    assert len(carriers()) == 1
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [(9, "b", 1.0)], "id int, v string, extra double"), "t")
    assert len(carriers()) == 2
    assert set(wh.read("t", merge_schema=True).columns) == {"id", "v", "extra"}


def test_struct_columns_come_from_the_log(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [(1, (5, "x"))], "id int, meta struct<score:int, tag:string>"),
            "t")
    cols, n = _jobs(spark, lambda: wh._struct_cols("t"))
    assert (cols, n) == ({"meta"}, 0)


def test_unreadable_table_error_propagates(spark, tmp_path, monkeypatch):
    """A warehouse read failure surfaces as itself, not as a later
    TABLE_OR_VIEW_NOT_FOUND from the SQL analyzer."""
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame([(1,)], "id int"), "torn_t")

    def _boom(self, table, *a, **kw):
        raise RuntimeError(f"commit log inconsistent under {table}")

    monkeypatch.setattr(Warehouse, "read", _boom)
    with pytest.raises(RuntimeError, match="commit log inconsistent"):
        warehouse_sql(wh, "SELECT * FROM torn_t")


def _strip_file_schema(wh):
    """Rewrite every commit entry without its ``file_schema`` channel:
    the log as a release older than the channel wrote it."""
    d = wh._manifest_dir()
    for fn in os.listdir(d):
        if fn.endswith(".json") and fn[:-5].isdigit():
            path = os.path.join(d, fn)
            with open(path) as f:
                entry = json.load(f)
            entry.pop("file_schema", None)
            with open(path, "w") as f:
                json.dump(entry, f)


def test_restore_to_a_snapshot_older_than_the_channel(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    old_seq = wh._latest_seq()
    _strip_file_schema(wh)
    wh = Warehouse(spark, wh.root)
    # the first commit on the old log records the footers' schemas
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, score double"), "t")
    assert wh.read("t").columns == ["id", "v", "score"]
    old, n = _jobs(spark, lambda: wh.read_at("t", old_seq))
    assert n == 0
    assert old.schema == _footer_schema(spark, wh, "t", at=old_seq)
    wh.restore("t", old_seq)
    df = _assert_planned_from_log(spark, wh, "t")
    assert df.columns == ["id", "v"]
    assert [tuple(r) for r in df.collect()] == [(1, "a")]


def test_unmergeable_recorded_types_raise(spark, tmp_path):
    """No single schema reads files whose column types disagree: a plain
    read raises like a ``merge_schema`` one instead of planning against
    whichever schema happens to come first or last."""
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame([(1,)], "id int"), "t")
    with wh.transaction():
        wh.append(spark.createDataFrame([("x",)], "id string"), "t")
    for merge in (False, True):
        with pytest.raises(ValueError, match="cannot merge"):
            wh.read("t", merge_schema=merge)


def test_missing_dv_sidecar_is_named(spark, tmp_path):
    wh = _wh(tmp_path, spark)
    with wh.transaction():
        wh.append(spark.createDataFrame(
            [(k,) for k in range(3)], "k long").coalesce(1), "t")
    wh.delete_where("t", "k = 1", mode="dv")
    (sidecar,) = wh._dv_state("t")
    os.remove(os.path.join(wh._path("t"), sidecar))
    with pytest.raises(FileNotFoundError, match=os.path.basename(sidecar)):
        wh.read("t")
