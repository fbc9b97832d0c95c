"""Warehouse compaction: many small append files -> few, same rows."""

from __future__ import annotations

import datetime
import glob
import os
from decimal import Decimal

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse


def test_compact_partitioned_fact(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for batch in range(5):  # 5 appends -> many files per day partition
        rows = [
            (f"t{batch}_{i}", datetime.datetime(2021, 3, 1 + i % 2, 10, 0),
             Decimal("1.00"), "C1", "PAYMENT", "SUCCESS", "T")
            for i in range(4)
        ]
        wh.append_transactions(spark.createDataFrame(rows, schema=schemas.TRANSACTIONS))

    table_dir = str(tmp_path / "wh" / "dwh_fact_transactions")
    files_before = glob.glob(os.path.join(
        table_dir, "transaction_date_day=*", "*.parquet"))
    n_before = wh.read_transactions().count()
    assert len(files_before) >= 10

    wh.compact("dwh_fact_transactions")
    files_after = glob.glob(os.path.join(table_dir, "*_day=*", "*.parquet"))
    assert len(files_after) < len(files_before)
    assert wh.read_transactions().count() == n_before


def test_compact_partitioned_mart(spark, tmp_path):
    """Faithful mode re-inserts historical hits daily, so day N's mart
    append touches up to N event-day partitions — one small file each,
    O(days^2) files over a year. compact() folds each dt partition back
    to one file with identical rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for day in range(1, 4):  # day N re-reports event days 1..N
        rows = [
            (datetime.datetime(2021, 3, ev, 12, 0), f"P{ev}", "F", "7",
             "type", datetime.date(2021, 3, day))
            for ev in range(1, day + 1)
        ]
        wh.append_mart(spark.createDataFrame(rows, schema=schemas.REP_FRAUD))

    table_dir = str(tmp_path / "wh" / "rep_fraud")
    files_before = glob.glob(os.path.join(table_dir, "*_day=*", "*.parquet"))
    rows_before = sorted(map(tuple, wh.read_mart().collect()))
    assert len(files_before) >= 6  # 1+2+3 (one per touched partition per day)

    wh.compact("rep_fraud")
    files_after = glob.glob(os.path.join(table_dir, "*_day=*", "*.parquet"))
    assert len(files_after) == 3  # one per dt partition
    assert sorted(map(tuple, wh.read_mart().collect())) == rows_before

    # partition-scoped compaction needs the manifest; legacy layouts
    # have no safe way to carry untouched partitions through
    import pytest

    with pytest.raises(ValueError, match="commit-log tracked"):
        wh.compact("rep_fraud", where={"event_dt_day": "2021-03-01"})


def test_partition_scoped_compact(spark, tmp_path):
    """compact(where={'dt': ...}) rewrites ONLY the matching hive
    partitions: other partitions' files survive VERBATIM (same
    relpaths, stats carried, so file skipping keeps working), rows are
    identical, and a non-matching filter is a commitless no-op — the
    100 TB maintenance shape, where compacting the whole table per day
    is infeasible."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for day in range(1, 4):
        rows = [
            (datetime.datetime(2021, 3, ev, 12, 0), f"P{ev}", "F", "7",
             "type", datetime.date(2021, 3, day))
            for ev in range(1, day + 1)
        ]
        with wh.transaction():  # commit-log tracked (the where= requirement)
            wh.append_mart(spark.createDataFrame(rows, schema=schemas.REP_FRAUD))

    mf_before = wh._manifest_files("rep_fraud")
    rows_before = sorted(map(tuple, wh.read_mart().collect()))
    d3_before = [r for r in mf_before if r.startswith("event_dt_day=2021-03-03")]
    others_before = sorted(r for r in mf_before
                           if not r.startswith("event_dt_day=2021-03-03"))
    assert len(d3_before) >= 1 and others_before

    seq_before = wh._latest_seq()
    wh.compact("rep_fraud", where={"event_dt_day": "2021-03-03"})
    mf_after = wh._manifest_files("rep_fraud")
    d3_after = [r for r in mf_after if r.startswith("event_dt_day=2021-03-03")]
    others_after = sorted(r for r in mf_after
                          if not r.startswith("event_dt_day=2021-03-03"))
    assert others_after == others_before  # untouched partitions verbatim
    assert d3_after and set(d3_after).isdisjoint(d3_before)  # rewritten
    assert len(d3_after) <= len(d3_before)
    assert sorted(map(tuple, wh.read_mart().collect())) == rows_before
    # stats for the untouched files carried into the new replace entry
    stats = wh._manifest_stats("rep_fraud")
    assert all(r in stats for r in others_after)
    # deleted superseded files only
    table_dir = str(tmp_path / "wh" / "rep_fraud")
    for rel in d3_before:
        assert not os.path.exists(os.path.join(table_dir, rel))
    for rel in others_before:
        assert os.path.exists(os.path.join(table_dir, rel))

    # non-matching filter: no commit, no rewrite
    seq_mid = wh._latest_seq()
    assert seq_mid == seq_before + 1
    wh.compact("rep_fraud", where={"event_dt_day": "2021-03-09"})
    assert wh._latest_seq() == seq_mid

    # a where-key that is NOT a partition key is a caller bug, not a
    # silent no-op (a typo would otherwise never compact anything)
    import pytest
    with pytest.raises(ValueError, match="not hive partition keys"):
        wh.compact("rep_fraud", where={"date": "2021-03-01"})
    assert wh._latest_seq() == seq_mid

    # list form compacts several partitions at once
    wh.compact("rep_fraud", where={"event_dt_day": ["2021-03-01", "2021-03-02"]})
    assert sorted(map(tuple, wh.read_mart().collect())) == rows_before


def test_rewrites_honor_recorded_partition_spec(spark, tmp_path):
    """Maintenance rewrites derive the layout from recorded table
    metadata (commit entries carry partition_by), not a hard-coded
    column-name convention: a kp-partitioned table (the streaming band
    index's layout) keeps its kp= directories through delete_where and
    compact, so prefix-pruned reads stay pruned."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(f"{b}{i:02d}", f"doc{b}{i}", b * 2) for b in "ab" for i in range(3)],
        "key string, doc_id string, kp string",
    )
    with wh.transaction():
        wh.append(df, "band_index", partition_by=["kp"])
    assert wh.table_partition_by("band_index") == ["kp"]

    n = wh.delete_where("band_index", "doc_id = 'docb1'")
    assert n == 1
    tdir = str(tmp_path / "wh" / "band_index")
    dirs = {d for d in os.listdir(tdir) if d.startswith("kp=")}
    assert dirs == {"kp=aa", "kp=bb"}  # layout preserved, not flattened
    assert wh.table_partition_by("band_index") == ["kp"]
    got = {r["doc_id"] for r in wh.read("band_index").collect()}
    assert got == {"doca0", "doca1", "doca2", "docb0", "docb2"}
    # every committed file still lives under a kp= directory
    assert all(r.startswith("kp=") for r in wh._manifest_files("band_index"))

    wh.compact("band_index")
    assert all(r.startswith("kp=") for r in wh._manifest_files("band_index"))
    assert wh.table_partition_by("band_index") == ["kp"]
    # prefix-pruned read still skips the other partition's files
    pruned = wh.read("band_index", prune={"kp": ("aa", "aa")})
    assert {r["doc_id"] for r in pruned.collect()} >= {"doca0", "doca1"}


def test_partition_spec_recovered_for_legacy_entries(spark, tmp_path):
    """Tables committed before partition_by was recorded in entries:
    the spec is recovered from the committed relpaths' k=v directories,
    so their rewrites keep the layout too."""
    import json
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "x", "2021-03-01"), (2, "y", "2021-03-02")],
        "id long, v string, dt string",
    )
    with wh.transaction():
        wh.append(df, "t", partition_by=["dt"])
    # simulate a pre-metadata entry: strip the recorded spec
    mdir = wh._manifest_dir()
    p1 = os.path.join(mdir, "000000001.json")
    e = json.load(open(p1))
    del e["partition_by"]
    json.dump(e, open(p1, "w"))
    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    assert wh2.table_partition_by("t") == ["dt"]
    wh2.compact("t")
    assert all(r.startswith("dt=") for r in wh2._manifest_files("t"))


def test_flat_table_with_dt_column_stays_flat(spark, tmp_path):
    """A table appended WITHOUT hive partitioning keeps its flat layout
    through rewrites even when a 'dt' column exists (previously the
    rewrite would silently re-layout it dt-partitioned)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "2021-03-01"), (2, "2021-03-02")], "id long, dt string")
    with wh.transaction():
        wh.append(df, "flat")
    assert wh.table_partition_by("flat") == []
    wh.compact("flat")
    assert not any("=" in r for r in wh._manifest_files("flat"))
    assert {r["id"] for r in wh.read("flat").collect()} == {1, 2}
