"""Audit parity for the failure path and staging clear
(reference comm_funcs.py:28-44): CLEAR_<stg_table> SUCCESS rows per day,
and a status='ERROR: …' META_LOADING row when a stage fails."""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims


def test_clear_stg_rows_logged_per_day(spark, feeds, tmp_path):
    dims = load_seed_dims(spark, feeds.seed_dml)
    batch = DailyBatch(spark, str(tmp_path / "wh"), dims)
    batch.run_day(
        os.path.join(feeds.dir, "transactions_01032021.txt"),
        os.path.join(feeds.dir, "passport_blacklist_01032021.xlsx"),
        os.path.join(feeds.dir, "terminals_01032021.xlsx"),
    )
    meta = batch.wh.read("meta_loading").toPandas()
    clear = meta[meta.table_name.str.startswith("CLEAR_")]
    assert sorted(clear.table_name) == [
        "CLEAR_stg_passport_blacklist",
        "CLEAR_stg_terminals",
        "CLEAR_stg_transactions",
    ]
    assert set(clear.status) == {"SUCCESS"}
    assert list(clear.rows_processed) == [0, 0, 0]


def test_audit_writes_are_buffered_not_per_stage(spark, feeds, tmp_path):
    """meta_loading must accumulate O(flushes-per-day) parquet files, not
    one per stage — the per-stage 1-row append is the classic small-files
    generator at scale (verdict r2 hygiene item)."""
    dims = load_seed_dims(spark, feeds.seed_dml)
    batch = DailyBatch(spark, str(tmp_path / "wh"), dims)
    batch.run_day(
        os.path.join(feeds.dir, "transactions_01032021.txt"),
        os.path.join(feeds.dir, "passport_blacklist_01032021.xlsx"),
        os.path.join(feeds.dir, "terminals_01032021.xlsx"),
    )
    meta_dir = os.path.join(str(tmp_path / "wh"), "meta_loading")
    parts = [f for f in os.listdir(meta_dir) if f.endswith(".parquet")]
    n_rows = batch.wh.read("meta_loading").count()
    assert n_rows >= 10  # the full per-stage audit surface is still there
    assert len(parts) <= 3  # but the day landed in O(1) flushes, not O(stages)


def test_flush_failure_keeps_buffer(spark, tmp_path):
    """If the audit append itself throws, the buffered rows — including
    the ERROR row an autoflush was making durable — must stay buffered
    for the next attempt, not vanish (duplicates on retry are accepted
    over losing the failure trail)."""
    from etl_pipeline_for_detection_banking_fraud_spark import audit
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    audit.log_meta(wh, "t1", None, 5)
    orig_append = wh.append

    def failing(df, table):
        raise IOError("disk full")

    wh.append = failing
    with pytest.raises(IOError):
        audit.log_meta(wh, "t2", None, 1, "ERROR: boom")  # autoflush path
    wh.append = orig_append
    assert len(wh._meta_buffer) == 2  # nothing lost
    audit.flush_meta(wh)
    assert not wh._meta_buffer
    meta = wh.read("meta_loading").toPandas()
    assert set(meta.table_name) == {"t1", "t2"}


def test_failing_stage_writes_error_audit_row(spark, feeds, tmp_path):
    dims = load_seed_dims(spark, feeds.seed_dml)
    batch = DailyBatch(spark, str(tmp_path / "wh"), dims)
    with pytest.raises(FileNotFoundError):
        batch.run_day(
            os.path.join(feeds.dir, "transactions_01032021.txt"),
            str(tmp_path / "missing_blacklist.xlsx"),
            os.path.join(feeds.dir, "terminals_01032021.xlsx"),
        )
    meta = batch.wh.read("meta_loading").toPandas()
    err = meta[meta.status.str.startswith("ERROR:")]
    assert list(err.table_name) == ["stg_passport_blacklist"]
    # the successfully ingested stage before it still has its SUCCESS row
    ok = meta[meta.table_name == "stg_transactions"]
    assert list(ok.status) == ["SUCCESS"]


class TestLoggedStreamBatchesBounded:
    def test_ten_k_markers_bounded_driver_read(self, spark, tmp_path):
        """A stream that committed 10k microbatches: the restart-time
        marker read materializes only the tail window, answers
        membership for every id via the floor, and stays exact at the
        frontier."""
        from etl_pipeline_for_detection_banking_fraud_spark import audit, schemas
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, str(tmp_path / "wh"))
        qid = "q-abc"
        n = 10_000
        rows = [("stream_t", None, 1, f"COMMIT_{qid}_{b}")
                for b in range(n) if b != 9_998]  # one uncommitted tail id
        df = spark.createDataFrame(
            rows, schema=schemas.META_LOADING).coalesce(4)
        wh.append(df, audit.TABLE)

        got = audit.logged_stream_batches(wh, "stream_t", qid)
        # bounded: explicit tail only, never one int per batch
        assert len(got) <= 256 + 1
        assert got.floor == (n - 1) - 256
        # membership: everything committed answers True...
        assert 0 in got and 5_000 in got and 9_997 in got and 9_999 in got
        # ...the uncommitted frontier id answers False...
        assert 9_998 not in got
        # ...and future ids are not committed
        assert n in got is False or n not in got
        # the sink's add() keeps working
        got.add(10_000)
        assert 10_000 in got

    def test_empty_and_scoped_markers(self, spark, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark import audit, schemas
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, str(tmp_path / "wh"))
        assert 0 not in audit.logged_stream_batches(wh, "stream_t", "q")
        rows = [("stream_t", None, 1, "COMMIT_other_3"),
                ("stream_t", None, 1, "COMMIT_BATCH_7"),
                ("other_t", None, 1, "COMMIT_q_5")]
        wh.append(spark.createDataFrame(
            rows, schema=schemas.META_LOADING).coalesce(1), audit.TABLE)
        # query-scoped read ignores other query ids and tables
        got = audit.logged_stream_batches(wh, "stream_t", "q")
        assert 3 not in got and 5 not in got and 7 not in got
        # legacy unscoped format still reads
        legacy = audit.logged_stream_batches(wh, "stream_t", None)
        assert 7 in legacy and 3 not in legacy
