"""Streaming ingest smoke tests: file source -> memory sink, driven
synchronously with processAllAvailable."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

import datetime
import os
import shutil

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.streaming import ingest


def _start(df, name):
    return (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )


def test_stream_ingest_and_archive(spark, feeds, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    shutil.copy(os.path.join(feeds.dir, "transactions_01032021.txt"), inbox)
    archive = str(tmp_path / "archive")

    tx = ingest.read_transactions_stream(spark, str(inbox), archive_dir=archive)
    assert tx.isStreaming
    q = _start(tx, "tx_stream_smoke")
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT count(*) n FROM tx_stream_smoke").first()
        assert out.n == len(feeds.days[0].tx)
        types = dict(spark.sql("SELECT * FROM tx_stream_smoke").dtypes)
        assert types["amount"] == "decimal(10,2)"
        assert types["transaction_date"] == "timestamp"
    finally:
        q.stop()


def test_stream_daily_counts(spark, feeds, tmp_path):
    inbox = tmp_path / "agg_in"
    inbox.mkdir()
    shutil.copy(os.path.join(feeds.dir, "transactions_01032021.txt"), inbox)
    tx = ingest.read_transactions_stream(spark, str(inbox))
    agg = ingest.daily_counts(tx)
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("daily_counts_smoke").start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT tx_date, oper_result, n_tx FROM daily_counts_smoke ORDER BY oper_result"
        ).collect()
        assert sum(r.n_tx for r in rows) == len(feeds.days[0].tx)
        assert {r.oper_result for r in rows} == {"SUCCESS", "REJECT"}
        assert all(r.tx_date == datetime.date(2021, 3, 1) for r in rows)
    finally:
        q.stop()


def test_stream_pair_join(spark, tmp_path):
    inbox = tmp_path / "pairs_in"
    inbox.mkdir()
    rows = [
        "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal",
        "1;2021-03-01 10:00:00;10,00;C1;PAYMENT;SUCCESS;T_A",
        "2;2021-03-01 10:30:00;20,00;C1;PAYMENT;SUCCESS;T_B",  # diff city < 1h -> hit
        "3;2021-03-01 12:30:00;30,00;C1;PAYMENT;SUCCESS;T_A",  # > 1h from #2 -> no hit
    ]
    (inbox / "day1.csv").write_text("\n".join(rows))

    terminals = spark.createDataFrame(
        [("T_A", "POS", "CityA", "a"), ("T_B", "POS", "CityB", "b")],
        schema=schemas.TERMINALS,
    )
    tx = ingest.read_transactions_stream(spark, str(inbox))
    hits = ingest.card_pairs_diff_city_stream(tx, terminals)
    q = _start(hits, "pair_hits")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT card_num, event_dt FROM pair_hits").collect()
        assert [(r.card_num, r.event_dt) for r in got] == [
            ("C1", datetime.datetime(2021, 3, 1, 10, 30))
        ]
    finally:
        q.stop()


def test_stream_to_warehouse_fact_and_audit(spark, feeds, tmp_path):
    """Streamed ingest lands in the same hive-partitioned fact layout as
    the batch path (partition-pruned reads work unchanged) and leaves
    one audit row per (microbatch, day)."""
    import datetime

    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

    inbox = tmp_path / "wh_sink_in"
    inbox.mkdir()
    for d in ("01032021", "02032021", "03032021"):
        shutil.copy(os.path.join(feeds.dir, f"transactions_{d}.txt"), inbox)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    tx = ingest.read_transactions_stream(spark, str(inbox))
    q = ingest.stream_to_warehouse(tx, wh, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    day_rows_written = [len(feed.tx) for feed in feeds.days]
    fact = wh.read_transactions()
    assert fact.count() == sum(day_rows_written)
    day2 = wh.read_transactions(
        since=datetime.date(2021, 3, 2), until=datetime.date(2021, 3, 2)
    )
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert day2.count() == day_rows_written[1]

    meta = wh.read("meta_loading").toPandas()
    stream_rows = meta[meta.table_name == "stream_dwh_fact_transactions"]
    day_rows = stream_rows[stream_rows.status == "SUCCESS"]
    assert sorted(day_rows.rows_processed) == sorted(day_rows_written)
    commits = stream_rows[stream_rows.status.str.startswith("COMMIT_")]
    assert len(commits) == 3  # one marker per microbatch, scoped to the query id


def test_stream_dedup_within_watermark(spark, feeds, tmp_path):
    """An upstream that re-delivers the same rows (two copies of the
    day-1 feed under different file names) must land each
    transaction_id once after dedup_transactions_stream."""
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

    inbox = tmp_path / "dedup_in"
    inbox.mkdir()
    src = os.path.join(feeds.dir, "transactions_01032021.txt")
    shutil.copy(src, inbox / "a.txt")
    shutil.copy(src, inbox / "b.txt")
    wh = Warehouse(spark, str(tmp_path / "wh"))

    tx = ingest.dedup_transactions_stream(
        ingest.read_transactions_stream(spark, str(inbox))
    )
    q = ingest.stream_to_warehouse(tx, wh, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    fact = wh.read_transactions()
    n_day1 = len(feeds.days[0].tx)
    assert fact.count() == n_day1  # not 2 x n_day1
    assert fact.select("transaction_id").distinct().count() == n_day1


def test_stream_to_warehouse_same_query_replay_is_idempotent(spark, feeds, tmp_path):
    """A replayed microbatch under the SAME query identity (recovery
    after the checkpoint lost its offsets but kept its metadata — the
    batch ids come back identical) must not double-append fact rows:
    the sink skips batch_ids already carrying a COMMIT_<query_id>
    marker in the audit table."""
    import json

    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

    inbox = tmp_path / "wh_replay_in"
    inbox.mkdir()
    for d in ("01032021", "02032021"):
        shutil.copy(os.path.join(feeds.dir, f"transactions_{d}.txt"), inbox)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    tx = ingest.read_transactions_stream(spark, str(inbox))
    q = ingest.stream_to_warehouse(tx, wh, str(tmp_path / "ckpt1"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = wh.read_transactions().count()
    assert n_first == len(feeds.days[0].tx) + len(feeds.days[1].tx)

    # Simulate offsets-lost-metadata-kept recovery: a fresh checkpoint
    # dir pre-seeded with the SAME query id re-delivers batch_ids 0..1
    # under the original identity. The marker set must skip both.
    qid = json.load(open(tmp_path / "ckpt1" / "metadata"))["id"]
    ckpt2 = tmp_path / "ckpt2"
    ckpt2.mkdir()
    (ckpt2 / "metadata").write_text(json.dumps({"id": qid}))
    tx2 = ingest.read_transactions_stream(spark, str(inbox))
    q2 = ingest.stream_to_warehouse(tx2, wh, str(ckpt2))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    assert wh.read_transactions().count() == n_first
    meta = wh.read("meta_loading").toPandas()
    commits = meta[meta.status.str.startswith(f"COMMIT_{qid}_")]
    assert len(commits) == 2  # markers not duplicated either


def test_stream_to_warehouse_new_query_is_not_skipped(spark, feeds, tmp_path):
    """A genuinely NEW stream (fresh checkpoint => fresh query id) into
    the same warehouse must NOT be skipped by the old stream's markers —
    unscoped markers would silently drop its first batches (data loss).
    Row-level duplicates across checkpoints are dedup_transactions_stream's
    job, covered by test_stream_dedup_within_watermark."""
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

    inbox = tmp_path / "new_query_in"
    inbox.mkdir()
    shutil.copy(os.path.join(feeds.dir, "transactions_01032021.txt"), inbox)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    q = ingest.stream_to_warehouse(
        ingest.read_transactions_stream(spark, str(inbox)), wh, str(tmp_path / "ck1")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert wh.read_transactions().count() == len(feeds.days[0].tx)

    # new data arrives, processed by a SECOND ingest job (own checkpoint,
    # batch ids restart at 0) — its batches must land, not be "skipped"
    inbox2 = tmp_path / "new_query_in2"
    inbox2.mkdir()
    shutil.copy(os.path.join(feeds.dir, "transactions_02032021.txt"), inbox2)
    q2 = ingest.stream_to_warehouse(
        ingest.read_transactions_stream(spark, str(inbox2)), wh, str(tmp_path / "ck2")
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert wh.read_transactions().count() == len(feeds.days[0].tx) + len(feeds.days[1].tx)


def test_sessionize_stream_matches_batch(spark, sf001, tmp_path):
    """Streaming session_window sessionization == the batch lag-gap
    cumulative form: identical multiset of (user, session size)."""
    from pyspark.sql import functions as F
    from etl_pipeline_for_detection_banking_fraud_spark.plans import queries_map

    # clean timestamp copy (the raw events.parquet carries NANOS
    # timestamps the streaming reader can't infer)
    ev = queries_map()["sessionize"]  # batch form, for parity
    batch = ev(spark, sf001)
    batch_counts = sorted(
        (r.user_id, r.n_events) for r in batch.collect()
    )

    from etl_pipeline_for_detection_banking_fraud_spark.plans.testdata_queries import _t
    inbox = tmp_path / "events_in"
    src = _t(spark, sf001, "events").select("user_id", "event_id", "ts")
    src.write.parquet(str(inbox))

    stream = spark.readStream.schema(src.schema).parquet(str(inbox))
    sess = ingest.sessionize_stream(stream)
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_counts = sorted(
            (r.user_id, r.n_events)
            for r in spark.sql("SELECT * FROM sessions_stream").collect()
        )
    finally:
        q.stop()
    assert stream_counts == batch_counts
