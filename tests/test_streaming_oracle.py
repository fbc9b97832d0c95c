"""Streaming oracle coverage (r1 deferred item): the rule-3 stream-stream
join and the stateful rule-4 machine, differentially checked against
DuckDB transcriptions of their exact semantics on the seeded 3-day
feed (the ``feeds`` fixture), plus planted late-data fixtures pinning
watermark/state behavior across microbatches."""

from __future__ import annotations

import datetime
import os
import shutil

import duckdb
import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import read_transactions
from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import read_terminals
from etl_pipeline_for_detection_banking_fraud_spark.streaming import ingest, stateful

DAYS = ["01032021", "02032021", "03032021"]


@pytest.fixture(scope="module")
def replay_parquet(spark, feeds, tmp_path_factory):
    """The 3-day feed, parsed by the engine's reader, as parquet both
    engines can read."""
    root = tmp_path_factory.mktemp("stream_oracle")
    tx = None
    for d in DAYS:
        day = read_transactions(spark, os.path.join(feeds.dir, f"transactions_{d}.txt"))
        tx = day if tx is None else tx.unionByName(day)
    tx_path = str(root / "tx.parquet")
    tx.coalesce(1).write.parquet(tx_path)
    term = read_terminals(spark, os.path.join(feeds.dir, "terminals_03032021.xlsx"))
    term_path = str(root / "term.parquet")
    term.coalesce(1).write.parquet(term_path)
    return tx_path, term_path


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _naive(ts):
    """DuckDB reads the engine's TIMESTAMP_MICROS parquet columns
    (isAdjustedToUTC=true since round 6) as TIMESTAMPTZ; normalize to
    naive UTC wall time for comparison with Spark's naive collects
    (session TZ is UTC throughout)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime) and ts.tzinfo is not None:
        return ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts


def test_stream_rule3_matches_duckdb_oracle_on_replay(spark, feeds, tmp_path,
                                                      replay_parquet):
    """File-per-day stream through the watermarked self-join == the batch
    join semantics (no late data in the feed, so watermarking must not
    lose pairs)."""
    tx_path, term_path = replay_parquet
    inbox = tmp_path / "r3_in"
    inbox.mkdir()
    for d in DAYS:
        shutil.copy(os.path.join(feeds.dir, f"transactions_{d}.txt"), inbox)

    terminals = read_terminals(spark, os.path.join(feeds.dir, "terminals_03032021.xlsx"))
    hits = ingest.card_pairs_diff_city_stream(
        ingest.read_transactions_stream(spark, str(inbox)), terminals
    )
    q = hits.writeStream.outputMode("append").format("memory").queryName("r3_oracle").start()
    _drain(q)
    got = sorted(
        (r.card_num, r.event_dt, r.city1, r.city2)
        for r in spark.sql("SELECT * FROM r3_oracle").collect()
    )

    want = sorted(
        (c, _naive(ts), c1, c2)
        for c, ts, c1, c2 in duckdb.connect().execute(
            f"""
            WITH e AS (
                SELECT t.card_num, t.transaction_date AS ts, t.oper_result,
                       tt.terminal_city AS city
                FROM '{tx_path}/*.parquet' t JOIN '{term_path}/*.parquet' tt
                     ON t.terminal = tt.terminal_id
            )
            SELECT t2.card_num, t2.ts, t1.city AS city1, t2.city AS city2
            FROM e t1 JOIN e t2
                 ON t1.card_num = t2.card_num AND t1.ts < t2.ts
                AND t2.ts < t1.ts + INTERVAL 1 HOUR
                AND t1.city <> t2.city AND t2.oper_result = 'SUCCESS'
            """
        ).fetchall()
    )
    assert len(got) > 0
    assert got == want


def test_stream_rule3_late_data_watermark_semantics(spark, tmp_path):
    """Late rows WITHIN the watermark still join in a later microbatch;
    rows arriving BELOW the watermark are dropped (bounded state is the
    point of the watermark — this pins the loss as deterministic)."""
    header = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"
    inbox = tmp_path / "late_in"
    inbox.mkdir()
    terminals = spark.createDataFrame(
        [("T_A", "POS", "CityA", "a"), ("T_B", "POS", "CityB", "b")],
        schema=schemas.TERMINALS,
    )
    hits = ingest.card_pairs_diff_city_stream(
        ingest.read_transactions_stream(spark, str(inbox)), terminals
    )
    q = hits.writeStream.outputMode("append").format("memory").queryName("r3_late").start()
    try:
        # batch 1: watermark advances to 12:00 - 2h = 10:00
        (inbox / "f1.csv").write_text("\n".join([
            header,
            "1;2021-03-01 10:30:00;10,00;X;PAYMENT;SUCCESS;T_A",
            "2;2021-03-01 12:00:00;10,00;X;PAYMENT;SUCCESS;T_A",
        ]))
        q.processAllAvailable()
        # batch 2: 11:20 is late but above the 10:00 watermark -> pairs
        # with the 12:00 row; 09:45 is below the watermark -> dropped,
        # its would-be pair with 10:30 never appears
        (inbox / "f2.csv").write_text("\n".join([
            header,
            "3;2021-03-01 11:20:00;10,00;X;PAYMENT;REJECT;T_B",
            "4;2021-03-01 09:45:00;10,00;X;PAYMENT;REJECT;T_B",
        ]))
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.card_num, r.event_dt) for r in spark.sql("SELECT * FROM r3_late").collect()
    )
    assert got == [("X", datetime.datetime(2021, 3, 1, 12, 0))]


def test_stateful_rule4_matches_duckdb_oracle_on_replay(spark, feeds, tmp_path,
                                                        replay_parquet):
    """The applyInPandasWithState machine over the 3-day feed (one file
    per microbatch, day order == time order) == a DuckDB transcription of
    its exact semantics: SUCCESS preceded by 2 strictly-decreasing
    REJECTs inside the trailing 1200s."""
    tx_path, _ = replay_parquet
    inbox = tmp_path / "r4_in"
    inbox.mkdir()
    for d in DAYS:
        shutil.copy(os.path.join(feeds.dir, f"transactions_{d}.txt"), inbox)

    hits = stateful.amount_guessing_stream(
        ingest.read_transactions_stream(spark, str(inbox))
    )
    q = hits.writeStream.outputMode("append").format("memory").queryName("r4_oracle").start()
    _drain(q)
    got = sorted(
        (r.card_num, r.event_ts, r.amount)
        for r in spark.sql("SELECT * FROM r4_oracle").collect()
    )

    want = sorted(
        (c, _naive(ts), a)
        for c, ts, a in duckdb.connect().execute(
            f"""
            WITH tx AS (
                SELECT card_num, transaction_date AS ts,
                       CAST(amount AS DOUBLE) AS amount, oper_result
                FROM '{tx_path}/*.parquet'
            )
            SELECT s.card_num, s.ts, s.amount
            FROM tx s
            WHERE s.oper_result = 'SUCCESS' AND EXISTS (
                SELECT 1 FROM tx t1 JOIN tx t2
                    ON t1.card_num = t2.card_num
                WHERE t2.card_num = s.card_num
                  AND t1.oper_result = 'REJECT' AND t2.oper_result = 'REJECT'
                  AND t1.ts < t2.ts AND t2.ts < s.ts
                  AND epoch(s.ts) - epoch(t1.ts) < 1200
                  AND t1.amount > t2.amount AND t2.amount > s.amount
            )
            """
        ).fetchall()
    )
    assert len(want) > 0
    assert got == want


def test_stateful_rule4_late_reject_is_arrival_ordered(spark, tmp_path):
    """The state machine is ARRIVAL-ordered: a REJECT arriving after the
    SUCCESS it would have completed does not retro-emit a hit, and a hit
    emitted from in-order state stays emitted. Pins the machine's
    at-arrival semantics under late data."""
    header = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"
    inbox = tmp_path / "r4_late"
    inbox.mkdir()
    hits = stateful.amount_guessing_stream(
        ingest.read_transactions_stream(spark, str(inbox))
    )
    q = hits.writeStream.outputMode("append").format("memory").queryName("r4_late").start()
    try:
        # card Y: full chain arrives in order -> hit at the SUCCESS
        (inbox / "f1.csv").write_text("\n".join([
            header,
            "1;2021-03-01 10:00:00;100,00;Y;PAYMENT;REJECT;T",
            "2;2021-03-01 10:05:00;90,00;Y;PAYMENT;REJECT;T",
            "3;2021-03-01 10:00:00;100,00;Z;PAYMENT;REJECT;T",
        ]))
        q.processAllAvailable()
        (inbox / "f2.csv").write_text("\n".join([
            header,
            "4;2021-03-01 10:10:00;80,00;Y;PAYMENT;SUCCESS;T",
            "5;2021-03-01 10:10:00;80,00;Z;PAYMENT;SUCCESS;T",
        ]))
        q.processAllAvailable()
        # card Z's second REJECT arrives AFTER its SUCCESS: no retro hit
        (inbox / "f3.csv").write_text("\n".join([
            header,
            "6;2021-03-01 10:05:00;90,00;Z;PAYMENT;REJECT;T",
        ]))
        q.processAllAvailable()
    finally:
        q.stop()
    got = [(r.card_num, r.amount) for r in
           spark.sql("SELECT * FROM r4_late ORDER BY card_num").collect()]
    assert got == [("Y", 80.0)]
