"""Structured Streaming variant of the daily ingest (SURVEY §2 streaming
surface, §7 step 8).

The reference's batch loop — pick up a file, load, archive it
(main.py:43-66) — is literally Spark's file streaming source with
``cleanSource='archive'``. This module makes the reference's implicit
streaming semantics explicit:

- event-time = transaction_date (the reference's ``date_global`` is an
  event-time watermark it re-derives per file)
- late data: ``withWatermark`` bounds state instead of the reference's
  assume-complete-files posture
- the fraud-rule time-band logic becomes a watermarked stream-stream
  self-join (Spark supports symmetric time-range join conditions) or a
  windowed aggregation.

At 100 TB/day the same topology runs against Kafka instead of files;
only the ``readStream`` format changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions.scalars import decimal_comma_amount


def read_transactions_stream(spark: SparkSession, path: str,
                             archive_dir: str | None = None,
                             max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of daily transaction CSVs.

    cleanSource/sourceArchiveDir reproduce the reference's post-ingest
    shutil.move (main.py:66) inside the engine.
    """
    reader = (
        spark.readStream.format("csv")
        .schema(schemas.TRANSACTIONS_RAW)
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    raw = reader.load(path)
    return raw.select(
        "transaction_id",
        F.to_timestamp("transaction_date", "yyyy-MM-dd HH:mm:ss").alias("transaction_date"),
        decimal_comma_amount("amount").alias("amount"),
        "card_num",
        "oper_type",
        "oper_result",
        "terminal",
    )


def dedup_transactions_stream(tx_stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Keyed ingest dedup for at-least-once upstreams (replayed files,
    Kafka re-delivery): keep the first arrival per transaction_id,
    dropping duplicates across microbatches for as long as the
    event-time watermark holds. State is bounded by the watermark —
    Spark evicts a key once its event time falls behind it, so at
    100 TB/day the dedup map holds ~one watermark's worth of ids, not
    history. Pairs with stream_to_warehouse's COMMIT_BATCH markers:
    markers stop whole-batch replays, this stops row-level duplicates
    the source itself re-delivers inside new batch ids.
    """
    return tx_stream.withWatermark(
        "transaction_date", watermark
    ).dropDuplicatesWithinWatermark(["transaction_id"])


def daily_counts(tx_stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day event-time aggregation — the streaming equivalent
    of the reference's per-day audit counts (META_LOADING rows)."""
    return (
        tx_stream.withWatermark("transaction_date", watermark)
        .groupBy(F.window("transaction_date", "1 day").alias("day"), F.col("oper_result"))
        .agg(
            F.count("*").alias("n_tx"),
            F.sum(F.col("amount").cast("decimal(18,2)")).alias("total_amount"),
        )
        .select(
            F.col("day.start").cast("date").alias("tx_date"),
            "oper_result",
            "n_tx",
            "total_amount",
        )
    )


def passport_hits_stream(tx_stream: DataFrame, cards: DataFrame,
                         accounts: DataFrame, clients: DataFrame,
                         blacklist: DataFrame, date_global) -> DataFrame:
    """Fraud rule 1 (blocked/expired passport) as a stateless
    stream-static topology: the batch rule function is
    stream-compatible verbatim — broadcast dim joins, filters, mart
    projection — so this wrapper only pins that contract.

    Retroactivity caveat: a BACKDATED blacklist entry arriving after
    the transactions it incriminates have streamed past must be handled
    by a batch re-drive of the affected fact band (the incremental
    pipeline's retro term, ``pipeline.py``) — a stream cannot revisit
    rows it already emitted. The streaming-mart parity test wires
    exactly that re-drive."""
    from ..operators import fraud_rules

    return fraud_rules.rule1_passport(
        tx_stream, cards, accounts, clients, blacklist, date_global
    )


def contract_hits_stream(tx_stream: DataFrame, cards: DataFrame,
                         accounts: DataFrame, clients: DataFrame,
                         date_global) -> DataFrame:
    """Fraud rule 2 (invalid contract) as a stateless stream-static
    topology — same contract-pinning wrapper as
    ``passport_hits_stream``."""
    from ..operators import fraud_rules

    return fraud_rules.rule2_contract(
        tx_stream, cards, accounts, clients, date_global
    )


def card_pairs_diff_city_stream(tx_stream: DataFrame, terminals: DataFrame,
                                watermark: str = "2 hours") -> DataFrame:
    """Streaming shape of fraud rule 3: same-card pairs < 1 hour apart in
    different cities, as a watermarked stream-stream self-join.

    ``terminals`` is the current static dimension snapshot (a streaming
    SCD2 lookup would be a foreachBatch join against the latest
    dimension version). State is bounded by the watermark: Spark keeps
    at most ~watermark+band of per-card history.
    """
    enriched = tx_stream.join(
        F.broadcast(terminals.select("terminal_id", "terminal_city")),
        tx_stream.terminal == F.col("terminal_id"),
    ).drop("terminal_id")
    t1 = enriched.select(
        F.col("card_num").alias("card1"),
        F.col("transaction_date").alias("ts1"),
        F.col("terminal_city").alias("city1"),
    ).withWatermark("ts1", watermark)
    t2 = enriched.select(
        F.col("card_num").alias("card2"),
        F.col("transaction_date").alias("ts2"),
        F.col("terminal_city").alias("city2"),
        "oper_result",
    ).withWatermark("ts2", watermark)
    return t1.join(
        t2,
        (F.col("card1") == F.col("card2"))
        & (F.col("ts1") < F.col("ts2"))
        & (F.col("ts2") < F.col("ts1") + F.expr("INTERVAL 1 HOUR"))
        & (F.col("city1") != F.col("city2"))
        & (F.col("oper_result") == "SUCCESS"),
    ).select(
        F.col("card2").alias("card_num"), F.col("ts2").alias("event_dt"), "city1", "city2"
    )


def stream_to_warehouse(tx_stream: DataFrame, wh, checkpoint_dir: str,
                        table: str = "dwh_fact_transactions",
                        atomic: bool = True):
    """EP1 as a streaming sink: each microbatch appends to the
    hive-partitioned fact (same layout the batch path writes, so the
    incremental partition-pruned rules read it unchanged) and leaves one
    META_LOADING audit row per (microbatch, transaction day).

    foreachBatch is the prescribed shape for sinks Spark doesn't ship:
    inside the hook the microbatch is a plain DataFrame, so the batch
    writer (and its partitioning) is reused verbatim — streaming and
    batch ingest cannot drift.

    Idempotency — EXACTLY-ONCE with ``atomic=True`` (default): Spark's
    checkpoint replays a microbatch after a failure with the SAME query
    id and batch_id, so the sink logs a ``COMMIT_<query_id>_<batch_id>``
    marker row and skips any batch_id already marked for THIS query
    identity. With ``atomic=True`` the fact files, the per-day audit
    rows and the marker ride in ONE commit-log entry: there is no crash
    point where the facts are visible but the marker isn't (or the
    reverse), so a replay either sees the marker (skips — already fully
    committed) or sees nothing (re-appends — nothing was visible).
    ``atomic`` is accepted for signature compatibility and ignored:
    every microbatch commits this way.

    Cost per microbatch: two Spark jobs, the fact write and the audit
    write. The per-day audit counts need no job: the fact is
    partitioned by day, so each staged fact file holds one day, and its
    footer row count (the ``__rows`` stat the transaction records) is
    that file's share of the day.

    Marker scoping: batch ids restart at 0 under a fresh checkpoint, so
    an unscoped marker would make a legitimately new stream into the
    same warehouse silently drop its first batches (data loss); the
    query id — stable across restarts from one checkpoint, fresh for a
    new one — is read from the checkpoint's ``metadata`` file at the
    first microbatch (foreachBatch runs on the driver, after Spark has
    written it). Cross-checkpoint duplicate rows are handled at the row
    level by ``dedup_transactions_stream``, not markers. The marker set
    is read once and maintained driver-side, so the steady-state check
    is O(1), not a table read per batch.
    """
    import json
    import os

    from ..audit import flush_meta, log_meta, logged_stream_batches

    marker = f"stream_{table}"
    state: dict = {}

    def _init_markers() -> None:
        try:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                qid = json.load(f)["id"]
        except Exception:  # non-local checkpoint dir: legacy unscoped markers
            qid = None
        state["qid"] = qid
        state["committed"] = logged_stream_batches(wh, marker, qid)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if "committed" not in state:
            _init_markers()
        if batch_id in state["committed"]:
            return
        qid = state["qid"]
        commit_status = (
            f"COMMIT_{qid}_{batch_id}" if qid else f"COMMIT_BATCH_{batch_id}"
        )
        with wh.transaction() as txn:
            wh.append_transactions(batch_df, table)
            day_rows = _staged_day_rows(txn, table)
            for day in sorted(day_rows, key=lambda d: (d is None, d)):
                log_meta(wh, marker, day, day_rows[day])
            log_meta(wh, marker, None, sum(day_rows.values()),
                     commit_status)
            flush_meta(wh)
        state["committed"].add(batch_id)

    return (
        tx_stream.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _staged_day_rows(txn, table: str) -> dict:
    """``{transaction day: rows}`` of the fact files ``txn`` staged,
    from each file's day partition directory and its recorded footer
    row count (no Spark job). A NULL ``transaction_date`` lands in the
    default partition and counts under ``None``."""
    import datetime

    from ..sources.warehouse import _partition_pairs_of

    out: dict = {}
    for rel, n in txn.staged_rows(table).items():
        if not n:
            continue  # an empty batch's file
        (_key, value), = _partition_pairs_of(rel)
        day = None if value == "__HIVE_DEFAULT_PARTITION__" \
            else datetime.date.fromisoformat(value)
        out[day] = out.get(day, 0) + n
    return out


def sessionize_stream(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "2 days",
                      user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Streaming sessionization: ``session_window`` merges a user's
    events separated by less than ``gap`` into one session — the
    streaming twin of the batch ``sessionize`` catalog entry (lag-gap
    cumulative window), unified-API style: the same call shape works on
    a batch frame.

    State: one open session per active user, evicted once the watermark
    passes session end + gap — bounded by concurrently-active users, not
    history. Boundary note: a gap of EXACTLY the session timeout starts
    a new session here (session-window intervals are end-exclusive)
    while the batch form's strict ``gap > timeout`` keeps it; parity
    tests run on data without exact-boundary gaps (measure-zero for
    microsecond event time).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_merge_to_warehouse(changes_stream: DataFrame, wh, checkpoint_dir: str,
                              table: str, key: str, version_cols,
                              payload_cols, op_col: str = "op",
                              cdf: bool = False):
    """Streaming CDC upsert sink: each microbatch of changelog rows is
    MERGED into ``table`` through ``Warehouse.merge_table`` (one atomic
    replace commit per microbatch).

    Replay safety WITHOUT markers: ``apply_changelog`` is idempotent —
    re-applying a microbatch's changelog to the already-merged snapshot
    lands every key in the same state (an update overwrites with the
    same payload, a delete of an absent key no-ops, a re-insert
    overwrites the identical row), so a checkpoint replay after a crash
    converges instead of double-appending. Late/out-of-order batches:
    make the TABLE schema carry the ``version_cols`` — the merge then
    runs version-aware (``apply_changelog``'s MERGE-guard mode: a
    change not strictly newer than the stored row's version is
    ignored), so batch application commutes and changelog versions
    arriving across microbatch boundaries in any order converge to the
    single-batch merge. Without stored versions, cross-batch ordering
    falls back to last-merged-batch-wins — then feed batches in source
    order, as Spark's checkpoint replay guarantees.

    Scale note: each merge rewrites the table's full file set (replace
    commit) — right for dimension-sized tables at mini-batch cadence;
    for fact-sized tables use ``stream_to_warehouse`` (append) and
    reconcile with a periodic batch merge instead. ``cdf=True``
    publishes each microbatch merge's row-level changes to the
    append-only ``<table>__cdf`` sidecar in the same commit
    (``merge_table``'s CDF-on-write) — downstream consumers tail it
    with ``table_stream.stream_table`` and can maintain exact rollups
    under updates/deletes (``rollup.maintain_rollup_cdf``).
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wh.merge_table(
            table, batch_df, key=key, version_cols=version_cols,
            payload_cols=payload_cols, op_col=op_col, cdf=cdf,
        )

    return (
        changes_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
