"""Incremental aggregate maintenance: a materialized rollup table kept
in sync with a warehouse table by tailing its commit log.

``maintain_rollup`` opens a ``warehouse_stream`` on the source table and
folds each microbatch's PARTIAL aggregates into a rollup table — the
lakehouse "materialized view maintenance" pattern: downstream dashboards
read a small pre-aggregated table that is always one commit behind the
facts, instead of re-scanning 100 TB of history per refresh.

Only DECOMPOSABLE aggregates are supported (count / sum / min / max —
mean derives from sum+count downstream): each batch contributes a
partial row per group, and "stored ⊕ delta" is itself a group-by with
the combine function (sum-of-sums, min-of-mins, ...). Non-decomposable
aggregates (exact distinct, median) need the full history by nature —
re-aggregate those from the facts, or use the sketch operators.

Exactly-once: foreachBatch is at-least-once — a crash after the rollup
commit but before Spark's offset checkpoint advances re-delivers the
batch. The guard is the Spark-docs batch-id watermark, made ATOMIC by
the commit log: the new rollup state and the applied ``batch_id`` (in a
``<rollup>__meta`` sidecar table) are published as ONE multi-table
replace transaction, so a re-delivered batch sees its own id at/below
the stored watermark and no-ops. The rollup and its watermark can never
tear apart — the same one-commit trick the streaming dedup index uses.

Exactness note: ``sum`` over IEEE doubles accumulates one rounding per
fold — use DECIMAL columns where bit-exact long-horizon totals matter
(the repo-wide float policy); counts and min/max are exact by
construction.

Scale shape: the per-batch delta aggregation is a map-side-combinable
group-by over ONLY the new files; the merge re-aggregates
stored ∪ delta, which is O(|groups|), not O(|facts|) — rollup tables
are small by construction (that's why you materialize them). Single
writer per rollup table (the stream); concurrent facts appends are
fine — they arrive as later microbatches.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df
from ..sources.warehouse import Transaction, Warehouse
from .table_stream import stream_table

# agg -> (partial expr builder, combine fn for stored ∪ delta re-agg)
_DECOMPOSABLE = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}


def _partial_exprs(aggs: dict) -> list:
    exprs = []
    for col, funcs in aggs.items():
        for fn in funcs:
            if fn not in _DECOMPOSABLE:
                raise ValueError(
                    f"{fn} is not decomposable; rollups support "
                    f"{sorted(_DECOMPOSABLE)} (mean = sum/count downstream)"
                )
            exprs.append(_DECOMPOSABLE[fn][0](col).alias(f"{col}_{fn}"))
    return exprs


def _combine_exprs(aggs: dict) -> list:
    return [
        _DECOMPOSABLE[fn][1](f"{col}_{fn}").alias(f"{col}_{fn}")
        for col, funcs in aggs.items()
        for fn in funcs
    ]


def _check_watermark(wh: Warehouse, meta_table: str, batch_id: int,
                     stream_id: str | None) -> bool:
    """True when the batch should apply. False = replay (id at/below
    the stored watermark) — but ONLY for the same stream: a DIFFERENT
    stream id with a fresh checkpoint restarts batch ids at 0, and
    treating those as replays would silently no-op every new commit
    into the rollup until ids catch up. That mismatch raises instead
    of returning False (fail fast, not silent staleness)."""
    if not wh.exists(meta_table):
        return True
    meta = wh.read(meta_table)
    row = meta.agg(
        F.max("batch_id").alias("b"),
        F.max("stream_id").alias("s") if "stream_id" in meta.columns
        else F.lit(None).alias("s"),
    ).first()
    last, stored_stream = row["b"], row["s"]
    if stream_id is not None and stored_stream is not None \
            and stream_id != stored_stream:
        raise RuntimeError(
            f"rollup {meta_table[:-6]} was maintained by streaming query "
            f"{stored_stream} but this batch comes from {stream_id}: a "
            "NEW checkpoint dir restarts batch ids at 0, so its batches "
            "would silently no-op against the old watermark. Either "
            "reuse the original checkpoint dir, or drop and reseed the "
            "rollup (and its __meta sidecar) before re-pointing it"
        )
    return last is None or batch_id > last


def _commit_rollup(wh: Warehouse, rollup_table: str, combined: DataFrame,
                   batch_id: int, stream_id: str | None,
                   extra_tables: dict | None = None) -> None:
    """Publish the new rollup state + batch-id watermark (+ any extra
    sidecars, e.g. the applied-txn set) as ONE replace transaction."""
    meta = local_rows_df(
        wh.spark, [(int(batch_id), stream_id)],
        "batch_id long, stream_id string")
    tables = {rollup_table: combined, f"{rollup_table}__meta": meta,
              **(extra_tables or {})}
    txn = Transaction(wh)
    txn.replaced = {name.lower() for name in tables}
    for name, df in tables.items():
        txn.append(df, name)
    txn.commit()


def apply_rollup_batch(wh: Warehouse, rollup_table: str, keys: list[str],
                       aggs: dict, batch: DataFrame, batch_id: int,
                       stream_id: str | None = None) -> bool:
    """Fold one microbatch into the rollup (the foreachBatch body;
    callable directly for backfills and tests). Returns False when the
    batch id is at/below the stored watermark (a checkpoint replay) and
    the rollup is left untouched; raises when the batch comes from a
    DIFFERENT stream than the one that built the rollup (fresh
    checkpoint + old watermark = silent staleness otherwise).

    A rollup seeded by ``bootstrap_rollup`` (or previously maintained
    by the CDF fold) carries the internal ``_n`` / ``_nn_<col>``
    bookkeeping columns; this append-only fold detects and MAINTAINS
    them (inserts contribute +count) so the two maintenance paths
    compose instead of failing the union with a missing-column error."""
    if not _check_watermark(wh, f"{rollup_table}__meta", batch_id,
                            stream_id):
        return False
    if batch.isEmpty():
        return False  # nothing to fold; redelivery is equally empty
    exists = wh.exists(rollup_table)
    stored = wh.read(rollup_table) if exists else None
    internals = exists and "_n" in stored.columns
    partials, combines = _partial_exprs(aggs), _combine_exprs(aggs)
    if internals:
        partials = partials + [F.count(F.lit(1)).alias("_n")] + [
            F.count(F.col(c)).alias(f"_nn_{c}")
            for c in _sum_cols(aggs) if f"_nn_{c}" in stored.columns
        ]
        combines = combines + [
            F.sum(c).alias(c) for c in stored.columns
            if c == "_n" or c.startswith("_nn_")
        ]
    delta = batch.groupBy(*keys).agg(*partials)
    if exists:
        combined = (
            stored.unionByName(delta, allowMissingColumns=True)
            .groupBy(*keys)
            .agg(*combines)
        )
    else:
        combined = delta
    _commit_rollup(wh, rollup_table, combined, batch_id, stream_id)
    return True


def _checkpoint_stream_id(checkpoint_dir: str) -> str | None:
    """The streaming query id persisted in the checkpoint's ``metadata``
    file — STABLE across restarts of the same checkpoint, fresh for a
    new checkpoint dir. That makes it the watermark's identity: a new
    checkpoint restarts batch ids at 0, and pairing those ids with the
    old rollup watermark would silently no-op every batch. Read lazily
    INSIDE foreachBatch (Spark writes the file at query start, before
    batch 0 runs)."""
    import json
    import os

    path = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(path) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        return None


def _warn_available_now_caps(available_now: bool, max_files, max_bytes):
    """Admission caps pace a stream across MANY microbatches, but
    Python streaming sources fall back to single-batch execution under
    ``Trigger.AvailableNow`` — one capped batch runs and the query
    terminates with the backlog unread. Loud at start(), where both
    the trigger and the caps are known (the reader process can see
    neither)."""
    if available_now and (max_files is not None or max_bytes is not None):
        warnings.warn(
            "available_now=True with max_files_per_trigger/"
            "max_bytes_per_trigger: Python streaming sources fall back "
            "to SINGLE-BATCH execution under AvailableNow, so only one "
            "capped microbatch runs per start() and the rest of the "
            "backlog waits for the next run. Use the default periodic "
            "trigger (available_now=False) to drain the backlog paced "
            "by the caps in one run.",
            stacklevel=3,
        )


def maintain_rollup(spark: SparkSession, root: str, src_table: str,
                    rollup_table: str, keys: list[str], aggs: dict,
                    checkpoint_dir: str, *, available_now: bool = False,
                    on_replace: str = "fail",
                    max_files_per_trigger: int | None = None,
                    max_bytes_per_trigger: int | None = None):
    """Start the maintenance stream: tail ``src_table``'s commit log and
    keep ``rollup_table`` = ``src.groupBy(keys).agg(aggs)`` one commit
    behind, exactly-once. ``aggs`` maps column -> list of decomposable
    aggregate names, e.g. ``{"value": ["sum", "count"], "ts": ["max"]}``.

    ``max_files_per_trigger`` / ``max_bytes_per_trigger`` pace the
    source (a 100 TB fact table's initial snapshot folds in as capped
    batches instead of one giant aggregation — each fold is still
    exact, partials compose). Note
    ``available_now=True`` advances only ONE capped batch per run
    (Python-source fallback); pacing wants the periodic trigger.
    """
    _warn_available_now_caps(available_now, max_files_per_trigger,
                             max_bytes_per_trigger)
    wh = Warehouse(spark, root)
    sdf = stream_table(spark, root, src_table, on_replace=on_replace,
                       max_files_per_trigger=max_files_per_trigger,
                       max_bytes_per_trigger=max_bytes_per_trigger,
                       checkpoint_dir=checkpoint_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(wh, rollup_table, keys, aggs, batch_df, batch_id,
                           stream_id=_checkpoint_stream_id(checkpoint_dir))

    w = (
        sdf.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# -- CDF-driven maintenance (updates/deletes, not just appends) -----------

_SIGNED = {"count", "sum"}  # aggregates with an inverse (group can shrink)


def bootstrap_rollup(wh: Warehouse, rollup_table: str, keys: list,
                     aggs: dict, snapshot: DataFrame) -> bool:
    """Seed a CDF-maintained rollup with the table state that PRECEDES
    the change feed (the feed only records changes since its first
    merge; pre-feed rows never appear in it). Seeds at batch_id -1 so
    the stream's batch 0 still applies. Call with the table's state
    from before the first ``cdf=True`` merge — the live table works if
    no merge has happened yet, else ``read_at`` the pre-feed snapshot
    (seeding from a LATER state would double-count the merges the
    stream is about to deliver).

    The seed carries the internal bookkeeping the CDF fold maintains
    (see ``apply_rollup_cdf_batch``): the ``_n`` row count that lets a
    fully-deleted group DROP even under sum-only ``aggs``, and a
    ``_nn_<col>`` non-NULL count per summed column that lets a sum
    return to NULL when its last non-NULL contributor is deleted."""
    if wh.exists(rollup_table):
        return False  # already seeded; reseeding would double-count
    delta = snapshot.groupBy(*keys).agg(
        *_partial_exprs(aggs), F.count(F.lit(1)).alias("_n"),
        *[F.count(F.col(c)).alias(f"_nn_{c}") for c in _sum_cols(aggs)])
    _commit_rollup(wh, rollup_table, delta, -1, None)
    return True


def _sum_cols(aggs: dict) -> list:
    return [col for col, funcs in aggs.items() if "sum" in funcs]


def apply_rollup_cdf_batch(wh: Warehouse, rollup_table: str,
                           keys: list, aggs: dict, feed: DataFrame,
                           batch_id: int,
                           change_col: str = "change_type",
                           stream_id: str | None = None,
                           dedup_txns: bool = False,
                           txn_col: str = "_txn") -> bool:
    """Fold one CDF microbatch (``merge_table(cdf=True)``'s sidecar
    rows: insert / delete / update_preimage / update_postimage) into a
    rollup that stays exact under UPDATES and DELETES — not just
    appends.

    Only SIGNED aggregates (count, sum) are supported: inserts and
    update-postimages contribute +1/+value, deletes and
    update-preimages contribute -1/-value, so the delta aggregate is
    the exact group adjustment. min/max have no inverse — a delete can
    reveal a smaller max that the rollup no longer knows — so they are
    rejected here (re-aggregate those from the table, or accept the
    append-only ``apply_rollup_batch`` semantics).

    The rollup table carries internal bookkeeping maintained
    UNCONDITIONALLY (seeded by ``bootstrap_rollup``): ``_n``, the
    ``sum(_sign)`` row count per group, is the drop criterion for
    fully-deleted groups — the rollup matches the batch group-by under
    ANY ``aggs`` config, including sum-only, where no user count column
    exists to reach zero, and all-NULL groups, where per-column counts
    are 0 but the group still exists. ``_nn_<col>``, the signed
    non-NULL count per SUMMED column, is the NULL criterion for sums:
    signed arithmetic alone cannot tell "values cancel to 0.0" from
    "no non-NULL values remain" (SQL sum over only-NULLs is NULL), so
    each sum is nulled when its ``_nn`` reaches zero.

    ``dedup_txns=True`` makes redelivery of feed ROWS safe, not just
    redelivery of batches: a ``compact()`` of the sidecar mid-stream
    re-emits the whole feed under ``on_replace=reemit``, and the
    batch-id watermark cannot tell those re-emitted rows from new ones.
    The applied merge-transaction ids are persisted in a
    ``<rollup>__txns`` sidecar (same atomic commit), and each batch is
    anti-joined against it on ``_txn`` before folding — O(applied
    merges) rows, broadcast-sized by construction.

    Same exactly-once shape as ``apply_rollup_batch``: rollup state,
    batch-id watermark (+ the txn set) commit as ONE multi-table
    replace transaction.
    """
    for col, funcs in aggs.items():
        bad = [fn for fn in funcs if fn not in _SIGNED]
        if bad:
            raise ValueError(
                f"{bad} have no inverse; CDF rollups support only "
                f"{sorted(_SIGNED)} (min/max need the append-only path "
                "or a table re-aggregate)"
            )
    if not _check_watermark(wh, f"{rollup_table}__meta", batch_id,
                            stream_id):
        return False
    if feed.isEmpty():
        return False
    txns_table = f"{rollup_table}__txns"
    extra = {}
    if dedup_txns:
        batch_txns = feed.select(F.col(txn_col).alias("_txn")).distinct()
        if wh.exists(txns_table):
            seen = wh.read(txns_table)
            feed = feed.join(
                F.broadcast(seen),
                feed[txn_col] == seen["_txn"], "left_anti",
            )
            extra[txns_table] = seen.unionByName(batch_txns).distinct()
        else:
            extra[txns_table] = batch_txns
        if feed.isEmpty():
            return False  # pure re-emission (e.g. a sidecar compaction)
    sign = F.when(
        F.col(change_col).isin("insert", "update_postimage"), F.lit(1)
    ).when(
        F.col(change_col).isin("delete", "update_preimage"), F.lit(-1)
    )
    signed = feed.withColumn("_sign", sign).where(F.col("_sign").isNotNull())
    sum_cols = _sum_cols(aggs)
    internals = ["_n", *[f"_nn_{c}" for c in sum_cols]]
    delta_exprs = [F.sum("_sign").alias("_n")]
    for col, funcs in aggs.items():
        for fn in funcs:
            if fn == "count":
                e = F.sum(F.when(F.col(col).isNotNull(), F.col("_sign"))
                          .otherwise(F.lit(0)))
            else:
                e = F.sum(F.col(col) * F.col("_sign"))
            delta_exprs.append(e.alias(f"{col}_{fn}"))
    for col in sum_cols:
        delta_exprs.append(
            F.sum(F.when(F.col(col).isNotNull(), F.col("_sign"))
                  .otherwise(F.lit(0))).alias(f"_nn_{col}"))
    delta = signed.groupBy(*keys).agg(*delta_exprs)
    if wh.exists(rollup_table):
        stored = wh.read(rollup_table)
        missing = [c for c in internals if c not in stored.columns]
        if missing:
            raise RuntimeError(
                f"rollup {rollup_table} lacks internal column(s) "
                f"{missing} (seeded by an older version or the "
                "append-only path): drop it and reseed with "
                "bootstrap_rollup so fully-deleted groups drop and "
                "all-NULL sums null out exactly"
            )
        combined = (
            stored.unionByName(delta)
            .groupBy(*keys)
            .agg(*_combine_exprs(aggs),
                 *[F.sum(c).alias(c) for c in internals])
        )
    else:
        combined = delta
    # drop fully-deleted groups: the internal row count reaching zero
    # removes the row under ANY aggs config (sum-only included)
    combined = combined.where(F.col("_n") > 0)
    # null out sums whose last non-NULL contributor was deleted: signed
    # arithmetic leaves 0.0 where the batch group-by says NULL
    for col in sum_cols:
        combined = combined.withColumn(
            f"{col}_sum",
            F.when(F.col(f"_nn_{col}") > 0, F.col(f"{col}_sum")))
    _commit_rollup(wh, rollup_table, combined, batch_id, stream_id,
                   extra_tables=extra)
    return True


def maintain_rollup_cdf(spark: SparkSession, root: str, table: str,
                        rollup_table: str, keys: list, aggs: dict,
                        checkpoint_dir: str, *,
                        cdf_table: str | None = None,
                        available_now: bool = False,
                        on_replace: str = "fail",
                        max_files_per_trigger: int | None = None,
                        max_bytes_per_trigger: int | None = None):
    """Maintain an exact rollup of a table that receives CDC MERGES:
    tail the table's ``merge_table(cdf=True)`` change feed and apply
    signed adjustments — updates and deletes land in the aggregate
    without ever rescanning the table. ``aggs``: column -> subset of
    {count, sum}. Rows that predate the feed need ``bootstrap_rollup``
    once, with the pre-feed snapshot.

    ``on_replace="reemit"`` makes the stream survive a ``compact()`` of
    the sidecar: the rewritten feed re-emits wholesale, and the fold
    dedups it row-exactly against the persisted applied-``_txn`` set
    (see ``apply_rollup_cdf_batch``) — so sidecar compaction no longer
    needs a maintenance window. The default ``fail`` keeps the loud
    contract for consumers that did not opt in."""
    _warn_available_now_caps(available_now, max_files_per_trigger,
                             max_bytes_per_trigger)
    wh = Warehouse(spark, root)
    sdf = stream_table(spark, root, cdf_table or f"{table}__cdf",
                       on_replace=on_replace,
                       max_files_per_trigger=max_files_per_trigger,
                       max_bytes_per_trigger=max_bytes_per_trigger,
                       checkpoint_dir=checkpoint_dir)
    dedup = on_replace == "reemit"

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_cdf_batch(
            wh, rollup_table, keys, aggs, batch_df, batch_id,
            stream_id=_checkpoint_stream_id(checkpoint_dir),
            dedup_txns=dedup,
        )

    w = (
        sdf.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
