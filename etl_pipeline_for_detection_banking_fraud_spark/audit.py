"""META_LOADING audit trail (reference: comm_funcs.py:13-18, SNK3).

Rows are BUFFERED per warehouse and flushed as one parquet append per
pipeline run (``flush_meta``): the reference's INSERT-per-stage is free
in Postgres but a one-row-parquet-file-per-stage write here — at 100 TB
scale that is the classic small-files generator (stages x days files
degrade listing and scan parallelism on the audit table). Buffering
keeps the audit SURFACE identical (same rows, same order) while the
file count stays O(flushes) = O(days).

Durability posture: only ``ERROR…`` statuses autoflush, each in its own
immediate transaction, so a failing stage's ERROR row (and every
buffered row before it) hits disk before the exception propagates even
if the driver dies — the failure trail is never only in memory. Every
other status (SUCCESS, and the streaming sink's ``COMMIT_…`` markers)
stays buffered until the caller's ``flush_meta``, so it commits in the
caller's transaction: a sink's marker can never become visible before
the facts it vouches for.
"""

from __future__ import annotations

import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import schemas
from .functions.localframe import local_rows_df
from .sources.warehouse import Warehouse

TABLE = "meta_loading"


def log_meta(wh: Warehouse, table_name: str, event_dt: datetime.date | None,
             rows_processed: int, status: str = "SUCCESS") -> None:
    """Buffer one audit row; ``ERROR…`` statuses flush immediately."""
    buf = getattr(wh, "_meta_buffer", None)
    if buf is None:
        buf = []
        wh._meta_buffer = buf
    buf.append((table_name, event_dt, int(rows_processed), status))
    if status.startswith("ERROR"):
        # independent=True: an ERROR row must survive even if the
        # surrounding warehouse transaction aborts — it commits in its
        # own immediate transaction instead of the doomed one
        flush_meta(wh, independent=True)


def flush_meta(wh: Warehouse, independent: bool = False) -> None:
    """Write all buffered audit rows as ONE small-file-friendly append.

    The buffer is cleared only AFTER the append succeeds: if the write
    throws (disk full, schema drift), the rows — including any ERROR row
    the autoflush path was making durable — stay buffered for the next
    flush attempt. A retried flush can therefore duplicate audit rows;
    duplicates are accepted over losing the failure trail.

    ``independent=True`` (the ERROR-autoflush path): when a warehouse
    transaction is active, the rows commit in their OWN immediate
    transaction rather than the active one — the active transaction is
    about to abort (that's why there's an ERROR row), and rows riding in
    it would vanish with it. Without an active transaction this is a
    plain append (legacy warehouses stay legacy).
    """
    buf = getattr(wh, "_meta_buffer", None)
    if not buf:
        return
    spark: SparkSession = wh.spark
    # single-slice local frame: one file per flush (the point of
    # buffering) AND one Python-worker round-trip per flush — a
    # coalesce(1) over a default-sliced createDataFrame serialized one
    # round-trip PER SLICE into the write task (~6 s per flush at 32
    # cores; see functions/localframe.py)
    df = local_rows_df(spark, list(buf), schemas.META_LOADING)
    active = getattr(wh, "_active_txn", None)
    if independent and active is not None and not active._done:
        wh._active_txn = None
        try:
            with wh.transaction():
                wh.append(df, TABLE)
        finally:
            wh._active_txn = active
    else:
        wh.append(df, TABLE)
    buf.clear()


class CommittedBatches(set):
    """The replay-detection set with a FLOOR: batch ids at or below
    ``floor`` answer ``in`` as committed without being materialized.

    Why: Spark's microbatch ids are monotone per query identity and the
    sink writes markers in batch order, so a marker for batch N proves
    every batch < N committed — the driver only ever re-offers the
    tail. Materializing one int per batch ever logged made the sink's
    first-microbatch read O(total batches) over a stream's lifetime;
    the floor keeps it O(tail window) forever. ``add``/iteration work
    on the explicit tail only (all the sink needs)."""

    def __init__(self, ids=(), floor: int = -1):
        super().__init__(ids)
        self.floor = floor

    def __contains__(self, batch_id) -> bool:  # type: ignore[override]
        try:
            if batch_id <= self.floor:
                return True
        except TypeError:
            pass
        return set.__contains__(self, batch_id)


def logged_stream_batches(wh: Warehouse, table_name: str,
                          query_id: str | None = None,
                          tail: int = 256) -> CommittedBatches:
    """Batch ids with a commit-marker row — the streaming sink's
    replay-detection set (read once, at the sink's first microbatch).

    Markers are scoped to the streaming QUERY identity when available:
    Spark restarts a query from the same checkpoint with the same
    query id AND the same batch ids, so ``COMMIT_<query_id>_<batch_id>``
    identifies a true replay. A fresh checkpoint (new query id) starts
    its batch ids at 0 again — an unscoped marker set would silently
    skip a legitimately NEW stream's first batches (data loss, worse
    than a duplicate); scoped markers let it proceed, and row-level
    duplicates across checkpoints are ``dedup_transactions_stream``'s
    job.  ``query_id=None`` matches the legacy unscoped format.

    Bounded by construction: the marker ids are aggregated ENGINE-side
    (max + the ``tail`` newest distinct ids collected); everything at
    or below ``max - tail`` is answered by the floor (ids are monotone
    per query identity — see ``CommittedBatches``). A months-long
    stream's restart therefore reads O(tail) rows onto the driver, not
    O(every batch ever committed)."""
    if not wh.exists(TABLE):
        return CommittedBatches()
    prefix = f"COMMIT_{query_id}_" if query_id else "COMMIT_BATCH_"
    marked = (
        wh.read(TABLE)
        .where(
            (F.col("table_name") == table_name)
            & F.col("status").startswith(prefix)
        )
        .select(F.regexp_extract("status", r"_(\d+)$", 1)
                .cast("long").alias("bid"))
        .where(F.col("bid").isNotNull())
    )
    mx = marked.agg(F.max("bid").alias("m")).first()["m"]
    if mx is None:
        return CommittedBatches()
    floor = int(mx) - int(tail)
    ids = {
        int(r["bid"])
        for r in marked.where(F.col("bid") > floor).distinct().collect()
    }
    return CommittedBatches(ids, floor)
