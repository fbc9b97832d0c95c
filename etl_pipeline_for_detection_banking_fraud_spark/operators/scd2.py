"""SCD Type-2 dimension maintenance as a deterministic union-rewrite.

Re-implements the reference's terminal-history increment + apply
(reference: py_scripts/incr_loading.py:13-129, SURVEY §2 J3/F6/J7/L4)
without in-place UPDATEs: parquet is immutable, so the new dimension
state is computed as one declarative plan and written as a replace of
the table's file set (Warehouse.rewrite), in the same commit-log entry
as the rest of an atomic day. On Delta/Iceberg the same increments feed
a MERGE.

Faithfully reproduced reference quirks (golden-tested):
- the updated-set join compares the snapshot against ALL history
  versions, not just open ones (incr_loading.py:52-53 has no
  effective_to filter). A terminal whose old closed version differs
  from an unchanged current version is re-flagged "updated" every day,
  inserting a duplicate version. We keep that behavior: parity with the
  reference's own replay output is the round-1 correctness bar.
- the deleted set selects every history row of a vanished id
  (incr_loading.py:30-39), so multi-version terminals get one tombstone
  per version.
- change detection is null-safe (IS DISTINCT FROM -> eqNullSafe;
  plain != would silently drop NULL->value attribute changes).

Scale: increments are snapshot-vs-dimension joins on the key — the
snapshot is a full feed and the dimension carries a few versions per
key, so both sides partition by terminal_id; for a dimension that fits
in memory (this one: ~150 keys) the history side broadcasts.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import SCD2_OPEN_END_DATE

ATTR_COLS = ["terminal_type", "terminal_city", "terminal_address"]
KEY = "terminal_id"


def apply_increment(hist: DataFrame, snapshot: DataFrame, date_global: datetime.date) -> DataFrame:
    """One day's SCD2 apply -> the dimension's complete next state.

    Equivalent to the reference's 2 UPDATE + 3 INSERT sequence
    (incr_loading.py:60-129): open versions of updated/deleted keys are
    closed at date_global - 1 day; new keys, new versions, and
    tombstones (deleted_flg=True) are appended open-ended.

    Single-pass formulation: ONE full-outer join of history (version
    granularity) against the snapshot on the key, per-key change flags
    via a window over the join output, and every output row — adjusted
    existing version, appended new version, tombstone — emitted from one
    conditional-array explode. 3 exchanges total (two join sides + the
    window's coalesced key), and each input is scanned once. The
    increment-per-increment SQL (new / updated / deleted sets, then the
    closes and inserts) is the DuckDB oracle's (tests/ref_oracle.py),
    which the SCD2 tests compare against.
    """
    s = snapshot.select(
        F.col(KEY).alias("_s_key"), *[F.col(c).alias(f"_s_{c}") for c in ATTR_COLS]
    )
    j = hist.join(s, F.col(KEY) == F.col("_s_key"), "full_outer")

    differ = None
    for c in ATTR_COLS:
        neq = ~F.col(f"_s_{c}").eqNullSafe(F.col(c))
        differ = neq if differ is None else (differ | neq)
    # version-level: this history version differs null-safely from the
    # snapshot (incr_loading.py:52-53 compares against ALL versions — a
    # differing CLOSED version still triggers an append; quirk preserved)
    differ = differ & F.col("_s_key").isNotNull() & F.col(KEY).isNotNull()

    from pyspark.sql.window import Window

    # window flags materialized in their own projection — a window
    # expression nested inside the explode projection below is unresolvable
    w = Window.partitionBy(F.coalesce(F.col(KEY), F.col("_s_key")))
    j = j.withColumn("_differ", differ).withColumn(
        "_key_has_diff", F.max(F.col("_differ").cast("int")).over(w) == 1
    )
    differ = F.col("_differ")
    is_deleted = F.col("_s_key").isNull()   # hist version of a vanished key
    is_new = F.col(KEY).isNull()            # snapshot key never seen

    closing = F.col("_key_has_diff") | is_deleted
    adjusted_to = F.when(
        (F.col("effective_to") == F.lit(SCD2_OPEN_END_DATE)) & closing,
        F.date_sub(F.lit(date_global), 1),
    ).otherwise(F.col("effective_to"))

    def _row(key, attrs, eff_from, eff_to, deleted):
        return F.struct(
            key.alias(KEY),
            *[a.alias(c) for a, c in zip(attrs, ATTR_COLS)],
            eff_from.alias("effective_from"),
            eff_to.alias("effective_to"),
            deleted.alias("deleted_flg"),
        )

    hist_attrs = [F.col(c) for c in ATTR_COLS]
    snap_attrs = [F.col(f"_s_{c}") for c in ATTR_COLS]
    open_end = F.lit(SCD2_OPEN_END_DATE)
    today = F.lit(date_global)
    outputs = F.array(
        # existing version, effective_to adjusted if its key closes today
        F.when(F.col(KEY).isNotNull(),
               _row(F.col(KEY), hist_attrs, F.col("effective_from"),
                    adjusted_to, F.col("deleted_flg"))),
        # appended open version: new key (once) or one per differing
        # history version (duplicate-append quirk preserved)
        F.when(is_new | differ,
               _row(F.col("_s_key"), snap_attrs, today, open_end, F.lit(False))),
        # one tombstone per history version of a vanished key
        F.when(is_deleted,
               _row(F.col(KEY), hist_attrs, today, open_end, F.lit(True))),
    )
    return (
        j.select(F.explode(F.filter(outputs, lambda x: x.isNotNull())).alias("_r"))
        .select("_r.*")
    )
