"""Commit-log checkpointing: metadata replay must stay O(interval), not
O(total commits), under microbatch-scale commit counts.

Round-5 verdict item #1: at one commit per streaming microbatch the log
reaches thousands of JSON entries within days, and `_replay_state` used
to list AND parse every one of them on every cold read — the metadata
plane's small-files problem. The fix is the Iceberg checkpoint shape: a
``<seq>.checkpoint.json`` folding the replayed state (file set + stats +
retention per table) every ``checkpoint_interval`` commits; readers
replay checkpoint + suffix.

These tests exercise BOTH planes:
- real Spark commits end-to-end (auto-checkpoint cadence, reads, time
  travel, conflicts, torn-checkpoint fallback);
- a fabricated 1,200-entry log (pure metadata, no Spark) proving the
  parse count is flat at the thousands-of-commits scale the verdict
  asked for — fabricating entries is honest here because entry files are
  the protocol's public on-disk format and the replay code cannot tell
  who wrote them.

Retention (verdict item #5): ``read_at`` behind a compact/cluster's
vacuum horizon raises the typed ``SnapshotVacuumed`` instead of a raw
Spark missing-file error.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
from decimal import Decimal

import pytest

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
    SnapshotVacuumed,
    Transaction,
    Warehouse,
)


def _tx_rows(spark, n, day=1, prefix="t"):
    rows = [
        (f"{prefix}{i}", datetime.datetime(2021, 3, day, 10, 0, i % 60),
         Decimal("1.00"), "C1", "PAYMENT", "SUCCESS", "T")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema=schemas.TRANSACTIONS)


def _fabricate_log(root: str, n_entries: int) -> None:
    """Write n synthetic append entries in the protocol's on-disk format
    (what a streaming sink's microbatch commits produce)."""
    log_dir = os.path.join(root, "_commitlog")
    os.makedirs(log_dir, exist_ok=True)
    for seq in range(1, n_entries + 1):
        entry = {
            "txn": f"fab{seq:06d}",
            "op": "add",
            "tables": {"events": [f"txn-fab{seq:06d}-001-00000.parquet"]},
            "stats": {"events": {
                f"txn-fab{seq:06d}-001-00000.parquet": {"id": [seq, seq]}
            }},
        }
        with open(os.path.join(log_dir, f"{seq:09d}.json"), "w") as f:
            json.dump(entry, f)


class TestCheckpointBoundsReplay:
    def test_thousand_commit_log_parses_flat(self, tmp_path):
        """1,200 microbatch commits + periodic checkpoints: a cold
        reader parses only the suffix after the newest checkpoint, and
        the replayed file set is byte-identical to a full replay."""
        root = str(tmp_path / "wh")
        n, interval = 1200, 32
        _fabricate_log(root, n)

        # no checkpoints yet: a cold replay parses everything
        full = Warehouse(None, root, checkpoint_interval=0)
        files_full = full._manifest_files("events")
        assert full.last_replay_parsed == n
        assert len(files_full) == n

        # simulate the committer's checkpoint cadence over the log
        writer = Warehouse(None, root, checkpoint_interval=interval)
        for seq in range(interval, n + 1, interval):
            writer._maybe_checkpoint(seq)
        ckpts = glob.glob(os.path.join(root, "_commitlog", "*.checkpoint.json"))
        assert len(ckpts) == n // interval

        # cold reader: replay = newest checkpoint + suffix, NOT the log
        reader = Warehouse(None, root, checkpoint_interval=interval)
        files_ck = reader._manifest_files("events")
        assert reader.last_replay_parsed == n % interval  # suffix only
        assert reader.last_replay_parsed <= interval
        assert files_ck == files_full
        # stats survive the checkpoint fold identically too
        assert reader._manifest_stats("events") == full._manifest_stats("events")

        # warm re-read in the same session parses nothing new
        reader._manifest_files("events")
        assert reader.last_replay_parsed == n % interval  # cached state

        # the entry cache is bounded — no dict row per commit forever
        assert len(full._entry_cache) <= Warehouse._ENTRY_CACHE_MAX < n

    def test_time_travel_uses_only_checkpoints_at_or_before(self, tmp_path):
        """read-at-seq must replay THROUGH seq only: a checkpoint newer
        than ``at`` would leak future files into a historical read."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 100)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.write_checkpoint(96)

        cold = Warehouse(None, root)
        # at=50 is before the only checkpoint: full prefix replay, and
        # exactly the first 50 files
        files = cold._manifest_files("events", at=50)
        assert len(files) == 50
        assert cold.last_replay_parsed == 50
        # at=98 rides the seq-96 checkpoint: two suffix entries parsed
        files = cold._manifest_files("events", at=98)
        assert len(files) == 98
        assert cold.last_replay_parsed == 2

    def test_torn_checkpoint_falls_back(self, tmp_path):
        """A truncated checkpoint is an optimization lost, never a wrong
        answer: the reader falls back to the next older checkpoint, then
        to full replay."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 64)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.write_checkpoint(32)
        wh.write_checkpoint(64)
        # tear the newest checkpoint mid-write
        p = os.path.join(root, "_commitlog", f"{64:09d}.checkpoint.json")
        with open(p, "w") as f:
            f.write('{"seq": 64, "tables": {"ev')

        cold = Warehouse(None, root)
        files = cold._manifest_files("events")
        assert len(files) == 64
        assert cold.last_replay_parsed == 32  # fell back to the seq-32 ckpt

        # both torn: full replay still correct
        os.unlink(p)
        os.unlink(os.path.join(root, "_commitlog", f"{32:09d}.checkpoint.json"))
        cold2 = Warehouse(None, root)
        assert len(cold2._manifest_files("events")) == 64
        assert cold2.last_replay_parsed == 64


class TestCheckpointEndToEnd:
    def test_auto_checkpoint_cadence_and_reads(self, spark, tmp_path):
        """Real Spark commits: checkpoints appear on the interval
        without any caller action, a fresh warehouse's read parses only
        the suffix, and the data itself is exactly the union of appends."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root, checkpoint_interval=4)
        total = 0
        for day in range(1, 11):  # 10 commits, interval 4 -> 2 ckpts
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, day, day=day,
                                                prefix=f"d{day}-"))
            total += day
        ckpts = sorted(glob.glob(
            os.path.join(root, "_commitlog", "*.checkpoint.json")))
        assert [os.path.basename(c) for c in ckpts] == [
            "000000004.checkpoint.json", "000000008.checkpoint.json"]

        cold = Warehouse(spark, root, checkpoint_interval=4)
        assert cold.read_transactions().count() == total
        assert cold.last_replay_parsed == 2  # seqs 9, 10 after the seq-8 ckpt
        # partition pruning still works through the checkpointed manifest
        assert cold.read_transactions(
            since=datetime.date(2021, 3, 7), until=datetime.date(2021, 3, 7)
        ).count() == 7

    def test_time_travel_and_conflict_detection_still_hold(self, spark, tmp_path):
        """Checkpoints are replay acceleration only: read_at at an old
        seq returns the old snapshot, and a replace whose base predates
        a checkpointed commit still conflicts."""
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
            CommitConflict,
        )

        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root, checkpoint_interval=2)
        for day in (1, 2, 3, 4):
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, 2, day=day))
        assert glob.glob(os.path.join(root, "_commitlog", "*.checkpoint.json"))
        assert wh.read_at("dwh_fact_transactions", 2).count() == 4
        assert wh.read_at("dwh_fact_transactions", 4).count() == 8

        # stale replace: base_seq=2, but seqs 3 and 4 touched the table
        txn = Transaction(wh)
        txn.replaced = {"dwh_fact_transactions"}
        txn.base_seq = 2
        txn.append(_tx_rows(spark, 1), "dwh_fact_transactions")
        with pytest.raises(CommitConflict):
            txn.commit()

    def test_timestamp_as_of_resolves_between_commits(self, spark, tmp_path):
        """TIMESTAMP AS OF: a wall-clock between two commits resolves to
        the earlier one (newest commit at-or-before ts); a ts before
        every commit raises; snapshots() exposes committed_at. Commit
        times come from the recorded entry ts (mtime fallback for old
        logs), so the resolution survives a log-directory copy."""
        import datetime as dt

        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, 2, day=1))
        t1 = wh._entry_time(1)
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, 3, day=2))
        t2 = wh._entry_time(2)
        assert t1 <= t2
        mid = dt.datetime.fromtimestamp((t1 + t2) / 2 + 1e-4,
                                        tz=dt.timezone.utc)
        tbl = "dwh_fact_transactions"
        if t2 - t1 > 2e-4:  # clock granularity guard (never in practice)
            assert wh.read_at_timestamp(tbl, mid).count() == 2
        assert wh.read_at_timestamp(
            tbl, dt.datetime.now(dt.timezone.utc)).count() == 5
        # ISO-string form, just past the commit instant (the datetime
        # roundtrip truncates to microseconds, which can land BELOW the
        # recorded float epoch)
        assert wh.read_at_timestamp(
            tbl, dt.datetime.fromtimestamp(
                t1 + 1e-3, tz=dt.timezone.utc).isoformat()).count() == 2
        with pytest.raises(ValueError, match="predates every commit"):
            wh.read_at_timestamp(
                tbl, dt.datetime.fromtimestamp(t1 - 10,
                                               tz=dt.timezone.utc))
        assert all("committed_at" in s for s in wh.snapshots())

    def test_committed_at_round_trips_to_own_seq(self, spark, tmp_path):
        """Every snapshot's committed_at ISO string must resolve back
        to ITS OWN seq through TIMESTAMP AS OF. The ISO string is
        quantized to datetime's microseconds while the entry stores a
        full-precision epoch float, so without the resolver's one-us
        tolerance roughly half of all round trips land a hair EARLY
        and resolve to the previous commit — or, for the first commit,
        to 'predates every commit' (the r10 fast-lane flake)."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        for day in (1, 2, 3, 4, 5):
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, 2, day=day))
        for s in wh.snapshots():
            best, _ = wh._seq_at_timestamp(s["committed_at"])
            assert best == s["seq"], (
                f"committed_at of seq {s['seq']} resolved to {best}")

    def test_compact_checkpoints_and_sets_retention(self, spark, tmp_path):
        """compact() writes a checkpoint at its natural fold point and
        advances the retention horizon: read_at older than the compact
        raises the typed SnapshotVacuumed naming the boundary; the
        boundary snapshot itself stays readable."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root, checkpoint_interval=0)  # only compact's
        for day in (1, 2, 3):
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, 3, day=day))
        wh.compact("dwh_fact_transactions")
        boundary = wh.min_readable_seq("dwh_fact_transactions")
        assert boundary == 4  # the compact's replace entry
        assert glob.glob(os.path.join(root, "_commitlog", "*.checkpoint.json"))

        with pytest.raises(SnapshotVacuumed, match="oldest readable snapshot is 4"):
            wh.read_at("dwh_fact_transactions", 2)
        assert wh.read_at("dwh_fact_transactions", boundary).count() == 9
        # head read unaffected
        assert wh.read_transactions().count() == 9

    def test_merge_table_does_not_advance_retention(self, spark, tmp_path):
        """merge_table is a logical change, not file maintenance: old
        files stay on disk and pre-merge snapshots stay readable."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append(
                spark.createDataFrame(
                    [(1, 1, "a"), (2, 1, "b")], "k int, v int, payload string"
                ).coalesce(1),
                "kv",
            )
        changes = spark.createDataFrame(
            [(2, 2, "b2", "U")], "k int, v int, payload string, op string"
        )
        wh.merge_table("kv", changes, key="k", version_cols=["v"],
                       payload_cols=["payload"])
        assert wh.min_readable_seq("kv") == 0
        pre = {r["k"]: r["payload"] for r in wh.read_at("kv", 1).collect()}
        assert pre == {1: "a", 2: "b"}
        post = {r["k"]: r["payload"] for r in wh.read("kv").collect()}
        assert post == {1: "a", 2: "b2"}


class TestClusterTablePartitioned:
    def test_cluster_preserves_dt_layout_and_composes_with_append(
            self, spark, tmp_path):
        """Round-5 advisor (medium): clustering a dt-partitioned table
        must keep dt as a DIRECTORY, so a later partitioned append does
        not mix dt-as-directory with dt-as-data under one basePath."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        for day in (1, 2):
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, 20, day=day,
                                                prefix=f"d{day}-"))
        wh.cluster_table("dwh_fact_transactions", "card_num", n_files=4)

        # every live file sits under a dt=... directory, none at root
        table_dir = os.path.join(root, "dwh_fact_transactions")
        live = wh._manifest_files("dwh_fact_transactions")
        assert live and all(
            rel.startswith("transaction_date_day=") for rel in live)
        assert not glob.glob(os.path.join(table_dir, "*.parquet"))

        # a subsequent partitioned append composes cleanly
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, 5, day=3, prefix="d3-"))
        df = wh.read_transactions()
        assert df.count() == 45
        # dt still parses as a partition column and prunes
        assert wh.read_transactions(
            since=datetime.date(2021, 3, 3), until=datetime.date(2021, 3, 3)
        ).count() == 5

    def test_cluster_sets_retention(self, spark, tmp_path):
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append(
                spark.createDataFrame(
                    [(i, f"p{i}") for i in range(50)], "id int, p string"
                ).coalesce(2),
                "flat",
            )
        wh.cluster_table("flat", "id", n_files=4)
        assert wh.min_readable_seq("flat") == 2
        with pytest.raises(SnapshotVacuumed):
            wh.read_at("flat", 1)
        assert wh.read("flat").count() == 50


class TestPruneEmptyFallback:
    def test_all_files_pruned_keeps_mergeschema_reader(self, spark, tmp_path):
        """Round-5 advisor (low): the all-pruned empty-frame path must
        go through the configured reader so mergeSchema still unions
        evolved columns into the empty result's schema."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append(spark.createDataFrame([(1,)], "id int").coalesce(1), "ev")
        with wh.transaction():
            wh.append(spark.createDataFrame([(2, "x")], "id int, extra string")
                      .coalesce(1), "ev")
        out = wh.read("ev", merge_schema=True, prune={"id": (10_000, None)})
        assert out.count() == 0
        assert set(out.columns) == {"id", "extra"}

    def test_replace_to_zero_files_reads_empty(self, spark, tmp_path):
        """A replace that publishes zero files must read back as an
        empty typed frame (schema path), not IndexError."""
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append(spark.createDataFrame([(1,)], "id int").coalesce(1), "ev")
        txn = Transaction(wh)
        txn.replaced = {"ev"}
        txn.base_seq = wh._latest_seq()
        txn.pending["ev"] = []  # replace with nothing (e.g. full purge)
        txn.commit()
        import pyspark.sql.types as T
        schema = T.StructType([T.StructField("id", T.IntegerType())])
        assert wh.read("ev", schema=schema).count() == 0
        assert wh.read("ev", schema=schema, prune={"id": (0, 5)}).count() == 0


class TestExpireLog:
    def test_expire_bounds_directory_same_state(self, tmp_path):
        """1,200 microbatch commits, keep 100: the directory shrinks to
        100 entries + 1 horizon checkpoint, the head state replays
        identically, and snapshots() lists only the retained window."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 1200)
        wh = Warehouse(None, root, checkpoint_interval=0)
        before = wh._manifest_files("events")
        stats_before = wh._manifest_stats("events")

        removed = wh.expire_log(keep_entries=100)
        assert removed == 1100
        log_dir = os.path.join(root, "_commitlog")
        names = sorted(os.listdir(log_dir))
        entries = [n for n in names if n.endswith(".json")
                   and not n.endswith(".checkpoint.json")]
        ckpts = [n for n in names if n.endswith(".checkpoint.json")]
        assert len(entries) == 100 and ckpts == ["000001100.checkpoint.json"]

        cold = Warehouse(None, root)
        assert cold._manifest_files("events") == before
        assert cold._manifest_stats("events") == stats_before
        assert cold.last_replay_parsed == 100
        assert cold.expire_horizon() == 1100
        assert [s["seq"] for s in cold.snapshots()] == list(range(1101, 1201))
        # idempotent below threshold
        assert cold.expire_log(keep_entries=100) == 0

    def test_expire_twice_and_time_travel_boundaries(self, tmp_path):
        root = str(tmp_path / "wh")
        _fabricate_log(root, 300)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.expire_log(keep_entries=200)  # horizon 100
        wh.expire_log(keep_entries=50)   # horizon 250
        cold = Warehouse(None, root)
        assert cold.expire_horizon() == 250
        # at the horizon: full folded state; after: checkpoint + suffix
        assert len(cold._manifest_files("events", at=250)) == 250
        assert len(cold._manifest_files("events", at=275)) == 275
        # superseded checkpoint at 100 was removed
        assert not os.path.exists(
            os.path.join(root, "_commitlog", "000000100.checkpoint.json"))

    def test_read_at_below_horizon_typed_error(self, spark, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
            SnapshotExpired,
        )

        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root, checkpoint_interval=0)
        for day in (1, 2, 3, 4):
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, 2, day=day))
        wh.expire_log(keep_entries=2)  # horizon 2
        assert wh.read_transactions().count() == 8  # head unchanged
        assert wh.read_at("dwh_fact_transactions", 2).count() == 4  # horizon ok
        assert wh.read_at("dwh_fact_transactions", 3).count() == 6
        with pytest.raises(SnapshotExpired, match="oldest replayable"):
            wh.read_at("dwh_fact_transactions", 1)

    def test_replace_with_pre_horizon_base_conflicts(self, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
            CommitConflict,
        )

        root = str(tmp_path / "wh")
        _fabricate_log(root, 50)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.expire_log(keep_entries=10)  # horizon 40
        txn = Transaction(wh)
        txn.replaced = {"events"}
        txn.base_seq = 20  # below horizon: unverifiable conflict window
        txn.pending = {"events": ["x.parquet"]}
        with pytest.raises(CommitConflict, match="expire horizon"):
            txn.commit()
        # a fresh base at/after the horizon commits fine
        txn2 = Transaction(wh)
        txn2.replaced = {"events"}
        txn2.base_seq = wh._latest_seq()
        txn2.pending = {"events": ["y.parquet"]}
        txn2.commit()
        assert wh._manifest_files("events") == ["y.parquet"]


class TestExpireLogSafety:
    """Round-7 advisor items: sequence-number reuse after expire, and
    the silent-skip window when a read races ``expire_log``."""

    def test_keep_entries_zero_rejected(self, tmp_path):
        """keep_entries=0 would delete EVERY entry file; the next
        commit's sequence scan could then reuse an expired seq (landing
        invisibly below the surviving checkpoint)."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 5)
        wh = Warehouse(None, root, checkpoint_interval=0)
        with pytest.raises(ValueError, match="keep_entries >= 1"):
            wh.expire_log(keep_entries=0)
        with pytest.raises(ValueError, match="keep_entries >= 1"):
            wh.expire_log(keep_entries=-3)
        # nothing was removed by the rejected calls
        assert len(wh._list_log()[0]) == 5

    def test_next_seq_never_reused_below_checkpoint(self, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
            _next_seq,
        )

        root = str(tmp_path / "wh")
        _fabricate_log(root, 10)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.expire_log(keep_entries=1)  # ckpt@9, entry 10 survives
        log_dir = os.path.join(root, "_commitlog")
        assert _next_seq(log_dir) == 11
        # even if every entry file vanished (crash between expire and a
        # later commit, manual cleanup), the checkpoint seq is a floor:
        os.remove(os.path.join(log_dir, "000000010.json"))
        assert _next_seq(log_dir) == 10  # NOT 1 — no reuse below ckpt@9

    def test_commit_lands_above_checkpoint_and_is_visible(self, tmp_path):
        root = str(tmp_path / "wh")
        _fabricate_log(root, 10)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.expire_log(keep_entries=1)
        txn = Transaction(wh)
        txn.pending = {"events": ["post-expire.parquet"]}
        txn.commit()
        cold = Warehouse(None, root)
        files = cold._manifest_files("events")
        assert "post-expire.parquet" in files and len(files) == 11

    def test_read_racing_expire_relists_and_recovers(self, tmp_path):
        """A reader that listed the log BEFORE a concurrent expire_log
        deleted the folded entries must re-list (the new checkpoint is
        then visible) rather than silently dropping those files."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 10)
        Warehouse(None, root, checkpoint_interval=0).expire_log(keep_entries=2)

        reader = Warehouse(None, root, checkpoint_interval=0)
        real_list = reader._list_log
        calls = {"n": 0}

        def stale_then_real():
            calls["n"] += 1
            if calls["n"] == 1:
                return list(range(1, 11)), []  # pre-expire listing
            return real_list()

        reader._list_log = stale_then_real
        files = reader._manifest_files("events")
        assert calls["n"] >= 2 and len(files) == 10  # full state, no loss

    def test_truly_missing_entry_raises_not_silent(self, tmp_path):
        """An entry listed but unreadable with NO covering checkpoint is
        corruption: raising beats returning wrong table contents."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 10)
        reader = Warehouse(None, root, checkpoint_interval=0)
        reader._list_log = lambda: (list(range(1, 11)), [])
        os.remove(os.path.join(root, "_commitlog", "000000005.json"))
        with pytest.raises(RuntimeError, match="commit log inconsistent"):
            reader._manifest_files("events")


class TestAutoExpiry:
    def test_expire_keep_bounds_directory_under_microbatches(self, tmp_path):
        """Opt-in auto-expiry: an unattended committer's log directory
        stays bounded without a maintenance job; head state and the
        typed below-horizon error still hold."""
        root = str(tmp_path / "wh")
        wh = Warehouse(None, root, checkpoint_interval=8, expire_keep=8)
        log_dir = os.path.join(root, "_commitlog")
        os.makedirs(log_dir, exist_ok=True)
        for i in range(1, 41):
            txn = Transaction(wh)
            txn.pending = {"events": [f"f{i:03d}.parquet"]}
            txn.commit()
        entries, ckpts = wh._list_log()
        assert len(entries) <= 16  # keep 8 + at most one fold-interval
        cold = Warehouse(None, root)
        assert len(cold._manifest_files("events")) == 40  # nothing lost
        assert cold.expire_horizon() > 0

    def test_bad_expire_keep_rejected(self, tmp_path):
        with pytest.raises(ValueError, match="expire_keep"):
            Warehouse(None, str(tmp_path / "wh"), expire_keep=0)


class TestSkippedCheckpointGap:
    """Round-12 advisor item: a checkpoint skipped as unusable (torn
    JSON / missing stats sidecar) makes replay fall back to an older
    base — but if expire_log already deleted entries the skipped
    checkpoint folded, the fallback would silently reconstruct STALE
    state. The gap must raise the same 'commit log inconsistent'."""

    def test_missing_sidecar_with_expired_gap_raises(self, tmp_path):
        root = str(tmp_path / "wh")
        _fabricate_log(root, 20)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.expire_log(keep_entries=5)  # horizon ckpt@15, entries 16..20
        # the horizon checkpoint loses its stats sidecar (torn write)
        os.remove(os.path.join(
            root, "_commitlog", "000000015.checkpoint.stats.parquet"))
        cold = Warehouse(None, root, checkpoint_interval=0)
        with pytest.raises(RuntimeError, match="commit log inconsistent"):
            cold._manifest_files("events")

    def test_missing_sidecar_without_gap_degrades(self, tmp_path):
        """When every entry the skipped checkpoint folded still exists,
        the fallback replay is lossless and must succeed (checkpoints
        stay an optimization)."""
        root = str(tmp_path / "wh")
        _fabricate_log(root, 20)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.write_checkpoint()  # ckpt@20, all 20 entries survive
        os.remove(os.path.join(
            root, "_commitlog", "000000020.checkpoint.stats.parquet"))
        cold = Warehouse(None, root, checkpoint_interval=0)
        assert len(cold._manifest_files("events")) == 20
        assert cold.last_replay_parsed == 20  # full replay fallback

    def test_torn_checkpoint_json_with_expired_gap_raises(self, tmp_path):
        root = str(tmp_path / "wh")
        _fabricate_log(root, 20)
        wh = Warehouse(None, root, checkpoint_interval=0)
        wh.expire_log(keep_entries=5)
        p = os.path.join(root, "_commitlog", "000000015.checkpoint.json")
        with open(p, "w") as f:
            f.write('{"seq": 15, "tab')  # torn mid-write
        cold = Warehouse(None, root, checkpoint_interval=0)
        with pytest.raises(RuntimeError, match="commit log inconsistent"):
            cold._manifest_files("events")


class TestTimeBasedRetention:
    """Round-12 verdict item #8: age-based expiry (`expire_log(
    keep_hours=...)`) and a vacuum retention window
    (`vacuum_orphans(retain_hours=...)`) riding each entry's recorded
    commit wall clock / file mtimes."""

    @staticmethod
    def _fabricate_aged_log(root, n, age_step_hours=1.0):
        """n entries whose ts walk backward in time: entry 1 is the
        oldest ((n-1) * step hours ago), entry n committed now."""
        import time as _t

        log_dir = os.path.join(root, "_commitlog")
        os.makedirs(log_dir, exist_ok=True)
        now = _t.time()
        for seq in range(1, n + 1):
            entry = {
                "txn": f"aged{seq:06d}", "op": "add",
                "ts": now - (n - seq) * age_step_hours * 3600.0,
                "tables": {"events": [f"txn-aged{seq:06d}.parquet"]},
            }
            with open(os.path.join(log_dir, f"{seq:09d}.json"), "w") as f:
                json.dump(entry, f)

    def test_age_based_horizon_advances(self, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
            SnapshotExpired,
        )

        root = str(tmp_path / "wh")
        self._fabricate_aged_log(root, 24)  # 23h old .. now, hourly
        wh = Warehouse(None, root, checkpoint_interval=0)
        removed = wh.expire_log(keep_hours=5.5)  # entries 1..18 expire
        assert removed == 18
        cold = Warehouse(None, root)
        assert cold.expire_horizon() == 18
        assert len(cold._manifest_files("events")) == 24  # state intact
        assert [s["seq"] for s in cold.snapshots()] == list(range(19, 25))
        with pytest.raises(SnapshotExpired):
            cold.read_at("events", 17)

    def test_age_expiry_keeps_newest_and_is_idempotent(self, tmp_path):
        root = str(tmp_path / "wh")
        self._fabricate_aged_log(root, 6)
        wh = Warehouse(None, root, checkpoint_interval=0)
        # cutoff older than everything: nothing expires
        assert wh.expire_log(keep_hours=1e6) == 0
        # cutoff in the future: everything but the newest entry expires
        assert wh.expire_log(keep_hours=0) == 5
        assert wh.expire_log(keep_hours=0) == 0  # idempotent
        cold = Warehouse(None, root)
        assert len(cold._manifest_files("events")) == 6
        with pytest.raises(ValueError, match="keep_hours >= 0"):
            wh.expire_log(keep_hours=-1)

    def test_vacuum_retention_window_keeps_young_orphans(
            self, spark, tmp_path):
        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction() as t:
            t.append(spark.createDataFrame(
                [(1,)], "id int").coalesce(1), "ev")
        # fabricate an orphan (a crashed writer's staged file)
        orphan = os.path.join(root, "ev", "txn-crashed-001-00000.parquet")
        committed = os.path.join(root, "ev", wh._manifest_files("ev")[0])
        import shutil as _sh
        _sh.copyfile(committed, orphan)
        # young orphan inside the retention window survives
        assert wh.vacuum_orphans("ev", retain_hours=1.0) == 0
        assert os.path.exists(orphan)
        # aged out (mtime pushed past the window): reclaimed
        old = __import__("time").time() - 7200
        os.utime(orphan, (old, old))
        assert wh.vacuum_orphans("ev", retain_hours=1.0) == 1
        assert not os.path.exists(orphan)
        assert wh.read("ev").count() == 1

    def test_auto_expiry_by_age(self, tmp_path):
        """expire_keep_hours: at the checkpoint fold an unattended
        committer's log expires by AGE — fabricated old entries leave,
        fresh ones (and the head state) survive."""
        root = str(tmp_path / "wh")
        self._fabricate_aged_log(root, 10)  # 9h old .. now, hourly
        wh = Warehouse(None, root, checkpoint_interval=1,
                       expire_keep_hours=2.5)
        txn = Transaction(wh)
        txn.pending = {"events": ["fresh.parquet"]}
        txn.commit()  # interval=1: folds + age-expires
        cold = Warehouse(None, root)
        assert len(cold._manifest_files("events")) == 11
        assert cold.expire_horizon() == 7  # entries >2.5h old are gone
        assert [s["seq"] for s in cold.snapshots()][-1] == 11
