"""Commit-log transactions: atomic multi-table visibility, crash
injection (kill between data-file publish and manifest link) in both the
batch and streaming paths, legacy adoption, tracked-table compaction and
orphan vacuum.

The protocol closes round-4's documented at-least-once window: a replay
of a microbatch (or a re-run of a day) that crashed between the fact
append and the commit marker must produce ZERO duplicate rows.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
from decimal import Decimal

import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
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


def test_txn_commit_is_atomic_across_tables(spark, tmp_path):
    """Nothing visible before commit — to OTHER readers; everything
    after; the writing warehouse reads its own pending rows."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    other = Warehouse(spark, root)  # independent reader, same root

    txn = wh.begin()
    wh.append_transactions(_tx_rows(spark, 5))
    wh.append(
        spark.createDataFrame(
            [("stage_a", datetime.date(2021, 3, 1), 5, "SUCCESS")],
            schema=schemas.META_LOADING,
        ).coalesce(1),
        "meta_loading",
    )
    # data files are physically present but uncommitted
    assert glob.glob(os.path.join(root, "dwh_fact_transactions", "transaction_date_day=*", "txn-*"))
    assert other.read_transactions().count() == 0  # invisible to readers
    assert not other.exists("meta_loading")
    assert wh.read_transactions().count() == 5  # read-your-own-writes

    txn.commit()
    assert other.read_transactions().count() == 5
    assert other.read("meta_loading").count() == 1
    # partition pruning still works through the by-name manifest read
    assert other.read_transactions(
        since=datetime.date(2021, 3, 1), until=datetime.date(2021, 3, 1)
    ).count() == 5


def test_txn_abort_leaves_nothing(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    with pytest.raises(RuntimeError, match="boom"):
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, 3))
            raise RuntimeError("boom")
    assert wh.read_transactions().count() == 0
    assert not glob.glob(
        os.path.join(root, "dwh_fact_transactions",
                     "transaction_date_day=*", "txn-*")
    )  # abort deleted its staged files


def test_crash_before_manifest_link_then_replay(spark, tmp_path, monkeypatch):
    """Kill between the data-file publish and the commit link: the files
    exist on disk but no reader sees them; a straight replay of the same
    append yields exactly one copy; vacuum removes the orphans."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)

    real_commit = Transaction.commit
    crashed = {}

    def crashing_commit(self):
        if not crashed:
            crashed["yes"] = True
            self._finish()  # process dies: pointer state is irrelevant
            raise RuntimeError("simulated kill before manifest link")
        return real_commit(self)

    monkeypatch.setattr(Transaction, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated kill"):
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, 7))

    # "restart": a fresh process = fresh Warehouse over the same root
    wh2 = Warehouse(spark, root)
    assert wh2.read_transactions().count() == 0  # crash left nothing visible
    with wh2.transaction():
        wh2.append_transactions(_tx_rows(spark, 7))  # the replay
    assert wh2.read_transactions().count() == 7  # exactly once
    assert wh2.read_transactions().select("transaction_id").distinct().count() == 7

    orphans = wh2.vacuum_orphans("dwh_fact_transactions")
    assert orphans >= 1  # the crashed txn's files are gone now
    assert wh2.read_transactions().count() == 7  # vacuum kept committed data


def test_legacy_table_adoption(spark, tmp_path):
    """First transactional append to a legacy-layout table keeps the
    pre-existing rows visible (they are adopted into the entry)."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.append_transactions(_tx_rows(spark, 4, prefix="legacy"))  # legacy append
    with wh.transaction():
        wh.append_transactions(_tx_rows(spark, 2, day=2, prefix="new"))
    assert wh.read_transactions().count() == 6
    # now tracked: a crashed-orphan file would be invisible
    fresh = Warehouse(spark, root)
    assert fresh.read_transactions().count() == 6


def test_compact_tracked_table_snapshot(spark, tmp_path):
    """compact() on a commit-log table folds N add-entries into one
    replace snapshot: same rows, fewer files, old files deleted."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    for d in (1, 2):
        for b in range(3):
            with wh.transaction():
                wh.append_transactions(_tx_rows(spark, 4, day=d, prefix=f"d{d}b{b}"))
    table_dir = os.path.join(root, "dwh_fact_transactions")
    files_before = glob.glob(os.path.join(
        table_dir, "transaction_date_day=*", "*.parquet"))
    assert wh.read_transactions().count() == 24
    wh.compact("dwh_fact_transactions")
    files_after = glob.glob(os.path.join(
        table_dir, "transaction_date_day=*", "*.parquet"))
    assert len(files_after) < len(files_before)
    assert wh.read_transactions().count() == 24
    assert wh.read_transactions(
        since=datetime.date(2021, 3, 2), until=datetime.date(2021, 3, 2)
    ).count() == 12
    # a fresh reader resolves through the replace entry identically
    assert Warehouse(spark, root).read_transactions().count() == 24


def test_batch_day_crash_and_rerun_no_duplicates(spark, feeds, tmp_path, monkeypatch):
    """DailyBatch(atomic=True): kill the day's single commit — nothing
    (facts, blacklist, mart, audit) is visible; the re-run lands every
    table exactly once. This is the batch half of the exactly-once
    claim; the reference analog is the one-Postgres-transaction commit
    in loading_rep_fraud.py:135."""
    dims = load_seed_dims(spark, feeds.seed_dml)
    day1 = feeds.paths(0)
    root = str(tmp_path / "wh")
    batch = DailyBatch(spark, root, dims, atomic=True)

    real_commit = Transaction.commit
    crashed = {}

    def crashing_commit(self):
        if not crashed:
            crashed["yes"] = True
            self._finish()
            raise RuntimeError("simulated kill before manifest link")
        return real_commit(self)

    monkeypatch.setattr(Transaction, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated kill"):
        batch.run_day(*day1)

    fresh = Warehouse(spark, root)
    assert fresh.read_transactions().count() == 0
    assert not fresh.exists("rep_fraud")

    # re-run after the "restart" (input files are still in place —
    # archival happens after the commit point)
    batch2 = DailyBatch(spark, root, dims, atomic=True)
    counts = batch2.run_day(*day1)
    wh = Warehouse(spark, root)
    assert wh.read_transactions().count() == counts["stg_transactions"]
    assert (
        wh.read_transactions().select("transaction_id").distinct().count()
        == counts["stg_transactions"]
    )
    # day-1 golden mart size (747+296+10+47 accumulate over 3 days; day 1
    # alone is deterministic too — just assert no dupes instead of a pin)
    mart = wh.read_mart()
    assert mart.count() == mart.distinct().count()
    assert mart.count() > 0


HIST_COLS = ["terminal_id", "terminal_type", "terminal_city",
             "terminal_address", "effective_from", "effective_to",
             "deleted_flg"]


def _rows(df) -> list[tuple]:
    """A frame's rows as a sorted multiset (``repr`` orders NULLs too)."""
    return sorted(map(tuple, df.collect()), key=repr)


def _oracle_hists(feeds, n_days: int) -> list[list[tuple]]:
    """The DuckDB oracle's SCD2 dimension after each of the first
    ``n_days`` days of ``feeds``, as sorted row tuples."""
    import pandas as pd

    from . import ref_oracle
    from .conftest import TERM_COLS

    con = ref_oracle.make_oracle()
    dims = feeds.world.dims_pandas()
    ref_oracle.load_dims(con, dims["cards"], dims["accounts"], dims["clients"])
    out = []
    for feed in feeds.days[:n_days]:
        ref_oracle.run_day(
            con, feed.tx,
            pd.DataFrame(feed.blacklist, columns=["dt", "passport"]),
            pd.DataFrame(feed.terminals, columns=TERM_COLS), feed.date)
        out.append(sorted(con.sql(
            f"SELECT {', '.join(HIST_COLS)} FROM hist").fetchall(), key=repr))
    return out


def test_batch_day_crash_keeps_dimension_with_its_day(spark, feeds, tmp_path,
                                                      monkeypatch):
    """The SCD2 dimension commits with its day: kill day 2's one commit
    and every table — the dimension included — reads exactly as after
    day 1; the re-run of day 2 lands the oracle's day-2 dimension."""
    dims = load_seed_dims(spark, feeds.seed_dml)
    root = str(tmp_path / "wh")
    hist1, hist2 = _oracle_hists(feeds, 2)
    DailyBatch(spark, root, dims, atomic=True).run_day(*feeds.paths(0))

    def state(wh):
        return {
            "hist": _rows(wh.read("dwh_dim_terminals_hist").select(*HIST_COLS)),
            "tx": _rows(wh.read_transactions()),
            "bl": _rows(wh.read("dwh_fact_passport_blacklist")),
            "mart": _rows(wh.read_mart()),
            "meta": _rows(wh.read("meta_loading")),
        }

    after_day1 = state(Warehouse(spark, root))
    assert after_day1["hist"] == hist1

    real_commit = Transaction.commit

    def crashing_commit(self):
        self._finish()
        raise RuntimeError("simulated kill before manifest link")

    monkeypatch.setattr(Transaction, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated kill"):
        DailyBatch(spark, root, dims, atomic=True).run_day(*feeds.paths(1))
    monkeypatch.setattr(Transaction, "commit", real_commit)

    assert state(Warehouse(spark, root)) == after_day1

    DailyBatch(spark, root, dims, atomic=True).run_day(*feeds.paths(1))
    wh = Warehouse(spark, root)
    assert _rows(wh.read("dwh_dim_terminals_hist").select(*HIST_COLS)) == hist2
    assert wh.read_transactions().count() == \
        len(feeds.days[0].tx) + len(feeds.days[1].tx)


def test_replace_and_append_in_one_entry(spark, tmp_path):
    """One transaction replaces table ``a`` and appends to table ``b``:
    inside it a read of ``a`` sees only the new rows; after the commit a
    fresh reader sees both, and the log holds one entry."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    with wh.transaction():
        wh.append(spark.createDataFrame([(1,), (2,)], "id long"), "a")
        wh.append(spark.createDataFrame([(10,)], "id long"), "b")
    base = len(wh.snapshots())

    with wh.transaction():
        wh.rewrite(spark.createDataFrame([(3,)], "id long"), "a")
        wh.append(spark.createDataFrame([(11,)], "id long"), "b")
        assert _rows(wh.read("a")) == [(3,)]
        assert _rows(wh.read("b")) == [(10,), (11,)]
        assert Warehouse(spark, root).read("a").count() == 2  # not yet

    fresh = Warehouse(spark, root)
    assert _rows(fresh.read("a")) == [(3,)]
    assert _rows(fresh.read("b")) == [(10,), (11,)]
    snaps = fresh.snapshots()
    assert len(snaps) == base + 1
    assert snaps[-1]["op"] == "replace"
    assert fresh._load_entry(snaps[-1]["seq"])["append_tables"] == ["b"]
    # the replaced rows stay readable by time travel
    assert _rows(fresh.read_at("a", snaps[-2]["seq"])) == [(1,), (2,)]


def test_batch_atomic_matches_legacy_replay(spark, feeds, tmp_path):
    """The atomic day produces byte-identical LOGICAL state to the
    legacy day: same fact rows, same mart rows."""
    dims = load_seed_dims(spark, feeds.seed_dml)
    day1 = feeds.paths(0)
    legacy_root = str(tmp_path / "legacy")
    atomic_root = str(tmp_path / "atomic")
    DailyBatch(spark, legacy_root, dims, atomic=False).run_day(*day1)
    DailyBatch(spark, atomic_root, dims, atomic=True).run_day(*day1)
    lw, aw = Warehouse(spark, legacy_root), Warehouse(spark, atomic_root)
    assert (
        lw.read_transactions().exceptAll(aw.read_transactions()).count() == 0
        and aw.read_transactions().exceptAll(lw.read_transactions()).count() == 0
    )
    assert (
        lw.read_mart().exceptAll(aw.read_mart()).count() == 0
        and aw.read_mart().exceptAll(lw.read_mart()).count() == 0
    )


DAY1 = "transactions_01032021.txt"


def test_streaming_crash_between_append_and_marker(spark, feeds, tmp_path,
                                                   monkeypatch):
    """THE round-4 caveat, now closed: crash the sink between the fact
    append and the marker commit; the checkpoint replays the microbatch
    on restart and the warehouse ends with ZERO duplicate rows."""
    from etl_pipeline_for_detection_banking_fraud_spark.streaming import ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    shutil.copy(os.path.join(feeds.dir, DAY1), inbox / DAY1)
    root = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(spark, root)

    real_commit = Transaction.commit
    crashed = {}

    def crashing_commit(self):
        if not crashed:
            crashed["yes"] = True
            self._finish()
            raise RuntimeError("simulated kill before manifest link")
        return real_commit(self)

    monkeypatch.setattr(Transaction, "commit", crashing_commit)

    tx = ingest.read_transactions_stream(spark, str(inbox) + "/*.txt")
    q = ingest.stream_to_warehouse(tx, wh, ckpt)
    with pytest.raises(Exception, match="simulated kill"):
        q.processAllAvailable()
    q.stop()

    # crash left nothing visible
    assert Warehouse(spark, root).read_transactions().count() == 0

    # restart from the same checkpoint: Spark replays the batch, the
    # sink sees no marker (nothing committed) and re-appends — once
    wh2 = Warehouse(spark, root)
    tx2 = ingest.read_transactions_stream(spark, str(inbox) + "/*.txt")
    q2 = ingest.stream_to_warehouse(tx2, wh2, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = Warehouse(spark, root).read_transactions()
    n = got.count()
    assert n == len(feeds.days[0].tx)  # the rows the generator wrote
    assert got.select("transaction_id").distinct().count() == n
    meta = Warehouse(spark, root).read("meta_loading").toPandas()
    assert (meta.status.str.startswith("COMMIT_")).sum() == 1


def test_time_travel_reads(spark, tmp_path):
    """Every commit is a snapshot: read_at(seq) reproduces the table as
    of that transaction; snapshots() lists the history."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    for d, n in ((1, 3), (2, 5), (3, 7)):
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, n, day=d, prefix=f"d{d}"))

    snaps = wh.snapshots()
    assert [s["op"] for s in snaps] == ["add", "add", "add"]
    seqs = [s["seq"] for s in snaps]
    assert wh.read_at("dwh_fact_transactions", seqs[0]).count() == 3
    assert wh.read_at("dwh_fact_transactions", seqs[1]).count() == 8
    assert wh.read_at("dwh_fact_transactions", seqs[2]).count() == 15
    assert wh.read_transactions().count() == 15  # latest == normal read
    # partition pruning works in historical reads too
    old = wh.read_at("dwh_fact_transactions", seqs[1])
    assert old.where(
        old.transaction_date_day == datetime.date(2021, 3, 2)
    ).count() == 5

    # legacy tables have no history
    wh.append_transactions(_tx_rows(spark, 2, prefix="legacy"), "legacy_tx")
    with pytest.raises(ValueError, match="no commit-log history"):
        wh.read_at("legacy_tx", seqs[2])

    # compaction rewrites the file set: snapshots() records the replace
    wh.compact("dwh_fact_transactions")
    snaps2 = wh.snapshots()
    assert snaps2[-1]["op"] == "replace"
    assert wh.read_at(
        "dwh_fact_transactions", snaps2[-1]["seq"]
    ).count() == 15


def test_incremental_atomic_matches_incremental_legacy(spark, feeds, tmp_path):
    """The scale mode (incremental) composes with the exactly-once mode
    (atomic): identical mart over the 3-day replay. This is the
    production configuration — partition-pruned O(day) rules inside one
    commit-log transaction per day."""
    dims = load_seed_dims(spark, feeds.seed_dml)

    legacy = DailyBatch(spark, str(tmp_path / "leg"), dims, incremental=True)
    atomic = DailyBatch(
        spark, str(tmp_path / "atm"), dims, incremental=True, atomic=True
    )
    for day in range(len(feeds.days)):
        legacy.run_day(*feeds.paths(day))
        atomic.run_day(*feeds.paths(day))
    lm, am = legacy.wh.read_mart(), atomic.wh.read_mart()
    assert lm.count() == am.count()
    assert lm.exceptAll(am).count() == 0 and am.exceptAll(lm).count() == 0
    # one commit per day (plus none extra): the day really is one txn,
    # replacing the SCD2 dimension and appending to every other table
    snaps = atomic.wh.snapshots()
    assert [s["op"] for s in snaps] == ["replace"] * 3
    for s in snaps:
        entry = atomic.wh._load_entry(s["seq"])
        assert set(entry["tables"]) - set(entry["append_tables"]) == {
            "dwh_dim_terminals_hist"}


def test_replace_conflicting_with_append_raises(spark, tmp_path):
    """Lost-update guard: a replace computed from a stale snapshot must
    NOT publish over a concurrent append to the same table."""
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        CommitConflict,
    )

    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    with wh.transaction():
        wh.append_transactions(_tx_rows(spark, 4))

    # open a replace against the current snapshot (seq 1)...
    writer = Warehouse(spark, root)
    txn = Transaction(writer)
    txn.replaced = {"dwh_fact_transactions"}
    txn.base_seq = 1
    txn.append(writer.read_transactions().withColumn(
        "dt", __import__("pyspark").sql.functions.to_date("transaction_date")
    ), "dwh_fact_transactions", partition_by=["dt"])

    # ...then a concurrent append lands first (seq 2)
    racer = Warehouse(spark, root)
    with racer.transaction():
        racer.append_transactions(_tx_rows(spark, 3, prefix="r"))

    with pytest.raises(CommitConflict):
        txn.commit()
    # the loser published nothing: all 7 rows visible, orphans vacuumable
    reader = Warehouse(spark, root)
    assert reader.read_transactions().count() == 7
    assert reader.vacuum_orphans("dwh_fact_transactions") > 0
    assert reader.read_transactions().count() == 7


def test_replace_to_other_table_does_not_conflict(spark, tmp_path):
    """Appends to OTHER tables between snapshot and publish commute
    with the replace — no spurious conflict."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    with wh.transaction():
        wh.append_transactions(_tx_rows(spark, 4))

    writer = Warehouse(spark, root)
    txn = Transaction(writer)
    txn.replaced = {"dwh_fact_transactions"}
    txn.base_seq = 1
    txn.append(writer.read_transactions().withColumn(
        "dt", __import__("pyspark").sql.functions.to_date("transaction_date")
    ), "dwh_fact_transactions", partition_by=["dt"])

    racer = Warehouse(spark, root)
    with racer.transaction():
        racer.append(
            spark.createDataFrame(
                [("s", datetime.date(2021, 3, 1), 1, "SUCCESS")],
                schema=schemas.META_LOADING,
            ).coalesce(1),
            "meta_loading",
        )
    txn.commit()  # no conflict
    reader = Warehouse(spark, root)
    assert reader.read_transactions().count() == 4


def test_compact_retries_through_conflict(spark, tmp_path, monkeypatch):
    """compact() must survive an append racing its read->publish window
    and keep the racing rows (first writer wins, compaction retries)."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    for i in range(3):
        with wh.transaction():
            wh.append_transactions(_tx_rows(spark, 2, prefix=f"b{i}"))

    compactor = Warehouse(spark, root)
    racer = Warehouse(spark, root)
    raced = {"done": False}
    orig_commit = Transaction.commit

    def racing_commit(self):
        # inject a concurrent append just before the FIRST replace publish
        if self.replaced and not raced["done"]:
            raced["done"] = True
            with racer.transaction():
                racer.append_transactions(_tx_rows(spark, 5, prefix="race"))
        return orig_commit(self)

    monkeypatch.setattr(Transaction, "commit", racing_commit)
    compactor.compact("dwh_fact_transactions")
    reader = Warehouse(spark, root)
    assert reader.read_transactions().count() == 11  # 6 compacted + 5 raced
    ids = {r.transaction_id for r in reader.read_transactions().collect()}
    assert {"race0", "b00", "b10", "b20"} <= ids


def test_schema_evolution_merge_read(spark, tmp_path):
    """Additive column evolution on a tracked table: merge_schema reads
    union the footers; pre-evolution files surface nulls."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    with wh.transaction():
        wh.append(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    with wh.transaction():
        wh.append(
            spark.createDataFrame(
                [(2, "b", 9.5)], "id long, v string, score double"
            ),
            "t",
        )
    merged = wh.read("t", merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # time travel before the evolution: the old schema, no phantom column
    assert set(wh.read_at("t", 1).columns) == {"id", "v"}
