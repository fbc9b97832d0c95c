"""File-disjointness-aware replace conflicts (round-12 verdict #1).

Maintenance rewrites (compact / cluster / zorder / fold_dv) rewrite a
FIXED read set of files; a concurrent append's files are disjoint by
construction, so their commit absorbs intervening append-only entries
by carrying the appended files forward into the replace manifest —
the Delta/Iceberg file-granularity conflict model — instead of
raising CommitConflict and livelocking under streaming append rates.

Content-DEPENDENT replaces (merge_when, DML, restore, clone) keep
first-writer-wins: their results are computed FROM table contents at
the base snapshot, so an intervening append must force a recompute.
"""

from __future__ import annotations

import json
import os

import pytest

from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
    Transaction,
    Warehouse,
)


def _wh(spark, tmp_path, name="wh"):
    root = os.path.join(str(tmp_path), name)
    os.makedirs(root, exist_ok=True)
    return Warehouse(spark, root)


def _seed(spark, wh, table="ev", batches=3, rows=4):
    for b in range(batches):
        with wh.transaction() as t:
            t.append(
                spark.createDataFrame(
                    [(b * 100 + i, float(i)) for i in range(rows)],
                    "id int, v double",
                ).coalesce(1),
                table,
            )


def _count_replace_commits(monkeypatch, inject=None):
    """Instrument Transaction.commit: count replace publishes and run
    ``inject(txn)`` once before the FIRST replace publish (simulating a
    writer racing the maintenance window)."""
    calls = {"replace": 0, "injected": False}
    orig = Transaction.commit

    def wrapped(self):
        if self.replaced:
            calls["replace"] += 1
            if inject is not None and not calls["injected"]:
                calls["injected"] = True
                inject(self)
        return orig(self)

    monkeypatch.setattr(Transaction, "commit", wrapped)
    return calls


def _last_entry(wh):
    log = os.path.join(wh.root, "_commitlog")
    seqs = sorted(int(f[:-5]) for f in os.listdir(log)
                  if f.endswith(".json") and f[:-5].isdigit())
    with open(os.path.join(log, f"{seqs[-1]:09d}.json")) as f:
        return json.load(f)


def test_compact_absorbs_concurrent_appends_first_try(
        spark, tmp_path, monkeypatch):
    """compact() racing TWO concurrent appends commits WITHOUT a retry;
    the final table is exactly append-union-compacted and the racing
    files are carried in the replace entry's manifest."""
    wh = _wh(spark, tmp_path)
    _seed(spark, wh, batches=3, rows=4)  # ids 0..3,100..103,200..203
    racer = Warehouse(spark, wh.root)

    def inject(_txn):
        for b in (7, 8):  # two separate racing append commits
            with racer.transaction() as t:
                t.append(
                    spark.createDataFrame(
                        [(b * 1000 + i, float(i)) for i in range(3)],
                        "id int, v double",
                    ).coalesce(1),
                    "ev",
                )

    calls = _count_replace_commits(monkeypatch, inject)
    wh.compact("ev")
    assert calls["replace"] == 1  # absorbed, not retried

    reader = Warehouse(spark, wh.root)
    got = {r["id"] for r in reader.read("ev").collect()}
    want = ({b * 100 + i for b in range(3) for i in range(4)}
            | {b * 1000 + i for b in (7, 8) for i in range(3)})
    assert got == want

    entry = _last_entry(reader)
    assert entry["op"] == "replace"
    absorbed = entry.get("absorbed", {}).get("ev", [])
    assert len(absorbed) == 2  # one file per racing append
    assert set(absorbed) <= set(entry["tables"]["ev"])
    # the absorbed files physically survive compaction's vacuum
    for rel in absorbed:
        assert os.path.isfile(os.path.join(reader._path("ev"), rel))
    # their stats carried forward in replay: still prunable
    stats = reader._manifest_stats("ev")
    assert all(rel in stats for rel in absorbed)


def test_cluster_rewrite_absorbs_concurrent_append(
        spark, tmp_path, monkeypatch):
    wh = _wh(spark, tmp_path)
    _seed(spark, wh, batches=2, rows=8)
    racer = Warehouse(spark, wh.root)

    def inject(_txn):
        with racer.transaction() as t:
            t.append(spark.createDataFrame(
                [(9001, 1.0)], "id int, v double").coalesce(1), "ev")

    calls = _count_replace_commits(monkeypatch, inject)
    wh.cluster_table("ev", "id", n_files=2)
    assert calls["replace"] == 1
    got = {r["id"] for r in Warehouse(spark, wh.root).read("ev").collect()}
    assert 9001 in got and len(got) == 17


def test_fold_dv_absorbs_concurrent_append(spark, tmp_path, monkeypatch):
    """fold_dv rewrites only dv-covered files; a racing append is
    absorbed and its rows survive alongside the folded result."""
    wh = _wh(spark, tmp_path)
    _seed(spark, wh, batches=2, rows=4)
    wh.delete_where("ev", "id = 2", mode="dv")
    racer = Warehouse(spark, wh.root)

    def inject(_txn):
        with racer.transaction() as t:
            t.append(spark.createDataFrame(
                [(5555, 9.0)], "id int, v double").coalesce(1), "ev")

    calls = _count_replace_commits(monkeypatch, inject)
    assert wh.fold_dv("ev") == 1  # one covered file rewritten
    assert calls["replace"] == 1
    reader = Warehouse(spark, wh.root)
    got = {r["id"] for r in reader.read("ev").collect()}
    assert got == {0, 1, 3, 100, 101, 102, 103, 5555}
    assert reader._dv_state("ev") == {}


def test_merge_when_still_conflicts_and_recomputes(
        spark, tmp_path, monkeypatch):
    """merge_when's result DEPENDS on table contents, so it must NOT
    absorb: the racing append forces a retry that recomputes the merge
    over the appended row — proven by the raced key ending up UPDATED,
    which absorption would have left at its inserted value."""
    wh = _wh(spark, tmp_path)
    with wh.transaction() as t:
        t.append(spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "k int, v double").coalesce(1), "t")
    racer = Warehouse(spark, wh.root)

    def inject(_txn):
        with racer.transaction() as t:
            t.append(spark.createDataFrame(
                [(100, 0.0)], "k int, v double").coalesce(1), "t")

    from etl_pipeline_for_detection_banking_fraud_spark.operators import (
        merge as M,
    )

    calls = _count_replace_commits(monkeypatch, inject)
    src = spark.createDataFrame(
        [(2, 20.0), (100, 777.0)], "k int, v double")
    res = wh.merge_when(
        "t", src, ["k"],
        matched=[M.when_matched_update({"v": "source.v"})],
        not_matched=[M.when_not_matched_insert()],
    )
    assert calls["replace"] >= 2  # first attempt lost to the append
    reader = Warehouse(spark, wh.root)
    got = {r["k"]: r["v"] for r in reader.read("t").collect()}
    # the raced row k=100 was MATCHED on retry and updated to 777
    assert got == {1: 1.0, 2: 20.0, 100: 777.0}
    assert res.get("updated") == 2 and res.get("inserted") == 0


def test_absorption_does_not_swallow_concurrent_replace(
        spark, tmp_path, monkeypatch):
    """An intervening REPLACE (here: a DML delete) on the table is a
    hard conflict even for an absorbing compact — compaction retries
    from the post-delete snapshot."""
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (  # noqa: E501
        CommitConflict,
    )

    wh = _wh(spark, tmp_path)
    _seed(spark, wh, batches=2, rows=4)
    racer = Warehouse(spark, wh.root)
    raced = {"done": False}
    orig = Transaction.commit
    raises = {"n": 0}

    def wrapped(self):
        if self.replaced and self.absorb_appends and not raced["done"]:
            raced["done"] = True
            racer.delete_where("ev", "id = 0", mode="rewrite")
        try:
            return orig(self)
        except CommitConflict:
            raises["n"] += 1
            raise

    monkeypatch.setattr(Transaction, "commit", wrapped)
    wh.compact("ev")
    assert raises["n"] >= 1  # the replace raced a replace: conflicted
    got = {r["id"] for r in Warehouse(spark, wh.root).read("ev").collect()}
    assert got == {1, 2, 3, 100, 101, 102, 103}


def test_concurrent_drop_conflicts_with_replace(tmp_path):
    """A DROP TABLE landing inside a replace's conflict window is a
    hard conflict even for an absorbing maintenance rewrite —
    committing the replace would silently resurrect the dropped table
    (pure commit-log, no Spark needed)."""
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (  # noqa: E501
        CommitConflict,
    )

    root = os.path.join(str(tmp_path), "wh")
    boot = Warehouse(None, root, checkpoint_interval=0)
    t0 = Transaction(boot)
    t0.pending = {"tbl": ["seed.parquet"]}
    t0.commit()

    rewriter = Warehouse(None, root, checkpoint_interval=0)
    txn = Transaction(rewriter)
    txn.replaced = {"tbl"}
    txn.base_seq = 1
    txn.absorb_appends = {"tbl"}
    txn.pending = {"tbl": ["compacted.parquet"]}

    dropper = Warehouse(None, root, checkpoint_interval=0)
    td = Transaction(dropper)
    td.drop_tables = ["tbl"]
    td.commit()

    with pytest.raises(CommitConflict):
        txn.commit()
    cold = Warehouse(None, root)
    assert cold._replay_state()["tables"].get("tbl") is None
