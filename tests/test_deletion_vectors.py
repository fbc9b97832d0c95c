"""Merge-on-read DML (deletion vectors): delete_where/update_where
mode="dv" record matched rows in a per-file sidecar referenced by the
commit entry instead of rewriting data files; every read path
anti-joins them out; compaction folds them physically.

Reference has no DML at all — this is the engine's 100 TB lever for
scattered selective deletes (Delta deletion-vector analog).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
    Warehouse,
)


def _wh8(spark, tmp_path, partitioned=False):
    """8 files; ids [10i .. 10i+9]; one row in file i has v NULL."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with wh.transaction():
        for i in range(8):
            rows = spark.createDataFrame(
                [(10 * i + j,
                  None if j == 9 else float(j),
                  dt.date(2021, 3, 1 + i % 4)) for j in range(10)],
                "k long, v double, dt date",
            )
            wh.append(rows.coalesce(1), "t",
                      partition_by=["dt"] if partitioned else None)
    return wh


class TestDvDelete:
    def test_no_data_file_rewrite_and_row_exact(self, spark, tmp_path):
        """A dv delete touching 1 file of 8 writes NO data-file rewrite
        (manifest file set identical) and reads exactly match the
        eager-rewrite result."""
        wh = _wh8(spark, tmp_path)
        before = list(wh._manifest_files("t"))
        n = wh.delete_where("t", "k IN (42, 45)", mode="dv")
        assert n == 2
        assert list(wh._manifest_files("t")) == before  # zero rewrites
        got = sorted(r["k"] for r in wh.read("t").collect())
        # eager differential on an identical table
        wh2 = _wh8(spark, tmp_path / "eager")
        assert wh2.delete_where("t", "k IN (42, 45)") == 2
        expect = sorted(r["k"] for r in wh2.read("t").collect())
        assert got == expect == [k for k in range(80) if k not in (42, 45)]
        # the dv sidecar lives in a hidden dir, referenced by the entry
        dv_map = wh._dv_state("t")
        assert len(dv_map) == 1
        (dv_rel, cov), = dv_map.items()
        assert dv_rel.startswith("_dv/") and len(cov) == 1

    def test_null_rows_and_duplicates_delete_exactly(self, spark, tmp_path):
        """The anti-join is null-safe (a doomed row with NULL columns
        still matches its dv counterpart) and removes duplicate
        identical rows like the eager path does."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame(
            [(1, None), (1, None), (2, 5.0), (3, None)],
            "k long, v double")
        with wh.transaction():
            wh.append(rows.coalesce(1), "t")
        # v IS NULL matches k=1 (x2, duplicates) and k=3
        assert wh.delete_where("t", "v IS NULL", mode="dv") == 3
        assert [r["k"] for r in wh.read("t").collect()] == [2]

    def test_time_travel_and_stacked_dvs(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path)
        pre = wh._latest_seq()
        assert wh.delete_where("t", "k = 11", mode="dv") == 1
        mid = wh._latest_seq()
        assert wh.delete_where("t", "k IN (12, 55)", mode="dv") == 2
        # head sees both deletes; each snapshot sees its own dv state
        assert wh.read("t").count() == 77
        assert wh.read_at("t", pre).count() == 80
        assert wh.read_at("t", mid).count() == 79
        # deleting an already-dv-deleted row is a no-op (no commit)
        head = wh._latest_seq()
        assert wh.delete_where("t", "k = 11", mode="dv") == 0
        assert wh._latest_seq() == head

    def test_compaction_folds_dvs(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path)
        assert wh.delete_where("t", "k IN (42, 45)", mode="dv") == 2
        dv_files = [os.path.join(str(tmp_path / "wh" / "t"), r)
                    for r in wh._dv_state("t")]
        assert all(os.path.exists(f) for f in dv_files)
        wh.compact("t")
        assert wh._dv_state("t") == {}
        assert not any(os.path.exists(f) for f in dv_files)  # reclaimed
        got = sorted(r["k"] for r in wh.read("t").collect())
        assert got == [k for k in range(80) if k not in (42, 45)]

    def test_eager_dml_folds_covered_files(self, spark, tmp_path):
        """An eager rewrite of a dv-covered file folds that file's dv
        rows (they never resurrect) and keeps dv entries covering other
        files alive."""
        wh = _wh8(spark, tmp_path)
        assert wh.delete_where("t", "k IN (42, 71)", mode="dv") == 2
        # eager delete touches file 4 (ids 40..49) only
        assert wh.delete_where("t", "k = 44") == 1
        got = sorted(r["k"] for r in wh.read("t").collect())
        assert got == [k for k in range(80) if k not in (42, 44, 71)]
        # surviving dv entry covers only the file NOT rewritten
        dv_map = wh._dv_state("t")
        covs = sorted(c for cov in dv_map.values() for c in cov)
        assert len(covs) == 1  # the k=71 file's coverage survives

    def test_cdf_delete_feeds_rollup_exactly(self, spark, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark.streaming import (
            rollup,
        )

        wh = _wh8(spark, tmp_path)
        aggs = {"v": ["sum", "count"]}
        assert rollup.bootstrap_rollup(wh, "agg_t", ["dt"], aggs,
                                       wh.read("t"))
        assert wh.delete_where("t", "k IN (42, 45)", mode="dv",
                               cdf=True) == 2
        feed = wh.read("t__cdf")
        assert feed.count() == 2
        assert {r["change_type"] for r in feed.collect()} == {"delete"}
        assert rollup.apply_rollup_cdf_batch(
            wh, "agg_t", ["dt"], aggs, feed, 0)
        got = {r["dt"]: (r["v_sum"], r["v_count"])
               for r in wh.read("agg_t").collect()}
        expect = {r["dt"]: (r["s"], r["c"])
                  for r in wh.read("t").groupBy("dt").agg(
                      F.sum("v").alias("s"),
                      F.count("v").alias("c")).collect()}
        assert got == expect

    def test_table_diff_sees_dv_deletes(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path)
        a = wh._latest_seq()
        assert wh.delete_where("t", "k = 42", mode="dv") == 1
        b = wh._latest_seq()
        diff = wh.table_diff("t", a, b, ["k"]).collect()
        assert [(r["k"], r["_change_type"]) for r in diff] == \
            [(42, "delete")]

    def test_restore_carries_dv_state(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path)
        assert wh.delete_where("t", "k = 42", mode="dv") == 1
        at_dv = wh._latest_seq()
        assert wh.delete_where("t", "k = 43", mode="dv") == 1
        wh.restore("t", at_dv)
        assert wh.read("t").count() == 79  # k=42 gone, k=43 back
        assert sorted(r["k"] for r in
                      wh.read("t").where("k IN (42,43)").collect()) == [43]


class TestDvUpdate:
    def test_merge_on_read_update(self, spark, tmp_path):
        """mode='dv' UPDATE: preimages into the dv sidecar, postimages
        appended as new files — no old data file rewritten."""
        wh = _wh8(spark, tmp_path)
        before = set(wh._manifest_files("t"))
        n = wh.update_where("t", "k = 13", {"v": "v + 100"}, mode="dv")
        assert n == 1
        after = set(wh._manifest_files("t"))
        assert before <= after          # nothing rewritten/removed
        assert len(after - before) == 1  # one postimage file appended
        assert {r["v"] for r in wh.read("t").where("k = 13").collect()} \
            == {103.0}
        assert wh.read("t").count() == 80  # row count conserved

    def test_dv_update_cdf_pairs(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path)
        assert wh.update_where("t", "k = 13", {"v": "v * 2"},
                               mode="dv", cdf=True) == 1
        feed = wh.read("t__cdf").collect()
        types = sorted(r["change_type"] for r in feed)
        assert types == ["update_postimage", "update_preimage"]
        vals = {r["change_type"]: r["v"] for r in feed}
        assert vals == {"update_preimage": 3.0, "update_postimage": 6.0}


class TestDvPartitionedAndStream:
    def test_partitioned_table_dv_then_compact(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path, partitioned=True)
        assert wh.delete_where("t", "k = 42", mode="dv") == 1
        assert wh.table_partition_by("t") == ["dt"]  # spec preserved
        wh.compact("t")
        assert wh.table_partition_by("t") == ["dt"]
        assert all(r.startswith("dt=") for r in wh._manifest_files("t"))
        assert wh.read("t").count() == 79

    @pytest.mark.slow
    def test_stream_refuses_dv_covered_snapshot(self, spark, tmp_path):
        from etl_pipeline_for_detection_banking_fraud_spark.streaming import (
            table_stream as ts,
        )

        root = str(tmp_path / "wh")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append(spark.createDataFrame([(1,), (2,)], "k long")
                      .coalesce(1), "t")
        assert wh.delete_where("t", "k = 2", mode="dv") == 1
        q = (ts.stream_table(spark, root, "t")
             .writeStream.foreachBatch(lambda df, _i: df.collect())
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        with pytest.raises(Exception, match="deletion vector|merge-on-read"):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()
        # after compaction the vectors are folded and the stream plans
        wh.compact("t")
        rows = []
        q2 = (ts.stream_table(spark, root, "t")
              .writeStream.foreachBatch(lambda df, _i: rows.extend(df.collect()))
              .option("checkpointLocation", str(tmp_path / "ck2"))
              .trigger(availableNow=True).start())
        q2.awaitTermination(120)
        assert sorted(r["k"] for r in rows) == [1]


class TestDvLogMaintenance:
    def test_dv_state_survives_expire_log(self, spark, tmp_path):
        """expire_log folds entries into a checkpoint: the dv map (and
        the partition spec) must ride the checkpoint, not just the
        folded entries."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        for day in (1, 2):
            rows = spark.createDataFrame(
                [(day * 10 + j, float(j), dt.date(2021, 3, day))
                 for j in range(4)],
                "k long, v double, dt date")
            with wh.transaction():
                wh.append(rows.coalesce(1), "t", partition_by=["dt"])
        assert wh.delete_where("t", "k = 12", mode="dv") == 1
        # several more commits, then fold everything below the head
        for i in range(4):
            with wh.transaction():
                wh.append(spark.createDataFrame([(100 + i, 0.0,
                                                  dt.date(2021, 3, 3))],
                                                "k long, v double, dt date")
                          .coalesce(1), "t", partition_by=["dt"])
        wh.write_checkpoint()
        wh.expire_log(keep_entries=1)
        wh2 = Warehouse(spark, str(tmp_path / "wh"))
        assert wh2._dv_state("t")  # survived the fold
        assert wh2.table_partition_by("t") == ["dt"]
        got = sorted(r["k"] for r in wh2.read("t").collect())
        assert 12 not in got and len(got) == 11

    def test_crashed_dv_write_is_harmless(self, spark, tmp_path):
        """A dv file staged but never referenced by a committed entry
        (crash between write and commit) is invisible to every read."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame([(1, 1.0), (2, 2.0)],
                                     "k long, v double")
        with wh.transaction():
            wh.append(rows.coalesce(1), "t")
        # simulate the crash: a dv file staged by a transaction that
        # never commits — it stays DOT-PREFIXED (publish happens by
        # rename inside commit()), so no read or vacuum ever sees it
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Transaction
        doomed = wh.read("t").where("k = 1").withColumn(
            "_src", F.lit("txn-nonexistent.parquet"))
        txn = Transaction(wh)
        final_rel = wh._write_dv_file("t", doomed, txn)
        staged, final = txn.dv_renames[0]
        assert os.path.exists(staged)
        assert os.path.basename(staged).startswith(".")
        assert not os.path.exists(final)  # never published
        assert wh._dv_state("t") == {}
        assert wh.read("t").count() == 2  # both rows still visible
        assert final_rel.endswith(os.path.basename(final))

    def test_vacuum_reclaims_orphaned_dv_files_keeps_referenced(
            self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame([(1, 1.0), (2, 2.0)],
                                     "k long, v double")
        with wh.transaction():
            wh.append(rows.coalesce(1), "t")
        assert wh.delete_where("t", "k = 1", mode="dv") == 1
        referenced = list(wh._dv_state("t"))
        # a PUBLISHED but unreferenced dv (conflict after the rename
        # point): simulate by publishing a staged sidecar by hand
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Transaction
        txn = Transaction(wh)
        orphan = wh._write_dv_file(
            "t", wh.read("t").withColumn("_src", F.lit("x.parquet")), txn)
        staged, final = txn.dv_renames.pop()
        os.replace(staged, final)
        # plus an IN-FLIGHT staged sidecar (another writer mid-DML):
        # vacuum must NOT touch it — that is the concurrency race this
        # staging design closes
        txn2 = Transaction(wh)
        wh._write_dv_file(
            "t", wh.read("t").withColumn("_src", F.lit("y.parquet")), txn2)
        staged2, _ = txn2.dv_renames[0]
        tdir = str(tmp_path / "wh" / "t")
        assert wh.vacuum_orphans("t") == 1  # only the published orphan
        assert not os.path.exists(os.path.join(tdir, orphan))
        assert os.path.exists(staged2)  # in-flight stage survives
        assert all(os.path.exists(os.path.join(tdir, r))
                   for r in referenced)
        # a stage older than the crash-reclaim window IS swept
        old = time.time() - 7200
        os.utime(staged2, (old, old))
        assert wh.vacuum_orphans("t") == 1
        assert not os.path.exists(staged2)
        assert [r["k"] for r in wh.read("t").collect()] == [2]

    def test_dv_survives_additive_schema_evolution(self, spark, tmp_path):
        """A column added AFTER a dv delete: mergeSchema reads keep
        applying the vector (matching on the shared columns — the
        covered old files are NULL in the new column by construction)."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        with wh.transaction():
            wh.append(spark.createDataFrame([(1, 1.0), (2, 2.0)],
                                            "k long, v double")
                      .coalesce(1), "t")
        assert wh.delete_where("t", "k = 1", mode="dv") == 1
        with wh.transaction():
            wh.append(spark.createDataFrame([(3, 3.0, "x")],
                                            "k long, v double, tag string")
                      .coalesce(1), "t")
        got = {(r["k"], r["tag"]) for r in
               wh.read("t", merge_schema=True).collect()}
        assert got == {(2, None), (3, "x")}

    def test_partition_scoped_compact_folds_only_covered_partition(
            self, spark, tmp_path):
        """compact(where=) with DVs: the selected partition's vectors
        fold (file reclaimed when coverage empties), the other
        partition's coverage survives and keeps applying."""
        wh = _wh8(spark, tmp_path, partitioned=True)
        # k=42 lives in dt=2021-03-01 (i=4), k=71 in dt=2021-03-04 (i=7)
        assert wh.delete_where("t", "k = 42", mode="dv") == 1
        assert wh.delete_where("t", "k = 71", mode="dv") == 1
        assert len(wh._dv_state("t")) == 2
        wh.compact("t", where={"dt": "2021-03-01"})
        dv_map = wh._dv_state("t")
        assert len(dv_map) == 1  # only the 03-04 vector survives
        covs = [c for cov in dv_map.values() for c in cov]
        assert all("dt=2021-03-04" in c for c in covs)
        got = sorted(r["k"] for r in wh.read("t").collect())
        assert got == [k for k in range(80) if k not in (42, 71)]


class TestDvOtherRewrites:
    def test_merge_table_folds_dvs(self, spark, tmp_path):
        """A CDC merge reads the dv-applied state and replaces the file
        set — the vectors fold into the merge result and leave the head
        map (old snapshots stay readable with their own dv state)."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")],
                "k long, ver long, v string").coalesce(1), "t")
        assert wh.delete_where("t", "k = 2", mode="dv") == 1
        pre = wh._latest_seq()
        ch = spark.createDataFrame([(3, 2, "c2", "u")],
                                   "k long, ver long, v string, op string")
        wh.merge_table("t", ch, key="k", version_cols=("ver",),
                       payload_cols=("v",))
        assert wh._dv_state("t") == {}
        got = {r["k"]: r["v"] for r in wh.read("t").collect()}
        assert got == {1: "a", 3: "c2"}  # k=2 stays deleted post-merge
        assert wh.read_at("t", pre).count() == 2  # old dv state intact

    def test_cluster_table_folds_and_reclaims_dvs(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path)
        assert wh.delete_where("t", "k = 42", mode="dv") == 1
        dv_files = [os.path.join(str(tmp_path / "wh" / "t"), r)
                    for r in wh._dv_state("t")]
        wh.cluster_table("t", "k", n_files=4)
        assert wh._dv_state("t") == {}
        assert not any(os.path.exists(f) for f in dv_files)
        got = sorted(r["k"] for r in wh.read("t").collect())
        assert got == [k for k in range(80) if k != 42]

    def test_dv_update_on_partitioned_table(self, spark, tmp_path):
        wh = _wh8(spark, tmp_path, partitioned=True)
        n = wh.update_where("t", "k = 13", {"v": "v + 100"}, mode="dv")
        assert n == 1
        assert wh.table_partition_by("t") == ["dt"]
        # postimage file landed under its hive dir
        assert all(r.startswith("dt=") for r in wh._manifest_files("t"))
        assert {r["v"] for r in wh.read("t").where("k = 13").collect()} \
            == {103.0}


class TestReadWhere:
    def test_read_where_derives_file_skipping(self, spark, tmp_path):
        import datetime as dt2

        wh = Warehouse(spark, str(tmp_path / "wh"))
        for day in (1, 2, 3):
            rows = spark.createDataFrame(
                [(day * 10 + j, float(j), dt2.date(2021, 3, day))
                 for j in range(4)],
                "k long, v double, dt date")
            with wh.transaction():
                wh.append(rows.coalesce(1), "t", partition_by=["dt"])
        df = wh.read_where("t", "dt = '2021-03-02' AND v >= 1")
        # pruning reached the file list: only the matching partition read
        files = df.inputFiles()
        assert files and all("dt=2021-03-02" in f for f in files)
        assert sorted(r["k"] for r in df.collect()) == [21, 22, 23]
        # Column conditions derive too
        df2 = wh.read_where("t", (F.col("k") >= 30) & (F.col("k") < 40))
        assert sorted(r["k"] for r in df2.collect()) == [30, 31, 32, 33]
        assert len(df2.inputFiles()) == 1  # footer stats skipped 2 files


class TestDvSizeGuard:
    def test_oversized_dv_delete_falls_back_to_eager_rewrite(
            self, spark, tmp_path):
        """A merge-on-read delete matching more rows than dv_max_rows
        lands as an eager rewrite (with a warning): the per-read dv
        broadcast stays tiny by construction."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double")
        with wh.transaction():
            wh.append(rows.coalesce(2), "t")
        before = set(wh._manifest_files("t"))
        with pytest.warns(UserWarning, match="dv_max_rows"):
            n = wh.delete_where("t", "k < 50", mode="dv", dv_max_rows=10)
        assert n == 50
        assert wh._dv_state("t") == {}  # no dv recorded
        assert set(wh._manifest_files("t")) != before  # files rewritten
        assert wh.read("t").count() == 50

    def test_under_cap_dv_delete_stays_merge_on_read(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double")
        with wh.transaction():
            wh.append(rows.coalesce(2), "t")
        before = set(wh._manifest_files("t"))
        assert wh.delete_where("t", "k < 5", mode="dv",
                               dv_max_rows=10) == 5
        assert set(wh._manifest_files("t")) == before  # zero rewrites
        assert len(wh._dv_state("t")) == 1
        assert wh.read("t").count() == 95

    def test_oversized_dv_update_falls_back(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "k long, v double")
        with wh.transaction():
            wh.append(rows.coalesce(1), "t")
        with pytest.warns(UserWarning, match="dv_max_rows"):
            n = wh.update_where("t", "k < 30", {"v": "v + 1000"},
                                mode="dv", dv_max_rows=5)
        assert n == 30
        assert wh._dv_state("t") == {}
        assert wh.read("t").where("v >= 1000").count() == 30

    def test_reserved_src_column_rejected(self, spark, tmp_path):
        """A table that legitimately has a `_src` column must not have
        it clobbered by DML's provenance column — loud error instead of
        silent data loss."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        rows = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, _src string")
        with wh.transaction():
            wh.append(rows.coalesce(1), "t")
        with pytest.raises(ValueError, match="_src"):
            wh.delete_where("t", "k = 1", mode="dv")
        with pytest.raises(ValueError, match="_src"):
            wh.update_where("t", "k = 1", {"k": "k + 10"})
        assert wh.read("t").count() == 2  # untouched


class TestDvPerFileSkip:
    def test_read_anti_joins_only_covered_files(self, spark, tmp_path):
        """With a dv covering ONE of several files, the read plan
        anti-joins only that file's scan; the other files stream
        through a plain scan (no join) and union back in."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        for batch in range(4):
            rows = spark.createDataFrame(
                [(batch * 10 + j, float(j)) for j in range(5)],
                "k long, v double")
            with wh.transaction():
                wh.append(rows.coalesce(1), "t")
        assert wh.delete_where("t", "k = 12", mode="dv") == 1
        cov = {r for cv in wh._dv_state("t").values() for r in cv}
        assert len(cov) == 1  # narrowing found the single touched file
        df = wh.read("t")
        assert sorted(r["k"] for r in df.collect()) == \
            sorted(set(range(0, 5)) | set(range(10, 15)) - {12}
                   | set(range(20, 25)) | set(range(30, 35)))
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE prints Final + Initial sections; inspect the final only
        final = plan.split("== Initial Plan ==")[0]
        # exactly one anti-join (the covered file's branch)...
        assert final.count("LeftAnti") == 1
        # ...and a union with a join-free branch for the other 3 files
        assert "Union" in final

    def test_split_read_survives_schema_evolution(self, spark, tmp_path):
        """Covered (old, narrow) and uncovered (new, wide) files union
        by name across the split: the evolved column reads as NULL for
        old files, values for new — and the dv still applies."""
        wh = Warehouse(spark, str(tmp_path / "wh"))
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(1, 1.0), (2, 2.0)], "k long, v double").coalesce(1), "t")
        assert wh.delete_where("t", "k = 1", mode="dv") == 1
        with wh.transaction():
            wh.append(spark.createDataFrame(
                [(3, 3.0, "x")], "k long, v double, tag string"
            ).coalesce(1), "t")
        got = {(r["k"], r["tag"]) for r in
               wh.read("t", merge_schema=True).collect()}
        assert got == {(2, None), (3, "x")}


class TestDvConcurrentVacuum:
    def test_inflight_dv_survives_another_writers_vacuum(
            self, spark, tmp_path):
        """The round-9 advisor race, pinned cross-instance: writer A is
        mid-DML (dv staged, commit pending) when writer B — e.g. a
        conflict-retry loop in another process — runs vacuum_orphans.
        B must not delete A's in-flight sidecar; A's commit then
        publishes it and reads work. Pre-fix, the sidecar landed
        directly in _dv/ and B's vacuum removed it, leaving A's commit
        referencing a missing file (every subsequent read died)."""
        import os as _os

        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
            Transaction,
        )

        root = str(tmp_path / "wh")
        a = Warehouse(spark, root)
        with a.transaction():
            a.append(spark.createDataFrame(
                [(1, 1.0), (2, 2.0)], "k long, v double").coalesce(1), "t")
        b = Warehouse(spark, root)  # independent handle, same log

        # A: the exact inner steps of delete_where(mode="dv") up to the
        # commit point
        p = a._path("t")
        mf = list(a._manifest_files("t"))

        def _build(rs):
            return spark.read.option("basePath", p).parquet(
                *[_os.path.join(p, r) for r in rs])

        live = a._dv_split_read(_build, "t", {}, mf, keep_file_col="_src")
        txn = Transaction(a)
        txn.replaced = {"t"}
        txn.base_seq = a._latest_seq()
        txn.pending["t"] = list(mf)
        dv_rel = a._write_dv_file("t", live.where("k = 1"), txn)
        txn.dv["t"] = {dv_rel: sorted(mf)}

        # B: concurrent vacuum sees no orphans and leaves the stage
        assert b.vacuum_orphans("t") == 0
        staged, final = txn.dv_renames[0]
        assert _os.path.exists(staged)

        # A commits: sidecar publishes atomically with the entry
        txn.commit()
        assert _os.path.exists(final)
        assert [r["k"] for r in a.read("t").collect()] == [2]
        assert [r["k"] for r in b.read("t").collect()] == [2]
        # and a post-commit vacuum keeps the now-referenced sidecar
        assert b.vacuum_orphans("t") == 0
        assert _os.path.exists(final)
