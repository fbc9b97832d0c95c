"""Physical-plan regression guards: the optimizations the engine's
scale posture depends on must be visible in the executed plan
(SURVEY §4) — pushdown reaching the parquet scan, dimension joins
going broadcast, window rules shuffling exactly once.
"""

from __future__ import annotations

import pytest

from etl_pipeline_for_detection_banking_fraud_spark.plans import CATALOG, queries_map

QD = {q.name: q for q in CATALOG}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark, sf01):
    plan = _plan(QD["scan_filter_project"].spark(spark, sf01))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # projection pruning: the scan must not read all 11 lineitem columns
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" not in read_schema


def test_join_chain_broadcasts_dimensions(spark, sf01):
    plan = _plan(QD["join_chain"].spark(spark, sf01))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_window_rules_shuffle_once(spark, sf01):
    plan = _plan(QD["timeband_window"].spark(spark, sf01))
    # one exchange: hash partition by user_id for the window
    assert plan.count("Exchange hashpartitioning") == 1


def test_groupby_agg_partial_aggregation(spark, sf01):
    plan = _plan(QD["groupby_agg"].spark(spark, sf01))
    # map-side partial + final aggregate around a single shuffle
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_fraud_rule_enrichment_broadcasts(spark):
    import datetime
    from decimal import Decimal

    from etl_pipeline_for_detection_banking_fraud_spark import schemas
    from etl_pipeline_for_detection_banking_fraud_spark.operators import fraud_rules as fr

    D = datetime.date
    tx = spark.createDataFrame(
        [("t1", datetime.datetime(2021, 3, 1, 10, 0), Decimal("1.00"), "C1",
          "PAYMENT", "SUCCESS", "T")],
        schema=schemas.TRANSACTIONS,
    )
    cards = spark.createDataFrame([("C1", "A1", D(2001, 1, 1), None)], schema=schemas.CARDS)
    accounts = spark.createDataFrame(
        [("A1", D(2030, 1, 1), "CL1", D(1900, 1, 1), None)], schema=schemas.ACCOUNTS
    )
    clients = spark.createDataFrame(
        [("CL1", "L", "F", None, D(1980, 1, 1), "P1", None, "ph", D(1900, 1, 1), None)],
        schema=schemas.CLIENTS,
    )
    bl = spark.createDataFrame([], schema=schemas.PASSPORT_BLACKLIST)
    plan = _plan(fr.rule1_passport(tx, cards, accounts, clients, bl, D(2021, 3, 1)))
    assert plan.count("BroadcastHashJoin") >= 4  # 3 dims + blacklist
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("qname", ["dedup_ngram_jaccard", "text_quality", "dedup_minhash_lsh"])
def test_no_pushdown_serialization_trap(spark, sf01, qname):
    """The tokenizer/shingle expressions must NOT appear in the parquet
    scan's data filters (the InferFiltersFromGenerate trap — see
    operators/dedup.py)."""
    plan = _plan(QD[qname].spark(spark, sf01))
    scan_part = plan[plan.find("FileScan"):]
    first_scan_line = scan_part.splitlines()[0] if scan_part else ""
    assert "split(" not in first_scan_line


def test_every_catalog_entry_has_oracle_sql():
    """tests/test_oracle_parity.py checks each catalog entry against
    DuckDB through its oracle SQL: an entry without one would run
    unchecked."""
    missing = [q.name for q in CATALOG if not q.sql]
    assert not missing, f"catalog entries without oracle SQL: {missing}"


def test_report_rotation_lists_name_real_entries():
    """The evidence-policy ordering lists must reference only existing
    catalog entries (a typo would silently drop the rotation pin)."""
    from etl_pipeline_for_detection_banking_fraud_spark.plans import testdata_queries as tq

    names = {q.name for q in tq.CATALOG}
    missing_first = set(tq._REPORT_FIRST) - names
    missing_last = set(tq._REPORT_LAST) - names
    assert not missing_first, f"_REPORT_FIRST typos: {missing_first}"
    assert not missing_last, f"_REPORT_LAST typos: {missing_last}"
    assert not set(tq._REPORT_FIRST) & set(tq._REPORT_LAST)
    # ordering is a permutation of the catalog: nothing dropped/duplicated
    ordered = [q.name for q in tq._ordered()]
    assert sorted(ordered) == sorted(names)


@pytest.mark.parametrize(
    "qname", ["interval_overlap_join", "semi_join_prefilter", "cdc_upsert"]
)
def test_round5_joins_no_nested_loop(spark, sf01, qname):
    """The interval join must ride the coarse-bucket equi-join, the
    prefilter semi-join its broadcast bucket set + exact semi-join, the
    CDC merge a keyed outer join — none of them a cartesian plan."""
    plan = _plan(QD[qname].spark(spark, sf01))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefilter_semi_join_broadcasts_bucket_set(spark, sf01):
    plan = _plan(QD["semi_join_prefilter"].spark(spark, sf01))
    assert "BroadcastExchange" in plan
    assert plan.count("LeftSemi") == 2  # prefilter + exact stage


def test_text_chunk_no_shuffle(spark, sf01):
    plan = _plan(QD["text_chunk"].spark(spark, sf01))
    assert plan.count("Exchange hashpartitioning") == 0


def test_window_count_distinct_null_aware(spark, tmp_path):
    """Round-5 advisor: the first-occurrence-marker rewrite must NOT
    count a NULL event_type as a distinct value (COUNT(DISTINCT)
    ignores NULLs). The driver's events table has no NULL types, so
    this differential runs both sides over a synthetic table WITH
    them."""
    import datetime as dt

    import duckdb

    d = str(tmp_path)
    rows = [
        (1, 7, "A", dt.datetime(2021, 3, 1, 0, 0, 0)),
        (2, 7, None, dt.datetime(2021, 3, 1, 0, 0, 1)),
        (3, 7, "B", dt.datetime(2021, 3, 1, 0, 0, 2)),
        (4, 7, None, dt.datetime(2021, 3, 1, 0, 0, 3)),
        (5, 8, None, dt.datetime(2021, 3, 1, 0, 0, 0)),
        (6, 8, "A", dt.datetime(2021, 3, 1, 0, 0, 1)),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    ).coalesce(1).write.parquet(f"{d}/events.parquet")

    got = {
        r["event_id"]: r["n_types_seen"]
        for r in QD["window_count_distinct"].spark(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    want = {
        row[0]: row[2]
        for row in con.execute(QD["window_count_distinct"].sql).fetchall()
    }
    assert got == want
    assert got[2] == 1 and got[4] == 2 and got[5] == 0  # NULLs not counted


def test_tpch_q5_dims_broadcast_and_pushdown(spark, sf01):
    """The round-8 deep join tree: the region-filtered dim sliver and
    the other small sides broadcast (no SMJ at this SF), the orderdate
    range reaches the orders scan, and the 25-group aggregate is the
    only required exchange."""
    df = QD["tpch_q5_shape"].spark(spark, sf01)
    df.collect()  # final ADAPTIVE plan (AQE converts joins at runtime)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("o_orderdate" in seg[:400] for seg in pushed[1:])


def test_session_native_single_exchange(spark, sf01):
    """Native session_window: one hash exchange on the session key —
    no lag/cumsum double-window pass."""
    plan = _plan(QD["window_session_native"].spark(spark, sf01))
    assert plan.count("Exchange hashpartitioning") == 1


def test_tpch_q21_semi_anti_no_cartesian(spark, sf01):
    """The EXISTS + NOT EXISTS chain must run as keyed LeftSemi /
    LeftAnti hash joins on the pre-aggregated fact — never a cartesian:
    the suppkey inequality rides the orderkey equi-join as a residual
    condition."""
    df = QD["tpch_q21_shape"].spark(spark, sf01)
    df.collect()  # final adaptive plan
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan  # supplier/nation dim side


def test_tpch_q7_dual_role_dims_broadcast(spark, sf01):
    """Nation joined twice in different roles: both role slivers (and
    supplier) broadcast, the shipdate band reaches the lineitem scan,
    no cartesian from the symmetric pair predicate."""
    df = QD["tpch_q7_shape"].spark(spark, sf01)
    df.collect()  # final adaptive plan
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("l_shipdate" in seg[:400] for seg in pushed[1:])


def test_tpch_q9_like_filtered_part_broadcasts(spark, sf01):
    """The LIKE-filtered part sliver and the supplier+nation sliver
    both broadcast; the only join that may shuffle is
    lineitem<->orders on orderkey."""
    df = QD["tpch_q9_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q2_decorrelated_min_no_rescan(spark, sf01):
    """The correlated MIN decorrelates into one per-part aggregate +
    equality join back: dims broadcast, no cartesian, and the fact is
    scanned a bounded number of times (never per-row)."""
    df = QD["tpch_q2_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # part + supplier slivers


def test_tpch_q16_not_in_is_broadcast_anti(spark, sf01):
    """NOT IN over a non-nullable key plans as a broadcast left-anti
    join; the negated part filters ride a broadcast; the distinct
    count aggregates in two phases, never a global distinct."""
    df = QD["tpch_q16_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q22_scalar_threshold_is_single_broadcast(spark, sf01):
    """The scalar AVG-threshold subquery is ONE 1-row broadcast
    (cross-join — the documented broadcast-scalar shape), the
    no-urgent-order predicate a left-anti join; nothing else
    nested-loops."""
    df = QD["tpch_q22_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # exactly the one broadcast-scalar nested loop (1-row threshold) in
    # the FINAL adaptive plan (the printed string repeats joins in the
    # initial-plan section)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1


def test_tpch_q4_exists_is_semi_join(spark, sf01):
    """EXISTS with a non-equi conjunct plans as ONE left-semi hash join
    on the equality key (residual condition attached), never a per-row
    subquery or cartesian; the quarter filter reaches the orders scan."""
    df = QD["tpch_q4_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("o_orderdate" in seg[:400] for seg in pushed[1:])


def test_tpch_q11_global_total_over_aggregated_frame(spark, sf01):
    """The HAVING threshold's global total aggregates the ALREADY-
    REDUCED per-key frame and broadcasts back as one 1-row join — one
    fact scan, one partkey exchange, at most the one broadcast-scalar
    nested loop."""
    df = QD["tpch_q11_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1  # 1-row total


def test_tpch_q14_single_pass_conditional_agg(spark, sf01):
    """Numerator and denominator ride ONE aggregate over one
    month-pruned scan (CASE, not a self-join); the part dim
    broadcasts; the ship-date band reaches the parquet scan."""
    df = QD["tpch_q14_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("l_shipdate" in seg[:400] for seg in pushed[1:])


def test_tpch_q15_scalar_max_no_global_sort(spark, sf01):
    """The scalar MAX reduces the aggregated view (never a window over
    one global partition, never a sort of the fact); supplier names
    broadcast on after the reduction."""
    df = QD["tpch_q15_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # no single-partition window
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1  # 1-row max
    assert "BroadcastHashJoin" in plan


def test_tpch_q8_single_pass_share(spark, sf01):
    """Every dim folds to a broadcast; numerator and denominator ride
    ONE aggregate (no second fact scan, no scalar cross join)."""
    df = QD["tpch_q8_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q10_aggregates_before_wide_attach(spark, sf01):
    """Both fact filters reach their scans; the custkey aggregate runs
    BEFORE the wide customer/nation attributes broadcast on."""
    df = QD["tpch_q10_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("l_returnflag" in seg[:400] for seg in pushed[1:])
    assert any("o_orderdate" in seg[:400] for seg in pushed[1:])


def test_tpch_q12_one_pass_buckets(spark, sf01):
    df = QD["tpch_q12_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("l_shipdate" in seg[:400] for seg in pushed[1:])


def test_tpch_q13_left_join_double_aggregate(spark, sf01):
    """The join-side filter rides the LEFT join condition (zero-order
    customers survive into the c_count=0 bucket); no cartesian."""
    df = QD["tpch_q13_shape"].spark(spark, sf01)
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # sf0.01 has customers with zero surviving orders -> a 0 bucket
    assert 0 in rows


def test_tpch_q19_or_brackets_one_scan(spark, sf01):
    """The OR-of-brackets is ONE residual on one broadcast join — not
    a union of per-bracket scans; the quantity union band pushes."""
    df = QD["tpch_q19_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 2  # lineitem once + part once


def test_tpch_q20_conditional_halfsum_single_scan(spark, sf01):
    """Period and total sums ride one conditional aggregate (the
    correlated half-sum decorrelated without a second fact scan)."""
    df = QD["tpch_q20_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 3  # lineitem, part, supplier


def test_tpch_q1_single_exchange_partial_agg(spark, sf01):
    """The pricing report is ONE partial-aggregated fact pass: the
    map side combines onto the handful of (flag, status) groups before
    the single exchange; the ship-date bound reaches the scan; no
    join of any kind appears."""
    df = QD["tpch_q1_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final
    assert final.count("Exchange") <= 2  # agg exchange (+AQE read)
    pushed = plan.split("PushedFilters")
    assert any("l_shipdate" in seg[:400] for seg in pushed[1:])


def test_tpch_q6_filters_pushed_no_shuffle(spark, sf01):
    """The forecasting scan: all three predicates reach the parquet
    scan, the projection reads only the three needed columns, and the
    only exchange is the 1-row final-aggregate combine."""
    df = QD["tpch_q6_shape"].spark(spark, sf01)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final
    pushed = plan.split("PushedFilters")
    assert any("l_shipdate" in seg[:400] and "l_discount" in seg[:400]
               for seg in pushed[1:])
    rs = plan.split("ReadSchema")
    assert rs[1:] and all(
        "l_orderkey" not in seg[:300] and "l_returnflag" not in seg[:300]
        for seg in rs[1:])  # column pruning: 3 columns, not the table


# -- entry points ------------------------------------------------------------
# bench.py and __spark_entry__.py name catalog entries; a name the catalog
# lacks must fail here, not vanish from a benchmark or an entry() call.

def test_bench_and_entry_names_resolve(monkeypatch):
    import bench
    import __spark_entry__ as entry_mod

    qmap = queries_map()
    missing = [n for n in bench.HEADLINE + bench.WATCHLIST if n not in qmap]
    assert not missing, f"bench names missing from the catalog: {missing}"

    looked_up: list[str] = []

    class Recording(dict):
        def __getitem__(self, name):
            looked_up.append(name)
            return lambda spark, sf_dir: name

    monkeypatch.setattr(entry_mod, "queries_map", Recording)
    assert entry_mod.entry(None) == "decreasing_triple"
    assert looked_up and all(n in qmap for n in looked_up)


def test_oracle_sql_covers_every_catalog_entry_with_sql():
    import __spark_entry__ as entry_mod

    assert entry_mod.oracle_sql() == {q.name: q.sql for q in CATALOG if q.sql is not None}
