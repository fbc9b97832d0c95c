"""Incremental (partition-pruned) fraud-rule mode.

Faithful mode re-scans the whole fact history daily (the reference's
behavior, loading_rep_fraud.py:24,52) — O(history) per day.  Incremental
mode reads only the current day partition (rules 1-2) plus a 1-day
lookback band (rules 3-4) and a delta-decomposed retroactive term for
backdated blacklist entries; the set of distinct hits must be identical.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

import datetime
import os
from decimal import Decimal

from pyspark.sql import functions as F

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse


DAYS = ["01032021", "02032021", "03032021"]


def _run_days(batch, feeds):
    for d in DAYS:
        batch.run_day(
            os.path.join(feeds.dir, f"transactions_{d}.txt"),
            os.path.join(feeds.dir, f"passport_blacklist_{d}.xlsx"),
            os.path.join(feeds.dir, f"terminals_{d}.xlsx"),
        )


def _hit_set(mart):
    """Distinct hits ignoring report_dt (faithful re-inserts historical
    hits with a LATER report_dt; the hit identity is everything else)."""
    cols = [c for c in mart.columns if c != "report_dt"]
    return set(map(tuple, mart.select(*cols).distinct().collect()))


def test_pruned_fact_read_has_partition_filters(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (f"t{i}", datetime.datetime(2021, 3, 1 + (i % 3), 10, 0), Decimal("1.00"),
         "C1", "PAYMENT", "SUCCESS", "T")
        for i in range(30)
    ]
    wh.append_transactions(spark.createDataFrame(rows, schema=schemas.TRANSACTIONS))

    day = datetime.date(2021, 3, 2)
    pruned = wh.read_transactions(since=day, until=day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "transaction_date_day" in plan.split("PartitionFilters")[1][:300]
    assert pruned.count() == 10
    # band read (rules 3-4 lookback) prunes too
    band = wh.read_transactions(since=day - datetime.timedelta(days=1), until=day)
    plan_b = band._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan_b
    assert band.count() == 20


def test_mart_is_partitioned_and_prunes(spark, tmp_path):
    """rep_fraud is hive-partitioned by event day, and read_mart(since,
    until) reaches the scan as PartitionFilters — the rules' NOT-EXISTS
    dedup against the stored mart stays O(band) as the mart accumulates
    years of hits."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [
        (datetime.datetime(2021, 3, 1 + (i % 3), 12, 0), f"P{i}", "F", "7",
         f"type{i % 2}", datetime.date(2021, 3, 3))
        for i in range(30)
    ]
    wh.append_mart(spark.createDataFrame(rows, schema=schemas.REP_FRAUD))

    assert any(
        d.startswith("event_dt_day=")
        for d in os.listdir(tmp_path / "wh" / "rep_fraud")
    )
    day = datetime.date(2021, 3, 2)
    pruned = wh.read_mart(since=day, until=day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_dt_day" in plan.split("PartitionFilters")[1][:300]
    assert pruned.count() == 10
    assert pruned.columns == [f.name for f in schemas.REP_FRAUD.fields]
    # unpruned read returns everything, same logical schema
    assert wh.read_mart().count() == 30


def test_incremental_matches_faithful_hit_set(spark, feeds, tmp_path):
    """3-day replay in both modes: identical distinct hit sets, including
    retroactive hits from backdated blacklist entries (the 03-03 feed
    carries entries dated 03-01)."""
    dims = load_seed_dims(spark, feeds.seed_dml)

    faithful = DailyBatch(spark, str(tmp_path / "wh_f"), dims)
    _run_days(faithful, feeds)
    inc = DailyBatch(spark, str(tmp_path / "wh_i"), dims, incremental=True)
    _run_days(inc, feeds)

    f_hits = _hit_set(faithful.wh.read("rep_fraud"))
    i_hits = _hit_set(inc.wh.read("rep_fraud"))
    assert f_hits == i_hits, (
        f"faithful-only={list(f_hits - i_hits)[:5]} "
        f"incremental-only={list(i_hits - f_hits)[:5]}"
    )

    # incremental must not balloon: no cross-day re-inserts (faithful's
    # day-3 mart re-contains day-2 rule-1/2 hits; incremental's must not)
    mart = inc.wh.read("rep_fraud")
    per_hit = (
        mart.groupBy([c for c in mart.columns if c != "report_dt"])
        .agg(F.countDistinct("report_dt").alias("n_report_dts"))
    )
    assert per_hit.agg(F.max("n_report_dts")).first()[0] == 1

    # re-running the same day is idempotent in incremental mode
    before = mart.count()
    inc.run_fraud_rules(datetime.date(2021, 3, 3))
    assert inc.wh.read("rep_fraud").count() == before
