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

import dataclasses
import datetime
import os
import shutil
from decimal import Decimal

import pandas as pd
from pyspark.sql import functions as F

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

from . import ref_oracle
from .conftest import TERM_COLS, gen
from .test_replay_golden import duck_rows_of, spark_rows_of


DAYS = ["01032021", "02032021", "03032021"]


def _run_days(batch, feed_dir, days=DAYS):
    for d in days:
        batch.run_day(
            os.path.join(feed_dir, f"transactions_{d}.txt"),
            os.path.join(feed_dir, f"passport_blacklist_{d}.xlsx"),
            os.path.join(feed_dir, f"terminals_{d}.xlsx"),
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


def _backdated_passport(feeds) -> str:
    """A passport no blacklist holds and no expiry flags, whose client
    has a SUCCESS transaction on day 2: blacklisted with day 1's date, it
    flags that transaction, a hit only rule 1's retro term can find on
    day 3."""
    world = feeds.world
    listed = {p for _d, p in feeds.days[-1].blacklist}
    account_client = {a[0]: a[2] for a in world.accounts}
    client = {c[0]: c for c in world.clients}
    card_client = {c[0]: client[account_client[c[1]]] for c in world.cards}
    tx = feeds.days[1].tx
    for card in sorted(set(tx.loc[tx["oper_result"] == "SUCCESS", "card_num"])):
        cl = card_client.get(card)
        if cl and cl[5] not in listed and (cl[6] is None or cl[6] > feeds.days[-1].date):
            return cl[5]
    raise AssertionError("no day-2 SUCCESS client to blacklist")


def test_incremental_matches_faithful_hit_set(spark, feeds, tmp_path, monkeypatch):
    """3-day replay in both modes: identical distinct hit sets, including
    a retroactive hit. Day 3's feed carries a blacklist entry dated day 1
    for a client with a SUCCESS transaction on day 2, so the incremental
    run must read the retro band (day 2) on day 3; the generated feeds
    alone backdate entries by one day only, which plans no retro term."""
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for d in DAYS[:2]:
        for stem in (f"transactions_{d}.txt", f"passport_blacklist_{d}.xlsx",
                     f"terminals_{d}.xlsx"):
            shutil.copy(os.path.join(feeds.dir, stem), inbox)
    day1, day2, day3 = (feed.date for feed in feeds.days)
    passport = _backdated_passport(feeds)
    last = dataclasses.replace(
        feeds.days[2], blacklist=feeds.days[2].blacklist + [(day1, passport)])
    gen.write_day(last, inbox)

    dims = load_seed_dims(spark, feeds.seed_dml)
    faithful = DailyBatch(spark, str(tmp_path / "wh_f"), dims)
    _run_days(faithful, inbox)
    inc = DailyBatch(spark, str(tmp_path / "wh_i"), dims, incremental=True)
    _run_days(inc, inbox, DAYS[:2])
    reads = []
    real_read = inc.wh.read_transactions

    def spy(*args, **kwargs):
        reads.append((kwargs.get("since"), kwargs.get("until")))
        return real_read(*args, **kwargs)

    monkeypatch.setattr(inc.wh, "read_transactions", spy)
    _run_days(inc, inbox, DAYS[2:])
    # the retro band: from the day after the entry's date to yesterday
    assert (day2, day2) in reads

    f_hits = _hit_set(faithful.wh.read("rep_fraud"))
    i_hits = _hit_set(inc.wh.read("rep_fraud"))
    assert f_hits == i_hits, (
        f"faithful-only={list(f_hits - i_hits)[:5]} "
        f"incremental-only={list(i_hits - f_hits)[:5]}"
    )
    assert any(h[1] == passport and h[0].date() == day2 for h in i_hits)

    # the same distinct hits as the DuckDB oracle on the same rows (the
    # oracle replays faithful mode, so hit sets, not row counts)
    con = ref_oracle.make_oracle()
    oracle_dims = feeds.world.dims_pandas()
    ref_oracle.load_dims(con, oracle_dims["cards"], oracle_dims["accounts"],
                         oracle_dims["clients"])
    for feed in (*feeds.days[:2], last):
        ref_oracle.run_day(
            con, feed.tx, pd.DataFrame(feed.blacklist, columns=["dt", "passport"]),
            pd.DataFrame(feed.terminals, columns=TERM_COLS), feed.date)
    hit_cols = ["event_dt", "passport", "fio", "phone", "event_type"]
    want = set(duck_rows_of(con.sql(f"SELECT DISTINCT {', '.join(hit_cols)} FROM mart")))
    assert set(spark_rows_of(inc.wh.read("rep_fraud").select(*hit_cols).distinct())) == want

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
    inc.run_fraud_rules(day3)
    assert inc.wh.read("rep_fraud").count() == before
