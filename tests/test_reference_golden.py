"""Counts that belong to the source project's own 3-day data set.

The replay tests run on seeded generated feeds (``feeds`` in
tests/conftest.py) and take their expected values from the rows the
generator wrote or from the DuckDB oracle on the same feeds. The
reference data set's own counts are pinned here, checked through the
same replays, and run wherever that data set exists (``REFERENCE_DATA``
holds its feeds, its parent directory ``ddl_dml.sql``).
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_detection_banking_fraud_spark.operators import fraud_rules as fr
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import parse_seed_dml
from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import read_passport_blacklist

from tests.conftest import REFERENCE_DATA
from tests.test_replay_golden import replay_with_oracle
from tests.test_streaming_replay_e2e import check_streaming_replay

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(not os.path.isdir(REFERENCE_DATA),
                       reason=f"reference data set absent: {REFERENCE_DATA}"),
]

SEED_DML = os.path.join(os.path.dirname(REFERENCE_DATA), "ddl_dml.sql")
DAY_ROWS = [15650, 15686, 15780]   # transactions_0{1,2,3}032021.txt
FACT_TX_ROWS = 47116               # sum(DAY_ROWS)
FACT_BL_ROWS = 24
HIST_ROWS = 157
MART_ROWS = 1100                   # 747 passport + 296 contract + 10 cities + 47 amount
CITY_ROWS = 10


@pytest.fixture(scope="module")
def ref_replay(spark, tmp_path_factory):
    return replay_with_oracle(spark, REFERENCE_DATA, SEED_DML, tmp_path_factory)


def test_reference_seed_dml_counts():
    parsed = parse_seed_dml(SEED_DML)
    assert len(parsed["cards"]) == 195
    assert len(parsed["accounts"]) == 77
    assert len(parsed["clients"]) == 50


def test_reference_blacklist_serial_dates_and_null_rows(spark):
    bl = read_passport_blacklist(
        spark, os.path.join(REFERENCE_DATA, "passport_blacklist_01032021.xlsx"))
    rows = bl.collect()
    assert len(rows) == 7  # 17 trailing all-NULL sheet rows dropped
    assert all(r.date == datetime.date(2021, 3, 1) for r in rows)


def test_reference_fact_counts(ref_replay):
    batch, con = ref_replay
    assert batch.wh.read_transactions().count() == FACT_TX_ROWS
    assert batch.wh.read("dwh_fact_passport_blacklist").count() == FACT_BL_ROWS
    assert con.sql("SELECT count(*) FROM fact_tx").fetchone()[0] == FACT_TX_ROWS
    assert con.sql("SELECT count(*) FROM fact_bl").fetchone()[0] == FACT_BL_ROWS


def test_reference_audit_trail(ref_replay):
    batch, _ = ref_replay
    meta = batch.wh.read("meta_loading").toPandas()
    stg_tx = meta[meta.table_name == "stg_transactions"].sort_values("event_dt")
    assert list(stg_tx.rows_processed) == DAY_ROWS


def test_reference_hist_mart_and_city_rows(ref_replay):
    batch, con = ref_replay
    assert batch.wh.read("dwh_dim_terminals_hist").count() == HIST_ROWS
    assert con.sql("SELECT count(*) FROM hist").fetchone()[0] == HIST_ROWS
    mart = batch.wh.read("rep_fraud")
    assert mart.count() == MART_ROWS
    cities = (mart.where(F.col("event_type") == fr.EVENT_CITIES)
              .select("event_dt", "passport", "fio", "phone", "report_dt").distinct())
    assert cities.count() == CITY_ROWS


def test_reference_streaming_replay_matches_batch_golden(spark, tmp_path):
    check_streaming_replay(spark, REFERENCE_DATA, SEED_DML, tmp_path,
                           day_rows=DAY_ROWS, hist_rows=HIST_ROWS,
                           mart_rows=MART_ROWS)
