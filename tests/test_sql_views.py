"""SQL API surface + the rules' as-of terminal join at version boundaries."""

from __future__ import annotations

import datetime
from decimal import Decimal

from etl_pipeline_for_detection_banking_fraud_spark import schemas, sql_views
from etl_pipeline_for_detection_banking_fraud_spark.functions.scalars import SCD2_OPEN_END_DATE
from etl_pipeline_for_detection_banking_fraud_spark.operators import fraud_rules as fr
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

D = datetime.date
TS = datetime.datetime


def test_register_views_and_query_sql(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tx = spark.createDataFrame(
        [("t1", TS(2021, 3, 1, 10, 0), Decimal("5.00"), "C1", "PAYMENT", "SUCCESS", "T")],
        schema=schemas.TRANSACTIONS,
    )
    wh.append_transactions(tx)
    names = sql_views.register_views(wh)
    assert "dwh_fact_transactions" in names and "rep_fraud" in names
    row = spark.sql(
        "SELECT count(*) AS n, max(amount) AS mx FROM dwh_fact_transactions"
    ).first()
    assert row.n == 1 and row.mx == Decimal("5.00")
    assert spark.sql("SELECT * FROM rep_fraud").count() == 0


def test_pandas_asof_matches_relational_asof(spark):
    hist = spark.createDataFrame(
        [
            ("T1", "POS", "CityA", "a", D(2021, 1, 1), D(2021, 3, 1), False),
            ("T1", "POS", "CityB", "a", D(2021, 3, 2), SCD2_OPEN_END_DATE, False),
        ],
        schema=schemas.TERMINALS_HIST,
    )
    tx = spark.createDataFrame(
        [
            # midnight on the closed version's last day: matches v1
            ("t0", TS(2021, 3, 1, 0, 0), Decimal("1.00"), "C", "PAYMENT", "SUCCESS", "T1"),
            # afternoon of the boundary day: matches NEITHER version
            ("t1", TS(2021, 3, 1, 14, 0), Decimal("1.00"), "C", "PAYMENT", "SUCCESS", "T1"),
            ("t2", TS(2021, 3, 5, 10, 0), Decimal("1.00"), "C", "PAYMENT", "SUCCESS", "T1"),
        ],
        schema=schemas.TRANSACTIONS,
    )
    rel = {
        (r.transaction_id, r.c_city)
        for r in fr._city_asof(tx, hist, "c").select("transaction_id", "c_city").collect()
    }
    assert rel == {("t0", "CityA"), ("t2", "CityB")}
