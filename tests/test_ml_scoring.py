"""MLlib fraud scorer: end-to-end on the seeded 3-day replay feeds —
engineer features, weak-label from the rule engine, train, score, and
check the model actually ranks rule-flagged transactions higher."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.operators import fraud_rules as fr
from etl_pipeline_for_detection_banking_fraud_spark.operators import ml_scoring, scd2
from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import (
    extract_date_global,
    read_transactions,
)
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims
from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import read_terminals


@pytest.fixture(scope="module")
def replay_day3(spark, feeds):
    """Transactions of all 3 days + day-3 dimension state + rule hits."""
    tx = None
    for day in ("01032021", "02032021", "03032021"):
        d = read_transactions(spark, os.path.join(feeds.dir, f"transactions_{day}.txt"))
        tx = d if tx is None else tx.unionByName(d)
    hist = spark.createDataFrame([], schema=schemas.TERMINALS_HIST)
    for day, dg in (("01032021", (2021, 3, 1)), ("02032021", (2021, 3, 2)),
                    ("03032021", (2021, 3, 3))):
        import datetime

        snap = read_terminals(spark, os.path.join(feeds.dir, f"terminals_{day}.xlsx"))
        hist = scd2.apply_increment(hist, snap, datetime.date(*dg)).persist()
    dims = load_seed_dims(spark, feeds.seed_dml)
    return tx.persist(), hist, dims


def test_scorer_ranks_rule_hits_higher(spark, replay_day3):
    import datetime

    tx, hist, dims = replay_day3
    cards, accounts, clients = dims["cards"], dims["accounts"], dims["clients"]
    empty_mart = spark.createDataFrame([], schema=schemas.REP_FRAUD)

    hits = fr.rule4_amount_guessing_window(
        tx, cards, accounts, clients, empty_mart, datetime.date(2021, 3, 3)
    ).unionByName(
        fr.rule3_diff_cities_window(
            tx, cards, accounts, clients, hist, empty_mart, datetime.date(2021, 3, 3)
        )
    ).persist()
    assert hits.count() > 0

    feats = ml_scoring.engineer_features(tx, hist)
    labeled = ml_scoring.label_from_rules(feats, hits, cards, accounts, clients).persist()
    assert labeled.where("label = 1.0").count() > 0

    model = ml_scoring.train_scorer(labeled)
    scored = ml_scoring.score(model, labeled).persist()
    assert "fraud_score" in scored.columns
    assert scored.count() == tx.count()

    avg = {
        r.label: r.avg_score
        for r in scored.groupBy("label").agg(F.avg("fraud_score").alias("avg_score")).collect()
    }
    # the learned scorer must separate rule-flagged txs from the rest
    assert avg[1.0] > avg[0.0]


def test_label_join_is_passport_scoped_not_timestamp_scoped(spark):
    """A transaction co-timestamped with a rule hit but on an UNFLAGGED
    card must stay label 0 (r1 advice: cross-card label leakage)."""
    import datetime

    ts = datetime.datetime(2021, 3, 1, 12, 0, 0)
    feats = spark.createDataFrame(
        [("t1", "CARD_A", ts, 1.0), ("t2", "CARD_B", ts, 1.0)],
        "transaction_id string, card_num string, transaction_date timestamp, amount_d double",
    )
    cards = spark.createDataFrame(
        [("CARD_A", "ACC_A"), ("CARD_B", "ACC_B")], "card_num string, account string"
    )
    accounts = spark.createDataFrame(
        [("ACC_A", 1), ("ACC_B", 2)], "account string, client int"
    )
    clients = spark.createDataFrame(
        [(1, "PASS_A"), (2, "PASS_B")], "client_id int, passport_num string"
    )
    hits = spark.createDataFrame(
        [(ts, "PASS_A")], "event_dt timestamp, passport string"
    )
    labeled = {
        r.transaction_id: r.label
        for r in ml_scoring.label_from_rules(feats, hits, cards, accounts, clients).collect()
    }
    assert labeled == {"t1": 1.0, "t2": 0.0}


def test_extract_date_global_still_works(spark, feeds):
    tx = read_transactions(spark, os.path.join(feeds.dir, "transactions_01032021.txt"))
    import datetime

    assert extract_date_global(tx) == datetime.date(2021, 3, 1)
