"""Re-run semantics: faithful mode double-inserts rules 1-2 (the
reference's behavior); fixed mode (strict=False) is fully idempotent."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

import os

from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims


def _day1(batch, feeds):
    return batch.run_day(
        os.path.join(feeds.dir, "transactions_01032021.txt"),
        os.path.join(feeds.dir, "passport_blacklist_01032021.xlsx"),
        os.path.join(feeds.dir, "terminals_01032021.xlsx"),
    )


def test_faithful_mode_rerun_double_inserts_rules_1_2(spark, feeds, tmp_path):
    """SURVEY §5: re-running the fraud stage re-inserts rule-1/2 hits
    (the reference has no guard there) while rules 3/4 stay deduped."""
    import shutil

    workdir = tmp_path / "inbox_strict"
    workdir.mkdir()
    for stem in ("transactions_01032021.txt", "passport_blacklist_01032021.xlsx",
                 "terminals_01032021.xlsx"):
        shutil.copy(os.path.join(feeds.dir, stem), workdir)

    dims = load_seed_dims(spark, feeds.seed_dml)
    batch = DailyBatch(spark, str(tmp_path / "wh_strict"), dims, strict=True)
    counts = batch.run_day(
        str(workdir / "transactions_01032021.txt"),
        str(workdir / "passport_blacklist_01032021.xlsx"),
        str(workdir / "terminals_01032021.xlsx"),
    )
    n1 = batch.wh.read("rep_fraud").count()
    rerun = batch.run_fraud_rules(counts["date_global"])
    assert rerun["rep_fraud_passport"] == counts["rep_fraud_passport"]
    assert rerun["rep_fraud_contract"] == counts["rep_fraud_contract"]
    assert rerun["rep_fraud_diff_cities"] == 0
    assert rerun["rep_fraud_attempt_amount"] == 0
    expected = n1 + counts["rep_fraud_passport"] + counts["rep_fraud_contract"]
    assert batch.wh.read("rep_fraud").count() == expected


def test_fixed_mode_rerun_is_idempotent(spark, feeds, tmp_path):
    import shutil

    workdir = tmp_path / "inbox"
    workdir.mkdir()
    for stem in ("transactions_01032021.txt", "passport_blacklist_01032021.xlsx",
                 "terminals_01032021.xlsx"):
        shutil.copy(os.path.join(feeds.dir, stem), workdir)

    dims = load_seed_dims(spark, feeds.seed_dml)
    batch = DailyBatch(spark, str(tmp_path / "wh"), dims, strict=False)
    counts = batch.run_day(
        str(workdir / "transactions_01032021.txt"),
        str(workdir / "passport_blacklist_01032021.xlsx"),
        str(workdir / "terminals_01032021.xlsx"),
    )
    date_global = counts["date_global"]
    n1 = batch.wh.read("rep_fraud").count()

    rerun = batch.run_fraud_rules(date_global)
    assert all(v == 0 for k, v in rerun.items() if k.startswith("rep_fraud"))
    assert batch.wh.read("rep_fraud").count() == n1
