"""SCD2 operator unit tests on synthetic snapshots, including the
faithful reference quirks (against-all-versions change detection,
per-version tombstones)."""

from __future__ import annotations

import datetime

import pytest

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.functions.scalars import SCD2_OPEN_END_DATE
from etl_pipeline_for_detection_banking_fraud_spark.operators import scd2

D = datetime.date


def _snap(spark, rows):
    return spark.createDataFrame(
        [(tid, "POS", city, addr) for tid, city, addr in rows], schema=schemas.TERMINALS
    )


def _hist_rows(df):
    return sorted(
        (
            (r.terminal_id, r.terminal_city, r.terminal_address, r.effective_from,
             r.effective_to, r.deleted_flg)
            for r in df.collect()
        ),
        key=repr,
    )


@pytest.fixture(scope="module")
def empty_hist(spark):
    return spark.createDataFrame([], schema=schemas.TERMINALS_HIST)


def test_initial_load(spark, empty_hist):
    snap = _snap(spark, [("T1", "A", "a1"), ("T2", "B", "b1")])
    out = scd2.apply_increment(empty_hist, snap, D(2021, 3, 1))
    assert _hist_rows(out) == [
        ("T1", "A", "a1", D(2021, 3, 1), SCD2_OPEN_END_DATE, False),
        ("T2", "B", "b1", D(2021, 3, 1), SCD2_OPEN_END_DATE, False),
    ]


def test_update_closes_and_versions(spark, empty_hist):
    day1 = scd2.apply_increment(empty_hist, _snap(spark, [("T1", "A", "a1")]), D(2021, 3, 1))
    day2 = scd2.apply_increment(day1, _snap(spark, [("T1", "A", "a2")]), D(2021, 3, 2))
    assert _hist_rows(day2) == [
        ("T1", "A", "a1", D(2021, 3, 1), D(2021, 3, 1), False),
        ("T1", "A", "a2", D(2021, 3, 2), SCD2_OPEN_END_DATE, False),
    ]


def test_delete_tombstones(spark, empty_hist):
    day1 = scd2.apply_increment(
        empty_hist, _snap(spark, [("T1", "A", "a1"), ("T2", "B", "b1")]), D(2021, 3, 1)
    )
    day2 = scd2.apply_increment(day1, _snap(spark, [("T1", "A", "a1")]), D(2021, 3, 2))
    assert _hist_rows(day2) == [
        ("T1", "A", "a1", D(2021, 3, 1), SCD2_OPEN_END_DATE, False),
        ("T2", "B", "b1", D(2021, 3, 1), D(2021, 3, 1), False),
        ("T2", "B", "b1", D(2021, 3, 2), SCD2_OPEN_END_DATE, True),
    ]


def test_null_safe_change_detection(spark, empty_hist):
    """NULL -> value attribute change must register (eqNullSafe, not !=)."""
    day1 = scd2.apply_increment(empty_hist, _snap(spark, [("T1", None, "a1")]), D(2021, 3, 1))
    day2 = scd2.apply_increment(day1, _snap(spark, [("T1", "A", "a1")]), D(2021, 3, 2))
    rows = _hist_rows(day2)
    assert set(rows) == {
        ("T1", None, "a1", D(2021, 3, 1), D(2021, 3, 1), False),
        ("T1", "A", "a1", D(2021, 3, 2), SCD2_OPEN_END_DATE, False),
    }


def test_faithful_quirk_rechange_duplicates_version(spark, empty_hist):
    """Reference behavior: change detection compares against ALL versions
    (incr_loading.py:52-53), so after a second change the snapshot
    differs from BOTH old versions and two identical new versions are
    inserted. Golden-locked (see SURVEY §2 J7 / A8966 in the replay)."""
    d1 = scd2.apply_increment(empty_hist, _snap(spark, [("T1", "A", "a1")]), D(2021, 3, 1))
    d2 = scd2.apply_increment(d1, _snap(spark, [("T1", "A", "a2")]), D(2021, 3, 2))
    d3 = scd2.apply_increment(d2, _snap(spark, [("T1", "A", "a3")]), D(2021, 3, 3))
    rows = _hist_rows(d3)
    assert rows.count(("T1", "A", "a3", D(2021, 3, 3), SCD2_OPEN_END_DATE, False)) == 2
    assert ("T1", "A", "a2", D(2021, 3, 2), D(2021, 3, 2), False) in rows


def test_onepass_matches_multipass_differential(spark, empty_hist):
    """The single-pass full-outer apply must be row-multiset-identical to
    the DuckDB oracle's increment-per-increment SCD2 (tests/ref_oracle.py:
    new / updated / deleted sets, then the closes and inserts) over
    randomized multi-day churn (adds, attribute flips, deletes, returns)."""
    import random

    import pandas as pd

    from . import ref_oracle

    def empty(schema):
        return spark.createDataFrame([], schema=schema).toArrow()

    con = ref_oracle.make_oracle()
    ref_oracle.load_dims(con, empty(schemas.CARDS), empty(schemas.ACCOUNTS),
                         empty(schemas.CLIENTS))
    no_tx = empty(schemas.TRANSACTIONS)
    no_bl = pd.DataFrame({"dt": pd.Series([], dtype="datetime64[ns]"),
                          "passport": pd.Series([], dtype="string")})
    rng = random.Random(42)
    keys = [f"T{i}" for i in range(12)]
    hist_one = empty_hist
    for day in range(1, 6):
        present = rng.sample(keys, rng.randint(5, 11))
        snap = _snap(
            spark,
            [(k, rng.choice(["A", "B", None]), f"a{rng.randint(1, 3)}") for k in present],
        )
        dg = D(2021, 3, day)
        hist_one = scd2.apply_increment(hist_one, snap, dg).persist()
        ref_oracle.run_day(con, no_tx, no_bl, snap.toArrow(), dg)
        one = _hist_rows(hist_one)
        multi = sorted(
            con.execute(
                "SELECT terminal_id, terminal_city, terminal_address, effective_from, "
                "effective_to, deleted_flg FROM hist"
            ).fetchall(),
            key=repr,
        )
        assert one == multi, f"day {day}: {len(one)} vs {len(multi)} rows"
