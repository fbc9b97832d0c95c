"""Golden 3-day replay: Spark engine vs independent DuckDB oracle.

Runs a seeded 3-day scenario (the ``feeds`` fixture: generated feeds in
the reference formats, with the SCD2 signals of SURVEY §5 planted)
through the Spark pipeline AND through tests/ref_oracle.py's DuckDB
transcription of the reference semantics, then compares warehouse state
value-for-value: facts, the SCD2 dimension (as a multiset — duplicate
versions are part of the faithful behavior), and the full fraud mart.
The reference data set's own counts are pinned in
tests/test_reference_golden.py.
"""

from __future__ import annotations

import datetime
import os
import shutil

import duckdb
import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import read_transactions
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims
from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import (
    read_passport_blacklist,
    read_terminals,
)

from . import ref_oracle

DAYS = ["01032021", "02032021", "03032021"]
DATES = [datetime.date(2021, 3, d) for d in (1, 2, 3)]


def _norm(v):
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.replace(tzinfo=None)
    return v


def spark_rows_of(df) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in row) for row in df.collect())


def duck_rows_of(rel) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in row) for row in rel.fetchall())


@pytest.fixture(scope="module")
def replay(spark, feeds, tmp_path_factory):
    """(spark warehouse state, duckdb oracle connection) after 3 days."""
    return replay_with_oracle(spark, feeds.dir, feeds.seed_dml, tmp_path_factory)


def replay_with_oracle(spark, feed_dir, seed_dml, tmp_path_factory):
    """Replay the 3 days in ``feed_dir`` through DailyBatch and the
    oracle; returns (batch, duckdb connection)."""
    root = str(tmp_path_factory.mktemp("wh"))
    dims = load_seed_dims(spark, seed_dml)
    batch = DailyBatch(spark, root, dims)

    con = ref_oracle.make_oracle()
    ref_oracle.load_dims(
        con,
        dims["cards"].toPandas(),
        dims["accounts"].toPandas(),
        dims["clients"].toPandas(),
    )

    workdir = str(tmp_path_factory.mktemp("inbox"))
    for day, date_global in zip(DAYS, DATES):
        paths = {}
        for stem in (f"transactions_{day}.txt", f"passport_blacklist_{day}.xlsx",
                     f"terminals_{day}.xlsx"):
            src = os.path.join(feed_dir, stem)
            dst = os.path.join(workdir, stem)
            shutil.copy(src, dst)
            paths[stem.split("_")[0]] = dst

        tx_df = read_transactions(spark, paths["transactions"])
        bl_df = read_passport_blacklist(spark, paths["passport"])
        term_df = read_terminals(spark, paths["terminals"])

        tx_pdf = tx_df.toPandas()
        tx_pdf["amount"] = tx_pdf["amount"].astype(str)
        bl_pdf = bl_df.toPandas().rename(columns={"date": "dt"})
        ref_oracle.run_day(con, tx_pdf, bl_pdf, term_df.toPandas(), date_global)

        batch.run_day(paths["transactions"], paths["passport"], paths["terminals"])

    return batch, con


def test_fact_counts(replay, feeds):
    batch, con = replay
    n_tx = sum(len(feed.tx) for feed in feeds.days)
    # the blacklist fact keeps each passport once; the last day's feed
    # is cumulative, so it holds every entry
    n_bl = len({passport for _dt, passport in feeds.days[-1].blacklist})
    assert batch.wh.read_transactions().count() == n_tx
    assert batch.wh.read("dwh_fact_passport_blacklist").count() == n_bl
    assert con.sql("SELECT count(*) FROM fact_tx").fetchone()[0] == n_tx
    assert con.sql("SELECT count(*) FROM fact_bl").fetchone()[0] == n_bl


def test_blacklist_contents_match(replay):
    batch, con = replay
    spark_rows = spark_rows_of(batch.wh.read("dwh_fact_passport_blacklist"))
    duck_rows = duck_rows_of(con.sql("SELECT dt, passport FROM fact_bl"))
    assert spark_rows == duck_rows


def test_scd2_dimension_matches_oracle(replay):
    batch, con = replay
    cols = ["terminal_id", "terminal_type", "terminal_city", "terminal_address",
            "effective_from", "effective_to", "deleted_flg"]
    spark_rows = spark_rows_of(batch.wh.read("dwh_dim_terminals_hist").select(*cols))
    duck_rows = duck_rows_of(con.sql(f"SELECT {', '.join(cols)} FROM hist"))
    assert spark_rows == duck_rows


def test_scd2_known_scenario(replay):
    """The crafted signals from SURVEY §5: P9111 add+tombstone, A8966 change."""
    batch, _ = replay
    hist = batch.wh.read("dwh_dim_terminals_hist").toPandas()
    p9111 = hist[hist.terminal_id == "P9111"].sort_values("effective_from")
    assert list(p9111.deleted_flg) == [False, True]
    assert p9111.iloc[0].effective_from == datetime.date(2021, 3, 2)
    assert p9111.iloc[1].effective_from == datetime.date(2021, 3, 3)
    a8966 = hist[hist.terminal_id == "A8966"]
    assert (a8966.effective_from == datetime.date(2021, 3, 1)).sum() == 1
    assert (a8966.effective_from == datetime.date(2021, 3, 3)).sum() >= 1


def test_fraud_mart_matches_oracle(replay):
    batch, con = replay
    cols = ["event_dt", "passport", "fio", "phone", "event_type", "report_dt"]
    spark_rows = spark_rows_of(batch.wh.read("rep_fraud").select(*cols))
    duck_rows = duck_rows_of(con.sql(f"SELECT {', '.join(cols)} FROM mart"))
    assert len(spark_rows) == len(duck_rows)
    assert spark_rows == duck_rows


def test_audit_trail(replay, feeds):
    batch, _ = replay
    meta = batch.wh.read("meta_loading").toPandas()
    stg_tx = meta[meta.table_name == "stg_transactions"].sort_values("event_dt")
    assert list(stg_tx.rows_processed) == [len(feed.tx) for feed in feeds.days]
    assert set(meta.status) == {"SUCCESS"}
