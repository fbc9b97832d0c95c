"""The nightly rules as one plan: Spark jobs per day, the mart's field
order and file schema, and the hot-card branch.

An ordinary incremental day runs its four rules in a bounded number of
Spark jobs and plans no ``applyInPandas`` branch. A planted bot-attack
day (one mapped card with hundreds of decreasing REJECTs and thousands
of rows in one hour over two cities) plans the hot branch, and its
``REP_FRAUD`` rows equal the DuckDB oracle's (tests/ref_oracle.py) on the
same feed rows.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os

import pandas as pd
import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import read_transactions
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse
from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import (
    read_passport_blacklist,
    read_terminals,
)

from . import ref_oracle
from .conftest import gen
from .test_replay_golden import duck_rows_of, spark_rows_of
from .test_write_jobs import _jobs

# Spark jobs of one incremental day's run_fraud_rules on the feeds
# fixture's second day, as measured: the retro-range probe, the busiest
# card's top-1 count, the broadcasts, the one union's write, its grouped
# count and the audit flush.
RULES_JOB_BUDGET = 21
HOT_NODE = "FlatMapGroupsInPandas"


@pytest.fixture
def mart_plans(monkeypatch):
    """The analyzed plan of every frame the rules append to the mart."""
    plans: list[str] = []
    real = Warehouse.append_mart

    def spy(self, df, table="rep_fraud"):
        plans.append(df._jdf.queryExecution().analyzed().toString())
        return real(self, df, table)

    monkeypatch.setattr(Warehouse, "append_mart", spy)
    return plans


def _commit_entries(wh) -> list[dict]:
    d = wh._manifest_dir()
    out = []
    for fn in sorted((f for f in os.listdir(d)
                      if f.endswith(".json") and f[:-5].isdigit()),
                     key=lambda f: int(f[:-5])):
        with open(os.path.join(d, fn)) as f:
            out.append(json.load(f))
    return out


def test_incremental_day_rules_jobs_budget(spark, feeds, tmp_path, mart_plans):
    dims = load_seed_dims(spark, feeds.seed_dml)
    batch = DailyBatch(spark, str(tmp_path / "wh"), dims, incremental=True,
                       atomic=True)
    batch.run_day(*feeds.paths(0))
    entries = len(_commit_entries(batch.wh))

    real = batch.run_fraud_rules
    seen = []

    def counted(*a, **k):
        out, n = _jobs(spark, lambda: real(*a, **k))
        seen.append(n)
        return out

    batch.run_fraud_rules = counted
    counts = batch.run_day(*feeds.paths(1))
    assert len(seen) == 1
    assert seen[0] <= RULES_JOB_BUDGET, f"rules ran {seen[0]} Spark jobs"
    assert sum(v for k, v in counts.items() if k.startswith("rep_fraud")) > 0

    # an ordinary day plans no hot-card branch
    assert len(mart_plans) == 2
    assert not any(HOT_NODE in p for p in mart_plans)

    # the data columns in REP_FRAUD's order, then the read's derived
    # day key of the days(event_dt) layout
    assert batch.wh.read("rep_fraud").columns == \
        schemas.REP_FRAUD.fieldNames() + ["event_dt_day"]
    new = _commit_entries(batch.wh)[entries:]
    assert new, "the day committed nothing"
    assert not any("rep_fraud" in e.get("file_schema", {}) for e in new)


def _bot_rows(card: str, day: datetime.date, term_a: str, term_b: str) -> pd.DataFrame:
    """One card's bot attack inside one hour of ``day``: 600 REJECTs of
    decreasing amounts one second apart and a lower SUCCESS (rule 4's
    shape, far past its 512-REJECT routing threshold), then 3,600
    REJECTs two a second alternating between two cities' terminals, and
    two low SUCCESS rows in the second city (over 4,096 rows in the
    hour: rule 3's routing threshold)."""
    t0 = datetime.datetime.combine(day, datetime.time(10, 0))
    rows = [(t0 + datetime.timedelta(seconds=i), 1_000_000 - 1_000 * i, "REJECT", term_a)
            for i in range(600)]
    rows.append((t0 + datetime.timedelta(seconds=600), 10_000, "SUCCESS", term_a))
    rows += [(t0 + datetime.timedelta(seconds=601 + j // 2), 100,
              "REJECT", term_a if j % 2 else term_b) for j in range(3600)]
    rows += [(t0 + datetime.timedelta(seconds=s), 50, "SUCCESS", term_b)
             for s in (2402, 2700)]
    return pd.DataFrame({
        "transaction_id": [f"bot{i}" for i in range(len(rows))],
        "transaction_date": pd.to_datetime([r[0] for r in rows]),
        "amount": [f"{c // 100}.{c % 100:02d}" for _t, c, _r, _m in rows],
        "card_num": card,
        "oper_type": "PAYMENT",
        "oper_result": [r[2] for r in rows],
        "terminal": [r[3] for r in rows],
    })


def test_bot_attack_day_plans_hot_branch_and_matches_oracle(spark, feeds, tmp_path,
                                                            mart_plans):
    world, feed = feeds.world, feeds.days[0]
    city_of = {tid: city for tid, _k, city, _a in feed.terminals}
    term_a = next(iter(sorted(city_of)))
    term_b = next(t for t in sorted(city_of) if city_of[t] != city_of[term_a])
    card = world.card_num[int(world.tail[0])]
    bot = _bot_rows(card, feed.date, term_a, term_b)
    planted = dataclasses.replace(feed, tx=pd.concat([feed.tx, bot], ignore_index=True))
    paths = gen.write_day(planted, str(tmp_path / "inbox"))

    con = ref_oracle.make_oracle()
    dims = load_seed_dims(spark, feeds.seed_dml)
    ref_oracle.load_dims(con, *(dims[k].toPandas() for k in ("cards", "accounts", "clients")))
    tx_pdf = read_transactions(spark, paths["transactions"]).toPandas()
    tx_pdf["amount"] = tx_pdf["amount"].astype(str)
    ref_oracle.run_day(
        con, tx_pdf,
        read_passport_blacklist(spark, paths["blacklist"]).toPandas()
        .rename(columns={"date": "dt"}),
        read_terminals(spark, paths["terminals"]).toPandas(),
        feed.date)

    batch = DailyBatch(spark, str(tmp_path / "wh"), dims, incremental=True, atomic=True)
    counts = batch.run_day(paths["transactions"], paths["blacklist"], paths["terminals"])
    assert counts["stg_transactions"] == len(feed.tx) + len(bot)
    assert len(mart_plans) == 1 and HOT_NODE in mart_plans[0]

    got = spark_rows_of(batch.wh.read_mart())
    want = duck_rows_of(con.sql("SELECT * FROM mart"))
    assert got == want
    bot_hits = {(r[0], r[4]) for r in got if r[0].date() == feed.date
                and r[0].hour == 10 and r[1] == _passport_of(world, card)}
    assert (bot["transaction_date"][600].to_pydatetime(), "amount guessing") in bot_hits
    assert any(ev == "ops in diff cities less one hour" for _t, ev in bot_hits)


def _passport_of(world, card: str) -> str:
    account = next(acc for c, acc, *_ in world.cards if c == card)
    client = next(cl for a, _v, cl, *_ in world.accounts if a == account)
    return next(c[5] for c in world.clients if c[0] == client)
