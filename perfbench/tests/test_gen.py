"""Generator determinism and XLSX round-trip through the engine's readers."""

import datetime
import filecmp
import os

import pytest

import gen

N_CLIENTS, TX_PER_DAY = 60, 2000


def _write(seed: int, out: str, days: int = 3) -> list[str]:
    world = gen.World(seed, N_CLIENTS, TX_PER_DAY)
    paths = [gen.write_seed_dml(world, os.path.join(out, "ddl_dml.sql"))]
    for _ in range(days):
        paths.extend(gen.write_day(world.day(), out).values())
    return paths


def test_same_seed_gives_identical_files(tmp_path):
    a = _write(7, str(tmp_path / "a"))
    b = _write(7, str(tmp_path / "b"))
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    for pa, pb in zip(a, b):
        assert filecmp.cmp(pa, pb, shallow=False), pa


def test_other_seed_gives_other_files(tmp_path):
    a = _write(7, str(tmp_path / "a"), days=1)
    b = _write(8, str(tmp_path / "b"), days=1)
    assert not any(filecmp.cmp(pa, pb, shallow=False) for pa, pb in zip(a, b))


def test_transactions_csv_shape():
    world = gen.World(3, N_CLIENTS, TX_PER_DAY)
    feed = world.day()
    lines = gen.tx_csv_text(feed.tx).splitlines()
    assert lines[0] == gen.TX_HEADER
    fields = lines[1].split(";")
    assert len(fields) == 7 and "," in fields[2] and "." not in fields[2]
    # one calendar date per feed, ids unique
    assert feed.tx["transaction_date"].dt.date.nunique() == 1
    assert feed.tx["transaction_id"].is_unique


def test_planted_positives_present():
    world = gen.World(5, N_CLIENTS, TX_PER_DAY)
    feeds = [world.day() for _ in range(3)]
    # the blacklist is cumulative and carries a backdated or same-day date
    assert len(feeds[2].blacklist) > len(feeds[0].blacklist)
    assert feeds[0].blacklist == feeds[2].blacklist[:len(feeds[0].blacklist)]
    # rule 4: REJECT, REJECT, SUCCESS withdrawals of decreasing amounts
    # within 20 minutes on one card
    tx = feeds[0].tx
    runs = 0
    for _card, g in tx[tx.oper_type == "WITHDRAW"].groupby("card_num"):
        res, ts = list(g.oper_result), list(g.transaction_date)
        amt = [float(a) for a in g.amount]
        runs += any(res[i:i + 3] == ["REJECT", "REJECT", "SUCCESS"]
                    and amt[i] > amt[i + 1] > amt[i + 2]
                    and ts[i + 2] - ts[i] < datetime.timedelta(minutes=20)
                    for i in range(len(res) - 2))
    assert runs >= int(gen.GUESS_RATE * TX_PER_DAY) > 0


@pytest.fixture(scope="module")
def spark():
    from etl_pipeline_for_detection_banking_fraud_spark.session import get_spark
    return get_spark(app_name="perfbench_tests", master="local[1]", shuffle_partitions=1)


def test_xlsx_round_trip(spark, tmp_path):
    from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import (
        read_passport_blacklist, read_terminals)

    world = gen.World(11, N_CLIENTS, TX_PER_DAY)
    world.day()
    feed = world.day()
    paths = gen.write_day(feed, str(tmp_path))
    terms = sorted(tuple(r) for r in read_terminals(spark, paths["terminals"]).collect())
    assert terms == sorted(feed.terminals)
    bl = [tuple(r) for r in read_passport_blacklist(spark, paths["blacklist"]).collect()]
    # Excel-serial dates come back as dates; trailing all-NULL rows are dropped
    assert feed.blank_rows > 0
    assert bl == feed.blacklist
