import dataclasses
import importlib.util
import os
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_pipeline_for_detection_banking_fraud_spark.session import get_spark  # noqa: E402


def _import_gen():
    """perfbench's feed generator, imported by path (perfbench is not a
    package); registered as ``gen`` so perfbench's own tests share it."""
    if "gen" not in sys.modules:
        spec = importlib.util.spec_from_file_location(
            "gen", os.path.join(REPO, "perfbench", "gen.py"))
        mod = importlib.util.module_from_spec(spec)
        sys.modules["gen"] = mod
        spec.loader.exec_module(mod)
    return sys.modules["gen"]


gen = _import_gen()

# The source project's own 3-day data set. Only tests/test_reference_golden.py
# reads it, and only where it exists.
REFERENCE_DATA = "/root/reference/data/data"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

# The generated world every replay test runs on: 3 days named like the
# reference feeds (transactions_01032021.txt ... terminals_03032021.xlsx).
# Each day draws a different base volume, so a test that reads the wrong
# day's rows sees a different count.
FEED_SEED, FEED_CLIENTS = 20210301, 50
FEED_TX_PER_DAY = (1950, 2000, 2050)
TERM_COLS = ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]


@dataclasses.dataclass
class Feeds:
    """Seeded feed files plus the rows the generator wrote into them."""
    dir: str                  # transactions_*/passport_blacklist_*/terminals_* files
    seed_dml: str             # ddl_dml.sql for cards, accounts and clients
    world: "gen.World"
    days: list                # gen.DayFeed per day, in date order

    def paths(self, day: int) -> tuple[str, str, str]:
        """(transactions, passport_blacklist, terminals) of day ``day``."""
        tag = self.days[day].date.strftime("%d%m%Y")
        return tuple(os.path.join(self.dir, f"{kind}_{tag}.{ext}") for kind, ext in (
            ("transactions", "txt"), ("passport_blacklist", "xlsx"), ("terminals", "xlsx")))


def _plant_expired_contract(world) -> None:
    """A contract that ends on day 1, on the most active card: rule 2
    ("invalid contract") then fires on days 2 and 3 and never on day 1.
    With 50 clients the generator's own rule-2 plant may draw no
    transaction inside the run."""
    account = world.cards[int(world.pop.argmax())][1]
    for acc in world.accounts:
        if acc[0] == account:
            acc[1] = gen.START


def _plant_scd2_signals(days: list) -> None:
    """The terminal-snapshot signals of the reference scenario (SURVEY §5):
    P9111 appears on day 2 and is gone on day 3; A8966 is present all
    three days and its address changes on day 3."""
    city = gen.CITIES[0]
    a8966 = ("A8966", "ATM", city, f"г. {city}, ул. Ленина, д. 37")
    planted = [
        [a8966],
        [a8966, ("P9111", "POS", city, f"г. {city}, ул. Мира, д. 5")],
        [a8966[:3] + (f"г. {city}, ул. Ленина, д. 3",)],
    ]
    for feed, rows in zip(days, planted):
        feed.terminals = sorted(feed.terminals + rows)


@pytest.fixture(scope="session")
def feeds(tmp_path_factory):
    """One seeded 3-day world written once per session. Tests that move
    or archive feed files copy them into their own inbox first."""
    out = str(tmp_path_factory.mktemp("feeds"))
    world = gen.World(FEED_SEED, FEED_CLIENTS, FEED_TX_PER_DAY[0])
    _plant_expired_contract(world)
    seed_dml = gen.write_seed_dml(world, os.path.join(out, "ddl_dml.sql"))
    days = []
    for n in FEED_TX_PER_DAY:
        world.tx_per_day = n
        days.append(world.day())
    _plant_scd2_signals(days)
    for feed in days:
        gen.write_day(feed, out)
    return Feeds(out, seed_dml, world, days)


@pytest.fixture(scope="session")
def feeds_oracle(feeds):
    """The DuckDB oracle (tests/ref_oracle.py) after the faithful 3-day
    replay of ``feeds``, fed from the generator's own rows."""
    from tests import ref_oracle

    con = ref_oracle.make_oracle()
    dims = feeds.world.dims_pandas()
    ref_oracle.load_dims(con, dims["cards"], dims["accounts"], dims["clients"])
    for feed in feeds.days:
        ref_oracle.run_day(
            con, feed.tx,
            pd.DataFrame(feed.blacklist, columns=["dt", "passport"]),
            pd.DataFrame(feed.terminals, columns=TERM_COLS),
            feed.date)
    return con


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("TZ", "UTC")
    s = get_spark(
        app_name="fraud_etl_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark_warehouse"))
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf001():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01():
    return os.path.join(TESTDATA, "sf0.01")
