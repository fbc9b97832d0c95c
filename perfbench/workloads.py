"""The benchmark's workloads: set-up, a timed closed loop, and a
correctness gate run after the timed phase.

Every workload drives the engine only through its public API
(``pipeline.DailyBatch``, ``sql_door.warehouse_sql``,
``streaming.ingest``) on files the generator wrote; the gate feeds the
DuckDB oracle from the generator's own rows, never through the engine's
readers.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
import threading
import time

import pandas as pd

import gen

from etl_pipeline_for_detection_banking_fraud_spark import pipeline
from etl_pipeline_for_detection_banking_fraud_spark.sources import seed_dml
from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import read_transactions
from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse
from etl_pipeline_for_detection_banking_fraud_spark.sql_door import warehouse_sql
from etl_pipeline_for_detection_banking_fraud_spark.streaming import ingest
from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.functions.localframe import local_rows_df
from tests import ref_oracle

FACT_TX, FACT_BL, DIM_TERM, MART = (
    pipeline.FACT_TX, pipeline.FACT_BL, pipeline.DIM_TERM, pipeline.MART)
TERM_COLS = ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]


class NoTrace:
    """Stand-in for the span recorder when tracing is off."""

    class _Null:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def root(self, name: str, trace_id: str):
        return self._Null()

    def span(self, name: str, layer: str, **attrs):
        return self._Null()


class Measured:
    """What the timed phase observed."""

    def __init__(self):
        self.steps: list[float] = []     # unit of work: a day or a SELECT
        self.writes: list[float] = []    # committing writes: a day or a writer op
        self.rows = 0                    # rows committed, returned or affected
        self.wall = 0.0                  # timed wall seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.units = range(0)            # days or micro-batches it covered


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _oracle_day(con, feed: gen.DayFeed) -> None:
    ref_oracle.run_day(
        con, feed.tx,
        pd.DataFrame(feed.blacklist, columns=["dt", "passport"]),
        pd.DataFrame(feed.terminals, columns=TERM_COLS),
        feed.date)


def _new_oracle(world: gen.World):
    con = ref_oracle.make_oracle()
    dims = world.dims_pandas()
    ref_oracle.load_dims(con, dims["cards"], dims["accounts"], dims["clients"])
    return con


def _key_set(rows) -> set[tuple]:
    return {tuple(str(v) for v in r) for r in rows}


class Workload:
    """Shared set-up: the generated world, its seed DML, and the seed
    dimensions loaded through ``sources.seed_dml``."""

    n_clients: int
    tx_per_day: int
    # Seconds one timed unit (a day, a write cycle) takes on the hardware
    # in README.md. A run times ``units(seconds)`` of them: the same
    # count on any host, so every run of a seed does the same work.
    unit_s: float

    def __init__(self, seed: int, work: str, trace=None):
        self.seed = seed
        self.work = work
        self.trace = trace or NoTrace()
        self.world = gen.World(seed, self.n_clients, self.tx_per_day)
        self.feed_dir = os.path.join(work, "feeds")
        self.seed_path = gen.write_seed_dml(
            self.world, os.path.join(self.feed_dir, "ddl_dml.sql"))
        self.input_bytes = os.path.getsize(self.seed_path)
        self.spark = None
        self.dims = None

    def build(self, k: int) -> None:
        """One set-up repetition (timed for ``setup_s``); the last one
        is the state the timed phase runs on."""
        self.dims = seed_dml.load_seed_dims(self.spark, self.seed_path)

    def warm(self) -> None:
        pass

    def units(self, seconds: float) -> int:
        return max(1, round(seconds / self.unit_s))

    def measure(self, seconds: float) -> Measured:
        """One timed phase. The traced run calls it three times: with
        the span recorder off, on, and off again; the two halves with it
        off are the baseline of its overhead."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def warehouse(self) -> Warehouse:
        """The warehouse the timed phase ran on."""
        return self.wh

    def stored_bytes(self) -> int:
        return dir_bytes(self.warehouse().root)

    def layer_counts(self, m: Measured) -> dict[str, float]:
        """Counts the traced run reports for its timed phase ``m`` that
        come from the workload itself rather than from spans or the Spark
        event log."""
        return {}


# ---------------------------------------------------------------------------
# nightly_incremental
# ---------------------------------------------------------------------------

class NightlyIncremental(Workload):
    name = "nightly_incremental"
    n_clients, tx_per_day = 1200, 5000
    unit_s = 7.5

    def __init__(self, seed, work, trace=None):
        super().__init__(seed, work, trace)
        self.feeds: list[gen.DayFeed] = []
        self.paths: list[dict] = []

    def _next_day(self) -> dict:
        feed = self.world.day()
        paths = gen.write_day(feed, self.feed_dir)
        self.input_bytes += sum(os.path.getsize(p) for p in paths.values())
        self.feeds.append(feed)
        self.paths.append(paths)
        return paths

    def build(self, k):
        super().build(k)
        self.root = os.path.join(self.work, f"wh{k}")
        self.batch = pipeline.DailyBatch(self.spark, self.root, self.dims,
                                         incremental=True, atomic=True)

    def _run_day(self, paths: dict, i: int) -> dict:
        with self.trace.root("day", f"day{i}"):
            return self.batch.run_day(paths["transactions"], paths["blacklist"],
                                      paths["terminals"])

    def warm(self):
        self._run_day(self._next_day(), 0)

    def measure(self, seconds):
        m = Measured()
        first = len(self.paths)
        for _ in range(self.units(seconds)):
            paths = self._next_day()
            m.attempted += 1
            t = time.perf_counter()
            try:
                counts = self._run_day(paths, len(self.paths) - 1)
            except Exception as e:  # noqa: BLE001 — a failed day ends the run
                m.failed += 1
                m.errors.append(f"day {len(self.paths) - 1}: {e!r}")
                break
            dt = time.perf_counter() - t
            m.wall += dt
            m.steps.append(dt)
            m.writes.append(dt)
            m.rows += counts["stg_transactions"]
        m.units = range(first, len(self.paths))
        return m

    def check(self):
        con = _new_oracle(self.world)
        self.hist_rows = [0]             # SCD2 rows after each day
        for feed in self.feeds:
            _oracle_day(con, feed)
            self.hist_rows.append(con.sql("SELECT count(*) FROM hist").fetchone()[0])
        wh = self.batch.wh
        problems = []
        got = _key_set(wh.read_mart(MART).select(
            "event_dt", "passport", "event_type").distinct().collect())
        want = _key_set(con.sql(
            "SELECT DISTINCT event_dt, passport, event_type FROM mart").fetchall())
        if got != want:
            problems.append(f"rep_fraud distinct keys: {len(got - want)} extra, "
                            f"{len(want - got)} missing of {len(want)}")
        for name, df, oracle_table in (
                (FACT_TX, wh.read_transactions(FACT_TX), "fact_tx"),
                (FACT_BL, wh.read(FACT_BL), "fact_bl"),
                (DIM_TERM, wh.read(DIM_TERM), "hist")):
            n, o = df.count(), con.sql(f"SELECT count(*) FROM {oracle_table}").fetchone()[0]
            if n != o:
                problems.append(f"{name}: {n} rows, oracle {o}")
        self.mart_rows = wh.read_mart(MART).count()
        self.mart_keys = len(want)
        return problems

    def warehouse(self):
        return self.batch.wh

    def layer_counts(self, m):
        return {"scd2.rows_changed": self.hist_rows[m.units.stop] - self.hist_rows[m.units.start],
                "rules.new_hit_frac": self.mart_keys / max(1, self.mart_rows)}


# ---------------------------------------------------------------------------
# analyst_mix
# ---------------------------------------------------------------------------

class AnalystMix(Workload):
    """Two reader clients and one writer client over a warehouse built
    in set-up from three generated days (facts, blacklist, SCD2 dimension
    and the faithful-mode mart the oracle derives from them).

    The writer is the warehouse's only writer. It cycles through a MERGE
    into the blacklist fact, a DELETE and an UPDATE of mart rows, and the
    ingest of one 20-minute transaction drop through
    ``streaming.ingest.stream_to_warehouse(atomic=True)``: it stages the
    file and waits until its micro-batch commits."""

    name = "analyst_mix"
    n_clients, tx_per_day = 1500, 4000
    unit_s = 7.5
    history_days = 3
    readers = 2
    drop_seconds = 1200
    # fixed op cycles: the mix is the same for every seed
    READ_CYCLE = ("card", "summary", "card", "top", "card", "version")
    WRITE_CYCLE = ("merge", "delete", "update", "ingest")

    def __init__(self, seed, work, trace=None):
        super().__init__(seed, work, trace)
        self.con = _new_oracle(self.world)
        self.feeds = []
        for _ in range(self.history_days):
            feed = self.world.day()
            paths = gen.write_day(feed, self.feed_dir)
            self.input_bytes += sum(os.path.getsize(p) for p in paths.values())
            _oracle_day(self.con, feed)
            self.feeds.append(feed)
        self.tx_glob = os.path.join(self.feed_dir, "transactions_*.txt")
        self.bl = self.con.sql("SELECT dt, passport FROM fact_bl").fetchall()
        self.hist = self.con.sql(
            "SELECT terminal_id, terminal_type, terminal_city, terminal_address, "
            "effective_from, effective_to, deleted_flg FROM hist").fetchall()
        self.mart = self.con.sql(
            "SELECT event_dt, passport, fio, phone, event_type, report_dt FROM mart").fetchall()
        self._spool_drops()
        self._plan_ops()

    def _spool_drops(self) -> None:
        """The day after the history, cut into 20-minute drop files."""
        stream_feed = self.world.day()
        self.stream_day = stream_feed.date
        tx = stream_feed.tx
        spool = os.path.join(self.work, "spool")
        os.makedirs(spool)
        self.inbox = os.path.join(self.work, "inbox")
        os.makedirs(self.inbox)
        secs = tx["transaction_date"].values.astype("datetime64[s]").astype("int64")
        self.drops: list[tuple[str, set]] = []
        for _b, part in tx.groupby(secs // self.drop_seconds, sort=True):
            path = os.path.join(spool, f"transactions_{len(self.drops):05d}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(gen.tx_csv_text(part))
            self.drops.append((path, set(part["transaction_id"])))

    def _plan_ops(self) -> None:
        rng = random.Random(self.seed)
        days = [f.date for f in self.feeds]
        read_days = days[:-1]          # the writer only touches the last day
        self.last_day = days[-1]
        # drill-downs alternate a popular and an unpopular card, by rank
        ranked = self.world.card_num[(-self.world.pop).argsort()]
        self.read_ops = []
        for i in range(4000):
            kind = self.READ_CYCLE[i % len(self.READ_CYCLE)]
            n = i // len(self.READ_CYCLE)
            if kind == "card":
                rank = n % 50 if i % 4 == 0 else len(ranked) // 2 + n % 50
                self.read_ops.append((kind, ranked[rank]))
            else:
                self.read_ops.append((kind, read_days[n % len(read_days)]))
        last = self.con.sql(
            "SELECT passport, count(*) FROM mart WHERE CAST(event_dt AS DATE) = ? "
            "GROUP BY passport ORDER BY passport", params=[self.last_day]).fetchall()
        rng.shuffle(last)
        self.mart_groups = last
        self.merge_existing = sorted(p for _d, p in self.bl)[:2]
        self.max_writes = len(self.WRITE_CYCLE) * min(len(last) // 2, len(self.drops))

    def build(self, k):
        super().build(k)
        spark = self.spark
        root = os.path.join(self.work, f"master{k}")
        wh = Warehouse(spark, root)
        with wh.transaction():
            wh.append_transactions(read_transactions(spark, self.tx_glob), FACT_TX)
            wh.append(local_rows_df(spark, self.bl, schemas.PASSPORT_BLACKLIST), FACT_BL)
            wh.append(local_rows_df(spark, self.hist, schemas.TERMINALS_HIST), DIM_TERM)
            wh.append_mart(local_rows_df(spark, self.mart, schemas.REP_FRAUD), MART)
        self.version = wh.snapshots()[-1]["seq"]
        self.master = root

    def warm(self):
        """Clone the master, start the stream, and run one read cycle
        and one write cycle untimed."""
        self.root = os.path.join(self.work, "run")
        shutil.copytree(self.master, self.root, copy_function=os.link)
        self.wh = Warehouse(self.spark, self.root)
        self.batches: dict[int, object] = {}
        self.staged = 0
        with self.trace.root("stream.start", "stream-start"):
            tx = ingest.read_transactions_stream(self.spark, self.inbox,
                                                 max_files_per_trigger=1)
            # the sink gets its own handle: a Warehouse holds one open
            # transaction and one audit buffer at a time
            self.query = ingest.stream_to_warehouse(
                tx, Warehouse(self.spark, self.root),
                os.path.join(self.work, "checkpoint"), atomic=True)
        for op in self._reader_ops(0)[:len(self.READ_CYCLE)]:
            self._read(op)
        for j in range(len(self.WRITE_CYCLE)):
            self._write(j)
        self.next_write = len(self.WRITE_CYCLE)
        self.results: dict[tuple, list] = {}

    def _reader_ops(self, r: int) -> list:
        """Reader ``r``'s own stretch of the op schedule (each reader
        runs the whole cycle)."""
        per = len(self.read_ops) // self.readers
        return self.read_ops[r * per:(r + 1) * per]

    def _sql(self, kind: str, param) -> str:
        if kind == "card":
            return ("SELECT transaction_date, amount, oper_result, terminal "
                    f"FROM {FACT_TX} WHERE card_num = '{param}' "
                    f"AND transaction_date < TIMESTAMP '{self.stream_day} 00:00:00'")
        if kind == "summary":
            return (f"SELECT event_type, count(*) AS n FROM {MART} "
                    f"WHERE report_dt = DATE '{param}' GROUP BY event_type")
        if kind == "top":
            nxt = param + datetime.timedelta(days=1)
            return ("SELECT terminal, count(*) AS n, sum(amount) AS total "
                    f"FROM {FACT_TX} WHERE transaction_date >= TIMESTAMP '{param} 00:00:00' "
                    f"AND transaction_date < TIMESTAMP '{nxt} 00:00:00' "
                    "GROUP BY terminal ORDER BY n DESC, terminal LIMIT 10")
        return (f"SELECT event_type, count(*) AS n FROM {MART} "
                f"VERSION AS OF {self.version} GROUP BY event_type")

    def _read(self, op) -> list:
        kind, param = op
        df = warehouse_sql(self.wh, self._sql(kind, param))
        with self.trace.span("sql.exec", "sql_door"):
            return [tuple(r) for r in df.collect()]

    def _write(self, j: int) -> int:
        kind = self.WRITE_CYCLE[j % len(self.WRITE_CYCLE)]
        n = j // len(self.WRITE_CYCLE)
        if kind == "ingest":
            return self._ingest_drop()
        if kind == "merge":
            rng = random.Random(self.seed * 100_003 + j)
            d = self.last_day
            rows = [(d, p) for p in self.merge_existing] + [
                (d, f"00{rng.randrange(10**2):02d} {rng.randrange(10**6):06d}-{j}-{k}")
                for k in range(3)]
            view = f"bl_upd_{j}"
            local_rows_df(self.spark, rows, schemas.PASSPORT_BLACKLIST) \
                .createOrReplaceTempView(view)
            res = warehouse_sql(self.wh, f"""
                MERGE INTO {FACT_BL} USING {view} s ON {FACT_BL}.passport = s.passport
                WHEN MATCHED THEN UPDATE SET `date` = s.`date`
                WHEN NOT MATCHED THEN INSERT (`date`, passport) VALUES (s.`date`, s.passport)""")
            self.spark.catalog.dropTempView(view)
            if res != {"updated": 2, "deleted": 0, "inserted": 3}:
                raise AssertionError(f"MERGE affected {res}")
            return 5
        # deletes and updates each take their own passport group, so
        # every statement's expected row count is the oracle's
        passport, want = self.mart_groups[2 * n + (kind == "update")]
        nxt = self.last_day + datetime.timedelta(days=1)
        where = (f"passport = '{passport}' AND event_dt >= TIMESTAMP '{self.last_day} 00:00:00' "
                 f"AND event_dt < TIMESTAMP '{nxt} 00:00:00'")
        if kind == "delete":
            got = warehouse_sql(self.wh, f"DELETE FROM {MART} WHERE {where}")
        else:
            got = warehouse_sql(self.wh, f"UPDATE {MART} SET phone = '+7 000 000 00 00' "
                                         f"WHERE {where}")
        if got != want:
            raise AssertionError(f"{kind} {passport}: {got} rows, expected {want}")
        return got

    def _ingest_drop(self, timeout: float = 120) -> int:
        """Stage the next drop file and wait until its micro-batch commits."""
        src, ids = self.drops[self.staged]
        self.input_bytes += os.path.getsize(src)
        t = 1_600_000_000 + self.staged    # the file source orders by mtime
        os.utime(src, (t, t))
        os.replace(src, os.path.join(self.inbox, os.path.basename(src)))
        self.staged += 1
        end = time.perf_counter() + timeout
        while len(self.batches) < self.staged:
            if time.perf_counter() > end or self.query.exception() is not None:
                raise RuntimeError(f"stream stalled at {len(self.batches)}/{self.staged} "
                                   f"batches: {self.query.exception()}")
            time.sleep(0.005)
            for p in self.query.recentProgress:
                if p.numInputRows > 0:
                    self.batches[p.batchId] = p
        return len(ids)

    def measure(self, seconds):
        m = Measured()
        lock = threading.Lock()
        cycle = len(self.WRITE_CYCLE)
        first_batch = self.staged
        writer_done = threading.Event()

        def run_op(runner, op, tid: str, i: int) -> bool:
            t = time.perf_counter()
            try:
                with self.trace.root(runner.__name__, f"{tid}-{i}"):
                    out = runner(op)
            except Exception as e:  # noqa: BLE001 — counted as failed
                with lock:
                    m.attempted += 1
                    m.failed += 1
                    m.errors.append(f"{tid} {op}: {e!r}")
                return False
            dt = time.perf_counter() - t
            with lock:
                m.attempted += 1
                if runner == self._read:
                    m.steps.append(dt)
                    m.rows += len(out)
                    self.results.setdefault(op, out)
                else:
                    m.rows += out
            return True

        def reader(r: int) -> None:
            # every timed read runs beside the writer: reads alone are
            # faster, and their share would follow the host's speed
            for i, op in enumerate(self._reader_ops(r)):
                if writer_done.is_set():
                    break
                run_op(self._read, op, f"r{r}", i)

        def writer() -> None:
            # whole write cycles only, so every run times the same op mix;
            # one write sample is one cycle
            try:
                for _ in range(self.units(seconds)):
                    if self.next_write + cycle > self.max_writes:
                        with lock:
                            m.attempted += 1
                            m.failed += 1
                            m.errors.append("w: the planned writes are used up")
                        break
                    t = time.perf_counter()
                    ok = True
                    for j in range(self.next_write, self.next_write + cycle):
                        ok = run_op(self._write, j, "w", j) and ok
                    self.next_write += cycle
                    if ok:
                        m.writes.append(time.perf_counter() - t)
            finally:
                writer_done.set()

        threads = [threading.Thread(target=reader, args=(r,)) for r in range(self.readers)]
        threads.append(threading.Thread(target=writer))
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        m.wall = time.perf_counter() - t0
        m.units = range(first_batch, self.staged)
        return m

    def check(self):
        self.query.stop()
        problems = []
        for (kind, param), got in self.results.items():
            if kind == "card":
                want = self.con.sql(
                    "SELECT transaction_date, amount, oper_result, terminal FROM fact_tx "
                    "WHERE card_num = ?", params=[param]).fetchall()
                ok = _key_set(got) == _key_set(want) and len(got) == len(want)
            elif kind == "summary":
                want = self.con.sql(
                    "SELECT event_type, count(*) FROM mart WHERE report_dt = ? "
                    "GROUP BY event_type", params=[param]).fetchall()
                ok = _key_set(got) == _key_set(want)
            elif kind == "top":
                want = self.con.sql(
                    "SELECT terminal, count(*) AS n, sum(amount) FROM fact_tx "
                    "WHERE CAST(transaction_date AS DATE) = ? "
                    "GROUP BY terminal ORDER BY n DESC, terminal LIMIT 10",
                    params=[param]).fetchall()
                ok = [tuple(str(v) for v in r) for r in got] == \
                    [tuple(str(v) for v in r) for r in want]
            else:
                want = self.con.sql(
                    "SELECT event_type, count(*) FROM mart GROUP BY event_type").fetchall()
                ok = _key_set(got) == _key_set(want)
            if not ok:
                problems.append(f"read {kind} {param}: {len(got)} rows differ from oracle")
        # the stream: exactly the staged drops' rows, one COMMIT marker each
        want_ids = set().union(*(ids for _p, ids in self.drops[:self.staged]))
        got_ids = {r[0] for r in self.wh.read_transactions(
            FACT_TX, since=self.stream_day, until=self.stream_day)
            .select("transaction_id").collect()}
        if got_ids != want_ids:
            problems.append(f"streamed fact ids: {len(got_ids - want_ids)} extra, "
                            f"{len(want_ids - got_ids)} missing")
        markers = self.wh.read("meta_loading").where("status LIKE 'COMMIT_%'").count()
        if markers != len(self.batches) or markers != self.staged:
            problems.append(f"{markers} COMMIT markers for {len(self.batches)} batches "
                            f"of {self.staged} drops")
        return problems

    def layer_counts(self, m):
        timed = [p for bid, p in self.batches.items() if bid in m.units]
        ms = {k: sum(p.durationMs.get(k, 0) for p in timed)
              for k in ("addBatch", "queryPlanning", "walCommit")}
        return {"stream.add_batch_ms": ms["addBatch"],
                "stream.query_planning_ms": ms["queryPlanning"],
                "stream.wal_commit_ms": ms["walCommit"],
                "stream.batches": len(timed)}


WORKLOADS = {w.name: w for w in (NightlyIncremental, AnalystMix)}
