"""Daily batch driver: one day's files -> warehouse -> fraud mart.

Re-implements the reference's linear main.py flow (EP1-EP3, SURVEY §3):

1. ingest the three feeds (typed staging DataFrames; the file *is* the
   staging table — no TRUNCATE needed, lineage replaces table lifecycle)
2. promote facts: transactions append; blacklist dedup-append
   (comm_funcs.py:47-78)
3. SCD2 increment + apply on the terminals dimension
   (incr_loading.py:13-129)
4. the four fraud rules into REP_FRAUD (loading_rep_fraud.py:14-135).
   The reference runs all four inserts in ONE Postgres transaction, so
   rule n's NOT-EXISTS dedup sees rules 1..n-1's same-run writes. That
   visibility changes nothing here: each dedup keeps only mart rows of
   its own rule's event type, and no rule emits another rule's type, so
   every rule anti-joins against the stored mart alone. The four rule
   frames become one union, appended once at the end. Each rule runs in
   one formulation (``operators/fraud_rules.py``; rules 3-4 as trailing
   range-frame windows); the literal ``*_join`` forms and the DuckDB
   oracle (tests/ref_oracle.py) are test references only.
5. audit rows into META_LOADING throughout; processed files archived.

Faithful-by-default: rules 1-2 have no idempotency guard in the
reference and double-insert on re-runs; `strict=False` adds the guard.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .audit import flush_meta, log_meta
from .functions.localframe import local_rows_df
from .operators import fraud_rules, scd2
from .sources.csv_source import count_and_date_global, read_transactions
from .sources.warehouse import Warehouse
from .sources.xlsx import read_passport_blacklist, read_terminals

FACT_TX = "dwh_fact_transactions"
FACT_BL = "dwh_fact_passport_blacklist"
DIM_TERM = "dwh_dim_terminals_hist"
MART = "rep_fraud"

# (audit stage, count key, event type) per rule, in the reference's order
RULE_AUDIT = (
    ("REP_FRAUD_passport", "rep_fraud_passport", fraud_rules.EVENT_PASSPORT),
    ("REP_FRAUD_contract", "rep_fraud_contract", fraud_rules.EVENT_CONTRACT),
    ("REP_FRAUD_diff_cities", "rep_fraud_diff_cities", fraud_rules.EVENT_CITIES),
    ("REP_FRAUD_attempt_amount", "rep_fraud_attempt_amount", fraud_rules.EVENT_AMOUNT),
)


class DailyBatch:
    def __init__(self, spark: SparkSession, warehouse_root: str,
                 seed_dims: dict[str, DataFrame], archive_dir: str | None = None,
                 strict: bool = True, incremental: bool = False,
                 atomic: bool = False):
        """`incremental=False` (default) is the parity mode: rules re-scan the
        full fact history every day, exactly like the reference
        (loading_rep_fraud.py:24,52 — no date filter, rules 1-2 re-insert all
        historical hits daily); the day's fact scan and mart read are
        persisted once and shared by the four rules.  `incremental=True` is
        the scale mode: the fact read is partition-pruned to the current day
        (rules 1-2) or a `lookback_days` band (rules 3-4, whose time-window
        pairs can straddle midnight), and rules 1-2 gain the NOT-EXISTS
        idempotency guard so the lookback overlap cannot re-insert.  Daily
        cost becomes O(day), not O(history).

        Rules 3 and 4 run in their window formulation
        (``fraud_rules.rule3_diff_cities_window`` and
        ``rule4_amount_guessing_window``), each planning its hot-card
        branch only when the band's busiest card can cross a threshold.

        `atomic=True` runs each day inside ONE warehouse commit-log
        transaction (the reference runs all inserts in one Postgres
        transaction — loading_rep_fraud.py:135 / comm_funcs.py:18): the
        fact appends, the SCD2 dimension's replace, the mart append and
        every audit row become visible together or not at all, so a
        crash mid-day leaves every table as it was and a straight re-run
        produces zero duplicates. ERROR audit rows commit in their own
        independent transaction so the failure trail survives the
        abort."""
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.dims = seed_dims  # cards / accounts / clients
        self.archive_dir = archive_dir
        self.strict = strict
        self.incremental = incremental
        self.atomic = atomic
        self._card_client_df: DataFrame | None = None

    # Widest pair window any rule needs from the previous day: rule 3's
    # trailing 3599s frame (rule 4's decreasing triples span <1200s).
    RULE_BAND_SECONDS = 3599
    # Days of fact partitions before the current one that incremental
    # rules 3-4 read: the RULE_BAND_SECONDS band fits in one day.
    lookback_days = 1

    def optimize_facts(self, zorder_cards: bool = False) -> None:
        """File maintenance for the fact table (atomic/tracked mode):
        cluster files by ``transaction_date`` WITHIN each dt partition so
        the manifest's per-file time stats become narrow bands. The
        incremental rules 3-4 lookback read then file-skips everything in
        yesterday's partition except the files covering the final
        midnight-straddle hour — partition pruning and file skipping
        compose (run after the day's commit; same optimistic-concurrency
        replace contract as ``Warehouse.cluster_table``).

        ``zorder_cards=True`` z-orders on ``(transaction_date,
        card_num)`` instead: the time-band read keeps most of its
        skipping (each file spans ~sqrt instead of 1/n of the day) and a
        full-history single-card scan — the fraud-analyst drill-down
        that dt pruning can't help — also skips most files. Pick it when
        the deployment serves card lookups too; the default stays the
        sharpest layout for the rules' own read."""
        if zorder_cards:
            self.wh.zorder_table(FACT_TX, ["transaction_date", "card_num"])
        else:
            self.wh.cluster_table(FACT_TX, "transaction_date")

    @contextlib.contextmanager
    def _maybe_txn(self):
        """One commit-log transaction around the block when atomic mode
        is on (no-op if one is already open — run_day wraps
        run_fraud_rules)."""
        if self.atomic and self.wh._active_txn is None:
            with self.wh.transaction():
                yield
        else:
            yield

    # -- EP1: ingest ---------------------------------------------------------

    @contextlib.contextmanager
    def _audited_stage(self, name: str, date_global: datetime.date | None):
        """Failure-path audit (reference comm_funcs.py:42-44 pattern): a
        stage that raises leaves a ``status='ERROR: …'`` META_LOADING row
        before the exception propagates, so the audit trail records *which*
        stage of *which* day failed."""
        try:
            yield
        except Exception as e:  # noqa: BLE001 — log-and-reraise, not swallow
            log_meta(self.wh, name, date_global, 0, f"ERROR: {e}")
            raise

    STG_TABLES = ("stg_transactions", "stg_terminals", "stg_passport_blacklist")

    def clear_stg_tables(self, date_global: datetime.date) -> None:
        """End-of-day staging clear (reference comm_funcs.py:28-44).

        Lineage replaces the physical TRUNCATE (the staging "table" is the
        day's typed DataFrame, dropped with its temp view), but the audit
        surface is kept at parity: one ``CLEAR_<stg_table>`` SUCCESS row per
        staging table, or a single ``CLEAR_STG_TABLES`` ``ERROR: …`` row if
        the clear itself fails."""
        try:
            for t in self.STG_TABLES:
                self.spark.catalog.dropTempView(t)
                log_meta(self.wh, f"CLEAR_{t}", date_global, 0, "SUCCESS")
        except Exception as e:  # noqa: BLE001 — reference logs, not raises
            log_meta(self.wh, "CLEAR_STG_TABLES", date_global, 0, f"ERROR: {e}")
        flush_meta(self.wh)

    def _archive(self, path: str) -> None:
        """Processed-file archival (reference: main.py:66,74,82 SNK4)."""
        if self.archive_dir:
            os.makedirs(self.archive_dir, exist_ok=True)
            shutil.move(path, os.path.join(self.archive_dir, os.path.basename(path) + ".backup"))

    def run_day(self, transactions_path: str, blacklist_path: str,
                terminals_path: str) -> dict[str, int]:
        with self._maybe_txn():
            counts = self._run_day_stages(
                transactions_path, blacklist_path, terminals_path
            )
        # archival AFTER the commit point: a crash inside the (atomic)
        # day must leave the input files in place for the re-run
        for p in (transactions_path, blacklist_path, terminals_path):
            self._archive(p)
        return counts

    def _run_day_stages(self, transactions_path: str, blacklist_path: str,
                        terminals_path: str) -> dict[str, int]:
        counts: dict[str, int] = {}
        date_global: datetime.date | None = None

        with self._audited_stage("stg_transactions", date_global):
            tx = read_transactions(self.spark, transactions_path)
            # one combined scan for count + report date (was two full
            # CSV reads per day); same audit row, same multi-date guard
            counts["stg_transactions"], date_global = count_and_date_global(tx)
            log_meta(self.wh, "stg_transactions", date_global, counts["stg_transactions"])

        with self._audited_stage("stg_passport_blacklist", date_global):
            bl = read_passport_blacklist(self.spark, blacklist_path)
            counts["stg_passport_blacklist"] = bl.count()
            log_meta(self.wh, "stg_passport_blacklist", date_global,
                     counts["stg_passport_blacklist"])

        with self._audited_stage("stg_terminals", date_global):
            term = read_terminals(self.spark, terminals_path)
            counts["stg_terminals"] = term.count()
            log_meta(self.wh, "stg_terminals", date_global, counts["stg_terminals"])

        # -- EP1b: promote facts (comm_funcs.py:47-78) ------------------------
        with self._audited_stage(FACT_BL, date_global):
            existing_bl = self.wh.read(FACT_BL, schemas.PASSPORT_BLACKLIST)
            bl_new = bl.join(existing_bl.select("passport"), "passport", "left_anti").select(
                "date", "passport"
            )
            if self.incremental:
                # Incremental rule 1 needs today's blacklist delta for the
                # retroactive term, computed BEFORE the append below adds
                # it to the table. The delta is a few rows: hold them as a
                # local frame. (A persisted frame is not enough: a write to
                # a table's directory re-caches every cached plan that
                # reads it, so the anti-join would re-run against the
                # appended table and return no rows.)
                bl_new = local_rows_df(self.spark, bl_new.collect(), bl_new.schema)
            self.wh.append(bl_new, FACT_BL)
        with self._audited_stage(FACT_TX, date_global):
            self.wh.append_transactions(tx, FACT_TX)

        # -- EP2: SCD2 dimension (incr_loading.py) ----------------------------
        with self._audited_stage(DIM_TERM, date_global):
            hist = self.wh.read(DIM_TERM, schemas.TERMINALS_HIST)
            next_hist = scd2.apply_increment(hist, term, date_global)
            self.wh.rewrite(next_hist, DIM_TERM)

        # -- EP3: fraud rules (loading_rep_fraud.py) --------------------------
        counts.update(self.run_fraud_rules(
            date_global, bl_delta=bl_new if self.incremental else None))

        self.clear_stg_tables(date_global)
        counts["date_global"] = date_global
        return counts

    def run_fraud_rules(self, date_global: datetime.date,
                        bl_delta: DataFrame | None = None) -> dict[str, int]:
        with self._maybe_txn():
            return self._run_fraud_rules_inner(date_global, bl_delta)

    def _run_fraud_rules_inner(self, date_global: datetime.date,
                               bl_delta: DataFrame | None = None) -> dict[str, int]:
        if self.incremental:
            # Partition-pruned reads: rules 1-2 see exactly today's partition;
            # rules 3-4 see a lookback band for midnight-straddling pairs.
            tx_day = self.wh.read_transactions(FACT_TX, since=date_global, until=date_global)
            # Rules 3-4 only pair within RULE_BAND_SECONDS (rule 3's
            # 1-hour frame; rule 4's triples are narrower), so from the
            # lookback partitions only rows after midnight-minus-band
            # matter: earlier rows can neither pair with a current-day
            # transaction nor produce a hit yesterday's run didn't
            # already insert (the same daily-cadence assumption the
            # lookback itself rests on). The row filter BELOW fixes the
            # semantics independent of file layout; `prune` additionally
            # skips whole lookback files whose manifest time stats end
            # before the band — sharp after optimize_facts() clustering,
            # a no-op on untracked/unclustered layouts.
            band_lo = datetime.datetime.combine(
                date_global, datetime.time.min
            ) - datetime.timedelta(seconds=self.RULE_BAND_SECONDS)
            tx_band = self.wh.read_transactions(
                FACT_TX,
                since=date_global - datetime.timedelta(days=self.lookback_days),
                until=date_global,
                prune={"transaction_date": (band_lo.isoformat(), None)},
            ).where(F.col("transaction_date") >= F.lit(band_lo))
        else:
            tx_day = tx_band = self.wh.read_transactions(FACT_TX)
        tx = tx_day
        bl = self.wh.read(FACT_BL, schemas.PASSPORT_BLACKLIST)
        hist = self.wh.read(DIM_TERM, schemas.TERMINALS_HIST)
        # Retro range for rule 1 (computed up front so the mart read below
        # can prune to it): a BACKDATED blacklist entry arriving today must
        # flag older transactions dated after it. An entry dated yesterday
        # flags transactions from today on, which the current-day term
        # already covers, so its retro range [today, yesterday] is empty.
        retro_lo: datetime.date | None = None
        if self.incremental and bl_delta is not None:
            min_bl = bl_delta.agg(F.min("date")).first()[0]
            if min_bl is not None and min_bl + datetime.timedelta(days=1) < date_global:
                retro_lo = min_bl + datetime.timedelta(days=1)
        if self.incremental:
            # The rules' NOT-EXISTS dedup joins on event_dt EQUALITY and
            # every candidate's event day falls inside the rule band
            # (current day for rules 1-2, lookback band for 3-4, retro
            # range for rule 1's backdated term) — so the stored-mart
            # side prunes to the union of those bands. O(band) dedup
            # even after years of accumulated hits.
            prune_from = date_global - datetime.timedelta(days=self.lookback_days)
            if retro_lo is not None and retro_lo < prune_from:
                prune_from = retro_lo
            stored = self.wh.read_mart(MART, since=prune_from, until=date_global)
        else:
            stored = self.wh.read_mart(MART)

        counts: dict[str, int] = {}
        persisted = []
        if not self.incremental:
            # Faithful mode derives every rule from the SAME full-history
            # fact scan and full mart (the reference's posture); each
            # rule's per-stage job would otherwise re-run both scans, so
            # a year of history gets read four times per day. Persisting
            # them once is pure caching — zero semantic change to the
            # reference-parity results — and turns the faithful mode's
            # history cost from 4x scans into one scan + cache reads
            # (MEMORY_AND_DISK: long histories spill instead of OOM).
            tx = tx_day = tx_band = tx.persist()
            stored = stored.persist()
            persisted.extend([tx, stored])

        def settle(df, audit_name, short):
            """Faithful mode materializes and counts each rule eagerly,
            one Spark job per rule, preserving the reference's per-stage
            audit rows AND per-stage ERROR attribution; the mart append
            then writes the union of the four caches. (Incremental mode
            does not settle: its four rules stay one lazy plan, persisted
            once as a union, written once and counted by one grouped
            aggregate over that cache, so a failing rule surfaces under
            the combined REP_FRAUD_rules stage.)"""
            with self._audited_stage(audit_name, date_global):
                df = df.persist()
                persisted.append(df)
                counts[short] = df.count()
                log_meta(self.wh, audit_name, date_global, counts[short])
            return df

        # one broadcast of the card -> client frame per rule, not three
        dims = (self._card_clients(), None, None)
        # The busiest card's row count in the band bounds every hot-card
        # routing measure of rules 3-4 from above; a rule whose threshold
        # it does not exceed plans only its cold path. (A top-1 sort runs
        # one job fewer than a global max over the per-card counts.)
        with self._audited_stage("REP_FRAUD_rules", date_global):
            busiest = tx_band.groupBy("card_num").count() \
                .orderBy(F.desc("count")).first()
        max_card_rows = busiest["count"] if busiest else 0

        guard_12 = (not self.strict) or self.incremental
        r1 = fraud_rules.rule1_passport(tx, *dims, bl, date_global)
        if retro_lo is not None:
            # Retroactive term: re-scan only the partition-pruned band
            # (min delta date, yesterday) against ONLY the delta entries —
            # O(delta window), not O(history); skipped entirely on days
            # with no entry backdated past yesterday (the common case:
            # feeds date new entries the day they arrive; the
            # current-day term already covers those).
            retro_tx = self.wh.read_transactions(
                FACT_TX,
                since=retro_lo,
                until=date_global - datetime.timedelta(days=1),
            )
            # Disjoint date ranges (retro ends yesterday) -> no overlap
            # with the current-day term; no dedup needed inside the union.
            # Expiry-predicate re-hits on retro days are removed by the
            # stored-mart guard below.
            r1 = r1.unionByName(
                fraud_rules.rule1_passport(retro_tx, *dims, bl_delta, date_global)
            )
        if guard_12:
            r1 = fraud_rules._dedup_against(r1, stored, fraud_rules.EVENT_PASSPORT)

        r2 = fraud_rules.rule2_contract(tx, *dims, date_global)
        if guard_12:
            r2 = fraud_rules._dedup_against(r2, stored, fraud_rules.EVENT_CONTRACT)

        # Rules 3-4 dedup against the stored mart alone: the guard keeps
        # only mart rows of the rule's own event type, and no rule emits
        # another rule's type, so this run's earlier hits never match.
        r3 = fraud_rules.rule3_diff_cities_window(
            tx_band, *dims, hist, stored, date_global, max_card_rows=max_card_rows)
        r4 = fraud_rules.rule4_amount_guessing_window(
            tx_band, *dims, stored, date_global, max_card_rows=max_card_rows)

        rules = [r1, r2, r3, r4]
        if not self.incremental:
            rules = [settle(df, audit_name, short) for df, (audit_name, short, _ev)
                     in zip(rules, RULE_AUDIT)]
        # REP_FRAUD's field order: the dedup's using-join puts
        # (passport, event_dt) first in each rule's frame
        hits = functools.reduce(DataFrame.unionByName, rules).select(
            *schemas.REP_FRAUD.fieldNames())
        if self.incremental:
            hits = hits.persist()
            persisted.append(hits)
            with self._audited_stage("REP_FRAUD_rules", date_global):
                self.wh.append_mart(hits, MART)
            # cache-local: the write materialized it. (An Observation
            # metric on the write would save this job, but a lingering
            # ObservationManager reference poisons later task-closure
            # serialization on the shared session — SparkException: Task
            # not serializable.)
            per_type = dict(hits.groupBy("event_type").count().collect())
            for audit_name, short, event_type in RULE_AUDIT:
                counts[short] = per_type.get(event_type, 0)
                log_meta(self.wh, audit_name, date_global, counts[short])
        else:
            self.wh.append_mart(hits, MART)
        flush_meta(self.wh)
        for df in persisted:
            df.unpersist()
        return counts

    def _card_clients(self) -> DataFrame:
        """The card -> client frame (``fraud_rules.card_clients``) as a
        one-slice local frame, joined once per batch at its first rules
        run: the seed dimensions never change within a run, so each
        day's rules broadcast one small local relation instead of
        three dimension scans."""
        if self._card_client_df is None:
            cc = fraud_rules.card_clients(
                self.dims["cards"], self.dims["accounts"], self.dims["clients"])
            self._card_client_df = local_rows_df(self.spark, cc.collect(), cc.schema)
        return self._card_client_df
