"""The four fraud-detection rules as pure DataFrame transformations.

Re-implements reference py_scripts/loading_rep_fraud.py:14-135
(SURVEY §2 J1-J6, A1, S3-S6, F1-F8). Each rule returns a DataFrame in
the REP_FRAUD shape; sequencing/visibility semantics (the reference's
single-transaction read-your-own-writes, EP3) live in pipeline.py.

Two formulations of the self-join rules (3 and 4):
- ``*_window``: the production path, the only one ``DailyBatch`` runs —
  one pass over transactions, ``Window.partitionBy(card_num).orderBy(ts)``
  with a range frame holding the trailing hour / 20 minutes. O(n log n)
  per day, one shuffle on card_num, no pair blowup; this is the
  formulation that survives 100 TB.
- ``*_join``: literal translation of the reference SQL — a same-card
  self-join with a time-band residual, O(pairs-per-card) on hot cards.
  A test reference only: the rule and hot-card tests check the window
  form against it, and the replay suites against the DuckDB oracle.

Dimension sides are broadcast: they are key-bounded (cards per bank,
terminals per bank), not data-volume-bounded, so they stay broadcastable
even at 100 TB of facts. The J1 chain (cards -> accounts -> clients) is
one broadcast of the pre-joined card -> client frame (``card_clients``),
not three: ``DailyBatch`` builds that frame once per run and passes it
as ``cards`` with ``accounts`` and ``clients`` None; direct callers may
still pass the three dimensions.

The window forms plan their hot-card ``applyInPandas`` branch only when
the caller's ``max_card_rows`` bound lets a card cross a threshold.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalars import epoch_diff, fio, ts_between_dates

EVENT_PASSPORT = "blocked or expired passport"
EVENT_CONTRACT = "invalid contract"
EVENT_CITIES = "ops in diff cities less one hour"
EVENT_AMOUNT = "amount guessing"


CARD_CLIENT_COLS = (
    "card_num", "valid_to", "last_name", "first_name", "patronymic",
    "passport_num", "passport_valid_to", "phone",
)


def card_clients(cards: DataFrame, accounts: DataFrame,
                 clients: DataFrame) -> DataFrame:
    """The static half of the J1 chain: cards -> accounts -> clients, one
    row per card with every column a rule reads (``CARD_CLIENT_COLS``).
    The joins are inner joins keyed through ``card_num``, so joining the
    dimensions first and the transactions last gives the same rows as
    the reference's left-deep chain."""
    return (
        cards.select("card_num", "account")
        .join(F.broadcast(accounts.select("account", "valid_to", "client")), "account")
        .join(
            F.broadcast(clients.select(
                F.col("client_id").alias("client"), "last_name", "first_name",
                "patronymic", "passport_num", "passport_valid_to", "phone",
            )),
            "client",
        )
        .select(*CARD_CLIENT_COLS)
    )


def enrich_client(tx: DataFrame, cards: DataFrame, accounts: DataFrame | None = None,
                  clients: DataFrame | None = None) -> DataFrame:
    """The J1 chain (reference: loading_rep_fraud.py:25-27 and siblings)
    as ONE broadcast join of ``tx`` with the card -> client frame.

    ``cards`` is either the cards dimension, with ``accounts`` and
    ``clients`` beside it, or a frame ``card_clients`` already built
    (``accounts`` and ``clients`` None). ``DailyBatch`` builds that frame
    once per run and hands it to every rule."""
    cc = cards if accounts is None and clients is None \
        else card_clients(cards, accounts, clients)
    return tx.join(F.broadcast(cc), "card_num")


def _report(df: DataFrame, event_dt: Column, event_type: str,
            date_global: datetime.date) -> DataFrame:
    """Project to the REP_FRAUD shape (reference: loading_rep_fraud.py:17-23)."""
    return df.select(
        event_dt.alias("event_dt"),
        F.col("passport_num").alias("passport"),
        fio().alias("fio"),
        F.col("phone").alias("phone"),
        F.lit(event_type).alias("event_type"),
        F.lit(date_global).alias("report_dt"),
    )


def _dedup_against(candidates: DataFrame, existing: DataFrame, event_type: str) -> DataFrame:
    """NOT EXISTS idempotency guard on (passport, event_dt, event_type)
    (reference: loading_rep_fraud.py:86-91,123-128) as a left-anti join."""
    seen = existing.where(F.col("event_type") == event_type).select("passport", "event_dt")
    return candidates.join(seen, ["passport", "event_dt"], "left_anti")


# ---------------------------------------------------------------------------
# Rule 1 — blocked or expired passport (loading_rep_fraud.py:15-37)
# ---------------------------------------------------------------------------

def rule1_passport(tx: DataFrame, cards: DataFrame, accounts: DataFrame,
                   clients: DataFrame, blacklist: DataFrame,
                   date_global: datetime.date) -> DataFrame:
    j = enrich_client(tx, cards, accounts, clients)
    bl = F.broadcast(
        blacklist.select(F.col("passport").alias("bl_passport"), F.col("date").alias("bl_date"))
    )
    j = j.join(bl, F.col("passport_num") == F.col("bl_passport"), "left")
    tx_date = F.to_date("transaction_date")
    fraud = (
        (F.col("passport_valid_to") < tx_date)
        | (F.col("bl_passport").isNotNull() & (tx_date > F.col("bl_date")))
    ) & (F.col("oper_result") == "SUCCESS")
    return _report(j.where(fraud), F.col("transaction_date"), EVENT_PASSPORT, date_global)


# ---------------------------------------------------------------------------
# Rule 2 — invalid contract (loading_rep_fraud.py:43-58)
# ---------------------------------------------------------------------------

def rule2_contract(tx: DataFrame, cards: DataFrame, accounts: DataFrame,
                   clients: DataFrame, date_global: datetime.date) -> DataFrame:
    j = enrich_client(tx, cards, accounts, clients)
    fraud = (F.to_date("transaction_date") > F.col("valid_to")) & (
        F.col("oper_result") == "SUCCESS"
    )
    return _report(j.where(fraud), F.col("transaction_date"), EVENT_CONTRACT, date_global)


# ---------------------------------------------------------------------------
# Rule 3 — ops in different cities within one hour (loading_rep_fraud.py:64-92)
# ---------------------------------------------------------------------------

def _city_asof(tx: DataFrame, terminals_hist: DataFrame, alias: str,
               how: str = "inner") -> DataFrame:
    """As-of join: the terminal city in effect at transaction time (J6).

    Postgres coerces the date bounds to midnight timestamps in
    ``ts BETWEEN effective_from AND effective_to``
    (loading_rep_fraud.py:81,83) — ts_between_dates reproduces that.
    ``how='inner'`` matches the reference rules (transactions without an
    in-effect version vanish); feature pipelines use ``'left'``.
    """
    th = F.broadcast(
        terminals_hist.select(
            F.col("terminal_id").alias(f"{alias}_tid"),
            F.col("terminal_city").alias(f"{alias}_city"),
            F.col("effective_from").alias(f"{alias}_from"),
            F.col("effective_to").alias(f"{alias}_to"),
        )
    )
    return tx.join(
        th,
        (F.col("terminal") == F.col(f"{alias}_tid"))
        & ts_between_dates(F.col("transaction_date"), F.col(f"{alias}_from"), F.col(f"{alias}_to")),
        how,
    ).drop(f"{alias}_tid", f"{alias}_from", f"{alias}_to")


def rule3_diff_cities_join(tx: DataFrame, cards: DataFrame, accounts: DataFrame,
                           clients: DataFrame, terminals_hist: DataFrame,
                           existing_mart: DataFrame,
                           date_global: datetime.date) -> DataFrame:
    """Literal self-join formulation (reference SQL shape)."""
    t1 = _city_asof(
        tx.select("card_num", "transaction_date", "terminal"), terminals_hist, "c1"
    ).select(
        F.col("card_num").alias("t1_card"),
        F.col("transaction_date").alias("t1_ts"),
        F.col("c1_city").alias("t1_city"),
    )
    t2 = _city_asof(tx, terminals_hist, "c2")
    pairs = t2.join(
        t1,
        (F.col("card_num") == F.col("t1_card"))
        & (F.col("t1_ts") < F.col("transaction_date"))
        & (epoch_diff(F.col("transaction_date"), F.col("t1_ts")) < 3600)
        & (F.col("t1_city") != F.col("c2_city"))
        & (F.col("oper_result") == "SUCCESS"),
        "inner",
    )
    hits = enrich_client(
        pairs.select("card_num", "transaction_date").distinct(), cards, accounts, clients
    )
    cand = _report(hits, F.col("transaction_date"), EVENT_CITIES, date_global)
    deduped = _dedup_against(cand, existing_mart, EVENT_CITIES)
    # DISTINCT ON (event_dt, passport) — arbitrary pick, same semantics (A1)
    return deduped.dropDuplicates(["event_dt", "passport"])


def _rule3_hot_card_hits(hot: DataFrame) -> DataFrame:
    """Exact rule-3 detection for hot cards, O(k) time and memory per
    card (the rule-4 overflow pattern next door, ``_rule4_hot_card_hits``,
    applied to the city-hop rule): one Arrow batch per card, a monotone
    two-pointer sliding window over the sorted transactions maintaining
    a city->count map for the trailing [ts-3599, ts-1] band. A SUCCESS
    row hits iff the band holds a non-null city different from its own —
    i.e. (non-null prior count) - (count of its own city) > 0. NULL
    cities never hit and never witness, matching the relational form's
    null comparison semantics."""
    import collections

    import pandas as pd

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_ts_sec", kind="mergesort")
        ts = pdf["_ts_sec"].tolist()
        city = pdf["c_city"].tolist()
        res = pdf["oper_result"].tolist()
        cnt: collections.Counter = collections.Counter()
        nonnull = 0
        lo = hi = 0
        keep = []
        for i in range(len(ts)):
            while hi < i and ts[hi] < ts[i]:  # same-second rows excluded
                if isinstance(city[hi], str):
                    cnt[city[hi]] += 1
                    nonnull += 1
                hi += 1
            while lo < hi and ts[lo] < ts[i] - 3599:
                if isinstance(city[lo], str):
                    cnt[city[lo]] -= 1
                    nonnull -= 1
                lo += 1
            if (
                res[i] == "SUCCESS"
                and isinstance(city[i], str)
                and nonnull - cnt[city[i]] > 0
            ):
                keep.append(i)
        return pdf.iloc[keep][["card_num", "transaction_date"]]

    return hot.groupBy("card_num").applyInPandas(
        detect, schema="card_num string, transaction_date timestamp"
    )


def rule3_diff_cities_window(tx: DataFrame, cards: DataFrame, accounts: DataFrame,
                             clients: DataFrame, terminals_hist: DataFrame,
                             existing_mart: DataFrame,
                             date_global: datetime.date,
                             hot_card_threshold: int = 4096,
                             max_card_rows: int | None = None) -> DataFrame:
    """Production formulation: trailing-hour range frame per card.

    A transaction is fraudulent iff some earlier same-card transaction
    in the previous 3599s happened in a different city (city resolved
    per the SCD2 version in effect at each transaction's own time).
    One shuffle on card_num; no pair materialization.

    Constant-memory frame state: "a different prior city exists" is
    exactly ``min(city) != city OR max(city) != city`` over the frame
    (all-equal prior cities make min = max = city), so the per-row state
    is two strings and a count — no ``collect_set`` city trail, which a
    bot sweeping many terminals could grow without bound (the round-4
    advisory). NULL semantics match the set form: null prior cities are
    ignored by min/max/count, a null own-city row never hits.

    Hot-card guard (same pattern as ``rule4_amount_guessing_window``):
    min/max over a sliding range frame are recomputed per row, so a
    card with k same-band transactions still costs O(k) CPU per row
    (O(k^2) per card — a straggler task at bot-attack k even though
    memory is flat). Cards whose peak band population exceeds
    ``hot_card_threshold`` are detected with the same constant-memory
    window count (reusing the card_num exchange/sort) and routed
    through the exact O(k)-total two-pointer scan in
    ``_rule3_hot_card_hits``.

    ``max_card_rows``, when given, is an upper bound on any one card's
    row count in ``tx``, and so on its band population. At or below
    ``hot_card_threshold`` no card can be hot: only the cold path is
    planned, with no routing windows and no ``applyInPandas`` branch.
    Without the bound both branches are planned. Either branch is
    exact, so the bound decides the plan, never the hits.
    """
    with_city = _city_asof(tx, terminals_hist, "c").withColumn(
        "_ts_sec", F.col("transaction_date").cast("long")
    )
    w = Window.partitionBy("card_num").orderBy("_ts_sec").rangeBetween(-3599, -1)
    cold = with_city
    hot_flagged = None
    if max_card_rows is None or max_card_rows > hot_card_threshold:
        # routing measure counts ALL frame rows (count(lit(1)), not
        # count(c_city)): null-city rows are invisible to the rule but the
        # frame recompute still scans them — counting only non-null cities
        # would leave a null-city-heavy bot on the O(k^2) cold path
        marked = with_city.withColumn(
            "_n_prior", F.count(F.lit(1)).over(w)
        ).withColumn(
            "_card_peak", F.max("_n_prior").over(Window.partitionBy("card_num"))
        )
        cold = marked.where(F.col("_card_peak") <= hot_card_threshold)
        hot_flagged = _rule3_hot_card_hits(
            marked.where(F.col("_card_peak") > hot_card_threshold).select(
                "card_num", "transaction_date", "_ts_sec", "c_city", "oper_result"
            )
        )
    flagged = (
        cold.withColumn("_min_city", F.min("c_city").over(w))
        .withColumn("_max_city", F.max("c_city").over(w))
        .where(
            (F.col("oper_result") == "SUCCESS")
            & (
                (F.col("_min_city") != F.col("c_city"))
                | (F.col("_max_city") != F.col("c_city"))
            )
        )
        .select("card_num", "transaction_date")
    )
    if hot_flagged is not None:
        flagged = flagged.unionByName(hot_flagged)
    # repeated (card_num, transaction_date) hits are left to the closing
    # dropDuplicates on (event_dt, passport), which removes them too
    hits = enrich_client(flagged, cards, accounts, clients)
    cand = _report(hits, F.col("transaction_date"), EVENT_CITIES, date_global)
    deduped = _dedup_against(cand, existing_mart, EVENT_CITIES)
    return deduped.dropDuplicates(["event_dt", "passport"])


# ---------------------------------------------------------------------------
# Rule 4 — amount guessing (loading_rep_fraud.py:98-129)
# ---------------------------------------------------------------------------

def rule4_amount_guessing_join(tx: DataFrame, cards: DataFrame, accounts: DataFrame,
                               clients: DataFrame, existing_mart: DataFrame,
                               date_global: datetime.date) -> DataFrame:
    """Literal triple self-join: any t1<t2<t3 on one card, gaps < 1200s,
    total span < 1200s, strictly decreasing amounts, REJECT,REJECT,SUCCESS."""
    base = tx.select("card_num", "transaction_date", "amount", "oper_result")
    t1 = base.select(
        F.col("card_num").alias("k1"), F.col("transaction_date").alias("ts1"),
        F.col("amount").alias("am1"), F.col("oper_result").alias("r1"),
    )
    t2 = base.select(
        F.col("card_num").alias("k2"), F.col("transaction_date").alias("ts2"),
        F.col("amount").alias("am2"), F.col("oper_result").alias("r2"),
    )
    t3 = base
    triples = (
        t3.join(
            t2,
            (F.col("k2") == F.col("card_num"))
            & (F.col("ts2") < F.col("transaction_date"))
            & (epoch_diff(F.col("transaction_date"), F.col("ts2")) < 1200),
        )
        .join(
            t1,
            (F.col("k1") == F.col("card_num"))
            & (F.col("ts1") < F.col("ts2"))
            & (epoch_diff(F.col("ts2"), F.col("ts1")) < 1200)
            & (epoch_diff(F.col("transaction_date"), F.col("ts1")) < 1200),
        )
        .where(
            (F.col("r1") == "REJECT")
            & (F.col("r2") == "REJECT")
            & (F.col("oper_result") == "SUCCESS")
            & (F.col("am1") > F.col("am2"))
            & (F.col("am2") > F.col("amount"))
        )
    )
    hits = enrich_client(
        triples.select("card_num", "transaction_date").distinct(), cards, accounts, clients
    )
    cand = _report(hits, F.col("transaction_date"), EVENT_AMOUNT, date_global)
    deduped = _dedup_against(cand, existing_mart, EVENT_AMOUNT)
    return deduped.dropDuplicates(["event_dt", "passport"])


def _rule4_hot_card_hits(hot: DataFrame) -> DataFrame:
    """Exact rule-4 detection for hot cards, O(k) memory per card.

    A card with k transactions per 20-minute band makes the window
    form's per-row trail O(k) and its total O(k^2) — a bot-attack card
    (exactly the fraud scenario) OOMs one task. This path routes such
    cards through applyInPandas: one Arrow batch per card (O(k) rows,
    no per-row trail arrays), a numpy sliding-window scan per SUCCESS
    row. Amounts arrive as exact integer cents, timestamps as whole
    seconds, so the semantics match the relational form bit-for-bit.
    """
    import numpy as np
    import pandas as pd

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_ts_sec", kind="mergesort")
        ts = pdf["_ts_sec"].to_numpy(np.int64)
        am = pdf["_am_cents"].to_numpy(np.int64)
        res = pdf["oper_result"].to_numpy()
        rej = res == "REJECT"
        rts, ram = ts[rej], am[rej]
        keep = []
        for i in np.nonzero(res == "SUCCESS")[0]:
            lo = np.searchsorted(rts, ts[i] - 1199, side="left")
            hi = np.searchsorted(rts, ts[i], side="left")  # strict ts < ts3
            if hi - lo < 2:
                continue
            wts, wam = rts[lo:hi], ram[lo:hi]
            runmax = np.maximum.accumulate(wam)
            # max amount among REJECTs with ts STRICTLY before each
            # position (pos = last index with ts < wts[j]; sorted input
            # makes runmax[pos] exactly that strict-prefix max)
            pos = np.searchsorted(wts, wts, side="left") - 1
            prevmax = np.where(
                pos >= 0, runmax[np.clip(pos, 0, None)], np.iinfo(np.int64).min
            )
            if np.any((prevmax > wam) & (wam > am[i])):
                keep.append(i)
        return pdf.iloc[keep][["card_num", "transaction_date"]]

    return hot.groupBy("card_num").applyInPandas(
        detect, schema="card_num string, transaction_date timestamp"
    )


def rule4_amount_guessing_window(tx: DataFrame, cards: DataFrame, accounts: DataFrame,
                                 clients: DataFrame, existing_mart: DataFrame,
                                 date_global: datetime.date,
                                 hot_card_threshold: int = 512,
                                 hot_card_cpu_threshold: int = 8192,
                                 max_card_rows: int | None = None) -> DataFrame:
    """Production formulation: trailing-20-minute frame + array EXISTS,
    with a hot-card overflow path bounding per-row memory.

    Collect the trailing REJECT (ts, amount) tuples in a [-1199, -1]
    range frame (whole-second timestamps make the frame bound exactly
    equivalent to the reference's strict `< 1200` span conditions —
    t1 < t2 < t3 with span(t3,t1) < 1200 implies both gap bounds), then
    test the decreasing REJECT,REJECT,SUCCESS triple with higher-order
    array functions — all JVM-side, no pair/triple join blowup. Only
    REJECT rows enter the trail (both witnesses must be REJECTs), so
    trail size is bounded by REJECTs-per-band, not transactions.

    Hot-card guard: a card whose peak REJECTs-per-band exceeds
    ``hot_card_threshold`` would materialize an unbounded per-row array
    (O(k^2) per card total — the bot-attack OOM shape). Such cards are
    detected with a constant-memory count over the SAME window frame
    (reusing the card_num exchange/sort, no extra shuffle) and routed
    through an exact O(k)-memory applyInPandas scan instead; all other
    cards stay on the codegen array path with per-row memory capped at
    ``hot_card_threshold`` structs.

    Second routing axis, ``hot_card_cpu_threshold`` on TOTAL band
    population: trail memory is REJECT-bounded, but the sliding frame
    recompute scans every frame row per row — a SUCCESS-flood card with
    few REJECTs is memory-safe yet still an O(k^2)-CPU straggler task.
    Either axis over its threshold routes the card to the O(k) exact
    path.

    ``max_card_rows``, when given, is an upper bound on any one card's
    row count in ``tx``; it bounds both routing measures. At or below
    the smaller threshold no card can be hot: only the cold path is
    planned, with no routing windows and no ``applyInPandas`` branch.
    Without the bound both branches are planned. Either branch is
    exact, so the bound decides the plan, never the hits.
    """
    base = tx.withColumn("_ts_sec", F.col("transaction_date").cast("long"))
    w = Window.partitionBy("card_num").orderBy("_ts_sec").rangeBetween(-1199, -1)
    is_rej = F.col("oper_result") == "REJECT"
    cold = base
    hot_flagged = None
    if max_card_rows is None or max_card_rows > min(hot_card_threshold,
                                                     hot_card_cpu_threshold):
        card_w = Window.partitionBy("card_num")
        marked = base.withColumn(
            "_band_rej", F.count(F.when(is_rej, 1)).over(w)
        ).withColumn(
            "_card_peak", F.max("_band_rej").over(card_w)
        ).withColumn(
            "_card_peak_all", F.max(F.count(F.lit(1)).over(w)).over(card_w)
        )
        is_hot = (F.col("_card_peak") > hot_card_threshold) | (
            F.col("_card_peak_all") > hot_card_cpu_threshold
        )
        cold = marked.where(~is_hot)
        hot_flagged = _rule4_hot_card_hits(
            marked.where(is_hot).select(
                "card_num",
                "transaction_date",
                "_ts_sec",
                (F.col("amount") * 100).cast("long").alias("_am_cents"),
                "oper_result",
            )
        )
    trail = F.collect_list(
        F.when(
            is_rej,
            F.struct(F.col("_ts_sec").alias("ts"), F.col("amount").alias("am")),
        )
    ).over(w)
    flagged = (
        cold.withColumn("_trail", trail)
        .where(F.col("oper_result") == "SUCCESS")
        .where(
            F.exists(
                F.col("_trail"),
                lambda t2: (t2["am"] > F.col("amount"))
                & F.exists(
                    F.col("_trail"),
                    lambda t1: (t1["ts"] < t2["ts"]) & (t1["am"] > t2["am"]),
                ),
            )
        )
        .select("card_num", "transaction_date")
    )
    if hot_flagged is not None:
        flagged = flagged.unionByName(hot_flagged)
    hits = enrich_client(flagged, cards, accounts, clients)
    cand = _report(hits, F.col("transaction_date"), EVENT_AMOUNT, date_global)
    deduped = _dedup_against(cand, existing_mart, EVENT_AMOUNT)
    return deduped.dropDuplicates(["event_dt", "passport"])
