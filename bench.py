"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints the full result as one JSON line {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}, then a
FINAL compact JSON line (<=1,500 chars, parses standalone) carrying the
headline value + per-query medians + calibration + replay — the driver
records only a ~2,000-char stdout tail, so the last line must always
hold the evidence. Each query is forced end-to-end with a noop sink
(count() alone can let Catalyst prune column work).

Round-5 additions (so a cross-round comparison can tell a *plan*
regression from a *machine* slowdown — round 4's numbers were uniformly
~1.6x round 3's with zero query-code changes, which a single-trial bench
cannot attribute):

* every headline query runs ``SPARK_GRAFT_BENCH_TRIALS`` times (default
  3); ``queries`` records the per-query MEDIAN and ``queries_detail``
  records median/min/max plus the raw trials;
* two fixed-cost calibration probes (pure-CPU aggregate and a small
  hash+shuffle) run the same way; their medians are machine-speed
  yardsticks — if probe time scales by the same factor as the queries,
  the round-over-round delta is environmental, not a regression;
* a one-shot sf1 point: the 4 scale-bearing tables are replicated 10x
  (key-shifted; document text word-perturbed per replica so the
  near-dup rate stays realistic instead of every doc gaining 9 exact
  copies) and the 5 most expensive queries run once at ~6M lineitem
  rows, making the scaling claims rest on a 10x data point.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline_for_detection_banking_fraud_spark.plans import queries_map  # noqa: E402
from etl_pipeline_for_detection_banking_fraud_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "scan_filter_project",
    "join_chain",
    "groupby_agg",
    "topk_per_group",
    "timeband_window",
    "decreasing_triple",
    "asof_join",
    "scd2_apply",
    "sessionize",
    "first_per_group",
    "tpch_q3_shape",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_quality",
    "sim_cosine_topk",
]


# Round-5 operator additions, timed separately (median-of-N, single
# pass) so their cost is on record WITHOUT changing the headline metric
# the cross-round comparison rests on.
EXTENDED = [
    "text_decontaminate",
    "dedup_semantic",
    "text_winnow",
    "text_tokens_bpe",
    "embedding_quantize",
    "kmeans_iter2",
    "graph_pagerank",
    "dq_checks",
    "multimodal_image",
    "cdc_upsert",
    "interval_overlap_join",
    "semi_join_prefilter",
    "range_frame_window",
    "text_chunk",
    "window_count_distinct",
    "ratio_to_report",
    "histogram_equiwidth",
    "freq_items_bounds",
    # round-7 additions
    "events_funnel",
    "events_retention",
    "events_pathing",
    "window_hopping",
    # round-6 additions
    "dedup_keep_canonical",
    "split_leakage_safe",
    "dedup_containment",
    "sample_weighted",
    "fuzzy_match_pairs",
    "text_char_entropy",
    "text_pii_redact",
    "bm25_topk",
    "skew_salted_join",
    "zscore_outliers",
    "group_median_mad",
    "snapshot_diff",
    "dedup_chunk_level",
    # round-12 additions: the widest join fan (q8) and the double
    # aggregate (q13) of the new TPC-H shapes
    "tpch_q8_shape",
    "tpch_q13_shape",
    # round-13 additions: the named set is now complete 1-22 — q1 (the
    # canonical partial-agg fact pass) and q6 (the pure pushdown scan)
    "tpch_q1_shape",
    "tpch_q6_shape",
]

REF_DATA = "/root/reference/data"

# Calibration reference (round-8 verdict item #7): the recorded probe
# medians of the fastest environment on record (BENCH_r06). Dividing a
# run's timings by its machine_factor — the geometric mean of the two
# probe ratios vs these — publishes probe-NORMALIZED numbers directly,
# so a cross-round comparison no longer has to adjudicate environmental
# drift by hand (r4 and r7 both lost time to exactly that).
REF_PROBES = {"cpu_probe": 0.1013, "shuffle_probe": 0.4231,
              "ref_round": "r06"}

# Sub-second queries where scheduler noise dominates the median-of-3
# (round-8 verdict item #8): they get extra trials so dispersion is on
# record and probe-adjusted regressions on them are attributable.
# The r11 watch pair (groupby_agg, dedup_ngram_jaccard) resolved as
# environment in r12 and rotates off. r13 rotation (r12 verdict item
# #5): timeband_window (r12 raw 1.14x), tpch_q3_shape (1.11x) and
# sim_cosine_topk (1.09x) drifted mildly slower on a FASTER machine
# with zero code change to any of them — 7 trials each this round to
# adjudicate environment vs code.
WATCHLIST = ["scan_filter_project", "first_per_group", "scd2_apply",
             "timeband_window", "tpch_q3_shape", "sim_cosine_topk"]
WATCHLIST_TRIALS = 7

# The 5 most expensive headline queries (per BENCH_r03/r04) — these get
# the extra sf1 data point.
SF1_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "groupby_agg",
    "join_chain",
    "tpch_q3_shape",
]
# Tables those 5 queries read; the first 4 are replicated 10x, the tiny
# dims are copied as-is.
SF1_SCALED = ["lineitem", "orders", "customer", "documents"]
SF1_COPIED = ["nation", "region"]
SF1_STRIDE = 100_000_000  # key shift per replica; far above any sf0.1 key


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_trials(fn, trials: int) -> dict:
    """Run fn() `trials` times; return median/min/max + raw trials."""
    ts = []
    for _ in range(trials):
        t0 = time.perf_counter()
        fn()
        ts.append(round(time.perf_counter() - t0, 4))
    return {
        "median": round(statistics.median(ts), 4),
        "min": min(ts),
        "max": max(ts),
        "stdev": round(statistics.stdev(ts), 4) if len(ts) > 1 else 0.0,
        "trials": ts,
    }


def _calibration(spark, trials: int) -> dict:
    """Fixed-cost machine-speed probes, independent of any data on disk.

    cpu_probe: 30M-row arithmetic aggregate — pure whole-stage-codegen
    CPU, no shuffle, no I/O. shuffle_probe: 3M md5 keys grouped into 256
    buckets — exercises hashing + one exchange. If these scale by the
    same factor as the headline queries between rounds, the delta is the
    machine, not the plans."""
    from pyspark.sql import functions as F

    def cpu():
        _noop(
            spark.range(0, 30_000_000, 1, 32).select(
                F.sum((F.col("id") * 3 + 7) % 1000003).alias("s")
            )
        )

    def shuf():
        _noop(
            spark.range(0, 3_000_000, 1, 32)
            .withColumn("k", F.md5(F.col("id").cast("string")))
            .groupBy(F.substring("k", 1, 2).alias("b"))
            .count()
        )

    cpu()  # warm codegen paths once so probe trials measure steady state
    shuf()
    return {
        "cpu_probe": _timed_trials(cpu, trials),
        "shuffle_probe": _timed_trials(shuf, trials),
    }


def _build_sf1(spark, sf_dir: str) -> str:
    """Materialize a 10x replica of sf0.1's scale-bearing tables.

    Keys are shifted by SF1_STRIDE per replica so join fan-outs stay
    realistic (each replica is a self-contained key space; orders'
    o_custkey and lineitem's l_orderkey shift together so the join
    graph is preserved). Document text gets a per-replica vocabulary
    shift (every word suffixed with the replica id; rep 0 verbatim):
    a bijective token rename, so every within-replica trigram/minhash
    relationship — and therefore the planted near-dup rate — is
    preserved exactly, while cross-replica shingle intersections are
    ZERO by construction. This is a 10x corpus with the same dup-rate,
    not one where every doc gains 9 near-twins.

    r13 measurement fix (documented in OPTIMIZATION_r13.md): the
    previous ~50%-of-words crc32 substitution keyed on (word, replica)
    leaked cross-replica pairs on the current testdata — docs with a
    tiny distinct vocabulary pass through whole (one coin flip per
    distinct word), and trigram Jaccard over few distinct shingles
    stays above the 0.1 threshold. Measured at sf1: 55,525 candidate
    pairs of which 52,925 were cross-replica (within-replica exactly
    260 x 10 = 2,600, i.e. the dup-rate itself was preserved) — the
    sf1 dedup numbers were measuring a pair explosion the docstring
    above explicitly forbids, 25.7 s vs the ~10x-scale ~5 s. The
    vocabulary shift closes the leak structurally instead of
    probabilistically.

    Scaled tables are written as 32 files (repartition before write):
    a single 10x-size zstd file caps the scan at 1-2 tasks and the sf1
    point would measure file layout, not the plan."""
    import shutil

    from pyspark.sql import functions as F

    out = "/tmp/spark_graft_sf1_x10"
    marker = os.path.join(out, "_ALL_TABLES_OK")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    rep = F.col("rep")
    reps = spark.range(10).select(F.col("id").cast("int").alias("rep"))
    for name in SF1_SCALED:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet").crossJoin(
            F.broadcast(reps)
        )
        shift = rep.cast("long") * F.lit(SF1_STRIDE)
        if name == "lineitem":
            df = df.withColumn("l_orderkey", F.col("l_orderkey") + shift)
        elif name == "orders":
            df = df.withColumn(
                "o_orderkey", F.col("o_orderkey") + shift
            ).withColumn("o_custkey", F.col("o_custkey") + shift)
        elif name == "customer":
            df = df.withColumn("c_custkey", F.col("c_custkey") + shift)
        elif name == "documents":
            perturbed = F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    # suffix only non-empty tokens: an empty split cell
                    # (double space) must stay empty or the tokenizer's
                    # drop-empties filter would see a NEW token and the
                    # replica's token counts would drift from rep 0's
                    lambda w: F.when(
                        w != "",
                        F.concat(w, F.lit("_"), rep.cast("string")),
                    ).otherwise(w),
                ),
                " ",
            )
            df = (
                df.withColumn("doc_id", F.col("doc_id") + shift)
                .withColumn(
                    "text", F.when(rep == 0, F.col("text")).otherwise(perturbed)
                )
                .withColumn("n_chars", F.length("text"))
            )
        df.drop("rep").repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
    for name in SF1_COPIED:
        src = f"{sf_dir}/{name}.parquet"
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def _plan_counts(df) -> dict:
    """Join-strategy / exchange / nested-loop counts of the physical
    plan — the audit signature that must not degrade with scale.

    The dataset's own QueryExecution is EXECUTED first (JVM-side row
    count of the physical RDD, nothing collected to Python): under AQE
    the pre-execution executedPlan is the initial AdaptiveSparkPlan,
    and the runtime join-strategy flips this audit exists to catch
    (broadcast threshold crossings at 10x data) only appear in the
    final plan after execution."""
    qe = df._jdf.queryExecution()
    try:
        qe.executedPlan().execute().count()
    except Exception:  # noqa: BLE001 — audit still reads the initial plan
        pass
    p = qe.executedPlan().toString()
    # an executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==": count only the final section, else every
    # node is double-counted
    p = p.split("== Initial Plan ==")[0]
    return {
        "bhj": p.count("BroadcastHashJoin"),
        "smj": p.count("SortMergeJoin"),
        "shj": p.count("ShuffledHashJoin"),
        "exchanges": p.count("Exchange hashpartitioning"),
        "nested_loop": p.count("BroadcastNestedLoopJoin")
        + p.count("CartesianProduct"),
    }


def _sf1_point(spark, qmap, sf_dir: str) -> dict:
    """One-shot sf1 (10x) run of the 5 most expensive queries, plus the
    plan audit at BOTH scales: a query whose plan grows extra exchanges
    or flips to a nested loop at 10x the data has a scale bug the sf0.1
    timing can't see (e.g. a dimension crossing the broadcast threshold).
    ``plan_same`` False is a flag to read the per-scale counts."""
    t0 = time.perf_counter()
    sf1_dir = _build_sf1(spark, sf_dir)
    gen = round(time.perf_counter() - t0, 4)
    # sf1-LOCAL machine probe (round-9 verdict item #6): the sf1 block
    # runs LAST, after the dml/stream benches churned the page cache,
    # so a probe taken at bench start cannot attribute drift seen here.
    # Re-probe immediately before the loop and publish the factor —
    # sf1 regressions are adjudicated against queries_normalized.
    try:
        cal = _calibration(spark, 1)
        ratios = [cal[k]["median"] / REF_PROBES[k]
                  for k in ("cpu_probe", "shuffle_probe")]
        sf1_factor = round((ratios[0] * ratios[1]) ** 0.5, 4)
    except Exception:  # noqa: BLE001 — probe is diagnostics, not gating
        sf1_factor = None
    timings: dict[str, float] = {}
    plans: dict[str, dict] = {}
    for name in SF1_QUERIES:
        if name not in qmap:
            continue
        t0 = time.perf_counter()
        _noop(qmap[name](spark, sf1_dir))
        timings[name] = round(time.perf_counter() - t0, 4)
        try:
            c01 = _plan_counts(qmap[name](spark, sf_dir))
            c1 = _plan_counts(qmap[name](spark, sf1_dir))
            plans[name] = {"sf01": c01, "sf1": c1, "plan_same": c01 == c1}
        except Exception as e:  # noqa: BLE001 — audit is best-effort
            plans[name] = {"error": str(e)[:150]}
    out = {"sf": 1.0, "mode": "replicate10_keyshift", "gen_sec": gen,
           "queries": timings, "plans": plans}
    if sf1_factor is not None:
        out["sf1_machine_factor"] = sf1_factor
        out["queries_normalized"] = {
            k: round(v / sf1_factor, 4) for k, v in timings.items()}
    return out


def _replay_secs(spark, incremental: bool, atomic: bool = False) -> float | None:
    """Time the engine's actual product — the 3-day banking replay —
    end-to-end: faithful mode re-scans full fact history per day (the
    reference's posture), incremental mode reads partition-pruned
    day/lookback bands. The pair makes the scale mode's win a recorded
    number and catches rule-level regressions the catalog queries
    can't see."""
    import tempfile

    from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
    from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import (
        load_seed_dims,
    )

    if not os.path.isdir(os.path.join(REF_DATA, "data")):
        return None
    dims = load_seed_dims(spark, os.path.join(REF_DATA, "ddl_dml.sql"))
    batch = DailyBatch(
        spark, tempfile.mkdtemp(prefix="bench_wh_"), dims,
        incremental=incremental, atomic=atomic,
    )
    days = ["01032021", "02032021", "03032021"]
    t0 = time.perf_counter()
    for d in days:
        batch.run_day(
            os.path.join(REF_DATA, "data", f"transactions_{d}.txt"),
            os.path.join(REF_DATA, "data", f"passport_blacklist_{d}.xlsx"),
            os.path.join(REF_DATA, "data", f"terminals_{d}.xlsx"),
        )
    return round(time.perf_counter() - t0, 4)


def _master_fingerprint(root: str) -> dict:
    """size+mtime_ns of every file under the bench master warehouse.
    Every cloned timing point hard-links the master (zero-copy branch),
    which is only safe because no warehouse code path ever writes a
    file in place — a future in-place mutation through a clone would
    corrupt the shared master silently mid-benchmark (advisor r12).
    stat-only, no reads: ~O(files) syscalls, microseconds at sf0.1."""
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.startswith(("_", ".")):
                # job markers (_SUCCESS + its .crc) are the one file
                # class Hadoop's committer rewrites IN PLACE into an
                # existing directory; they carry no data (every engine
                # reader skips '_'/'.' files) and the session no longer
                # writes them (marksuccessfuljobs=false) — excluded so
                # a foreign-session clone can't trip the guard either
                continue
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def _check_master_unchanged(root: str, snap: dict, ctx: str) -> None:
    """Fail the bench LOUDLY if the hard-linked master drifted."""
    cur = _master_fingerprint(root)
    if cur != snap:
        drift = sorted(set(cur) ^ set(snap)
                       | {p for p in set(cur) & set(snap)
                          if cur[p] != snap[p]})
        raise RuntimeError(
            f"bench master warehouse mutated during {ctx} — the "
            f"hard-link-clone invariant is broken; drifted files: "
            f"{drift[:10]}{'…' if len(drift) > 10 else ''}")


def _rules_history_curve(spark, day_counts=(30, 90, 365)) -> dict[str, float] | None:
    """Fraud-rules phase vs fact-history LENGTH — the scaling curve that
    makes the incremental mode's point legible: faithful mode re-scans
    the whole fact table every day (the reference's posture), so its
    one-day cost grows with history; incremental mode reads a
    partition-pruned day/lookback band, so its cost is flat. The 3-day
    replay can't show this (history ~= day there).

    One master warehouse is seeded with day 1 and extended in place by
    date-shifting the day-1 feed (one broadcast-range crossJoin per
    extension, not N unions); each timed point runs ONE day's rules in
    each mode against a fresh copy of the master (run_fraud_rules
    appends to the mart, so reusing a warehouse would let rules 3-4's
    NOT-EXISTS dedup see the previous timing's hits and skew the write
    volume)."""
    import datetime
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch
    from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import (
        read_transactions,
    )
    from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import (
        load_seed_dims,
    )

    if not os.path.isdir(os.path.join(REF_DATA, "data")):
        return None
    dims = load_seed_dims(spark, os.path.join(REF_DATA, "ddl_dml.sql"))
    master = tempfile.mkdtemp(prefix="bench_rules_master_")
    seed = DailyBatch(spark, master, dims)
    seed.run_day(  # seeds facts/blacklist/dim/mart for day 1
        os.path.join(REF_DATA, "data", "transactions_01032021.txt"),
        os.path.join(REF_DATA, "data", "passport_blacklist_01032021.xlsx"),
        os.path.join(REF_DATA, "data", "terminals_01032021.xlsx"),
    )
    tx = read_transactions(
        spark, os.path.join(REF_DATA, "data", "transactions_01032021.txt")
    )
    day1 = datetime.date(2021, 3, 1)
    # Untimed warmup (r12 verdict item #4): the FIRST timed point used
    # to absorb whole-stage-codegen compilation + cold page cache and
    # ran ~2x its own steady-state number (r11: rules_incremental_30d
    # 46.98 s vs 22.1/21.1 s at 90d/365d — warmup artifact, not
    # signal). One throwaway rules pass per mode at the cheap 1-day
    # history warms both code paths before anything is timed.
    master_snap = _master_fingerprint(master)
    for flag in (False, True):
        warm_root = tempfile.mkdtemp(prefix="bench_rules_warm_")
        shutil.rmtree(warm_root)
        # hard-link clone (r12 verdict item #7): every warehouse write
        # is create-new-file + atomic rename, never in-place mutation,
        # so a linked copy is a safe zero-copy branch of the master —
        # the same mechanism clone_table uses table-scoped
        shutil.copytree(master, warm_root, copy_function=os.link)
        DailyBatch(spark, warm_root, dims,
                   incremental=flag).run_fraud_rules(day1)
        shutil.rmtree(warm_root, ignore_errors=True)
        _check_master_unchanged(master, master_snap, "warmup clone run")
    out: dict[str, float] = {}
    have_days = 1
    for n_days in sorted(day_counts):
        if n_days > have_days:  # extend history: shifts have_days..n_days-1
            rng = spark.range(have_days, n_days).select(
                F.col("id").cast("int").alias("shift")
            )
            ext = (
                tx.crossJoin(F.broadcast(rng))
                .withColumn(
                    "transaction_date",
                    F.col("transaction_date")
                    + F.make_dt_interval(days=F.col("shift")),
                )
                .withColumn(
                    "transaction_id", F.concat_ws("_", "transaction_id", "shift")
                )
                .drop("shift")
            )
            seed.wh.append_transactions(ext)
            have_days = n_days
            master_snap = _master_fingerprint(master)
        target = day1 + datetime.timedelta(days=n_days - 1)
        # Attribution yardstick (round-5 verdict item #3): a bare full
        # scan of the same fact history. If rules_full_{n}d drifts
        # round-over-round while this number holds, the regression is in
        # the rules; if both drift by the same factor, it's the machine
        # or file layout — the r4->r5 365d drift was unattributable
        # precisely because no pure-scan baseline was on record.
        t0 = time.perf_counter()
        _noop(seed.wh.read_transactions())
        out[f"history_scan_{n_days}d"] = round(time.perf_counter() - t0, 4)
        for mode, flag in (("full", False), ("incremental", True)):
            run_root = tempfile.mkdtemp(prefix="bench_rules_run_")
            shutil.rmtree(run_root)
            # zero-copy branch per timing point (hard links): the copy
            # itself used to cost seconds of the wall clock at 365d
            shutil.copytree(master, run_root, copy_function=os.link)
            batch = DailyBatch(spark, run_root, dims, incremental=flag)
            t0 = time.perf_counter()
            batch.run_fraud_rules(target)
            out[f"rules_{mode}_{n_days}d"] = round(time.perf_counter() - t0, 4)
            shutil.rmtree(run_root, ignore_errors=True)
            _check_master_unchanged(
                master, master_snap, f"rules_{mode}_{n_days}d clone run")
    shutil.rmtree(master, ignore_errors=True)
    # r1-r3 recorded the 90-day pair under these names; keep them stable
    if "rules_full_90d" in out:
        out["rules_full_history"] = out["rules_full_90d"]
        out["rules_incremental_day"] = out["rules_incremental_90d"]
    # r6 attribution (closes the r5 "unattributed 365d drift" item):
    # history_scan_{n}d shows the pure fact scan flat and cheap (~1.3s
    # at 365d), and an A/B of the faithful scan cache moves the number
    # only ~±3s — the faithful curve's growth is the mart RE-INSERT
    # volume itself: rules 1-2 faithfully re-derive and re-write every
    # historical hit daily (reference posture), ~1.04M mart rows at
    # 365d vs ~86k at 30d. That is the workload, not a regression; the
    # incremental mode exists to avoid it and stays flat.
    out_note = "faithful growth = O(history) mart re-insert volume (see bench.py)"
    return {**out, "rules_full_note": out_note}


def _index_maintenance_bench(spark, sf_dir: str, days: int = 90) -> dict:
    """Read-side win of dedup-index compaction: 90 simulated daily
    appends leave one file set per touched prefix per day; the pair of
    timings shows what the small-files problem costs the partition-
    pruned incremental read, and what compact_band_index buys back."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_pipeline_for_detection_banking_fraud_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    path = tempfile.mkdtemp(prefix="bench_band_index_") + "/idx"
    base = dedup.minhash_band_index(corpus).localCheckpoint()
    dedup.write_band_index(base, path)
    for day in range(days):  # disjoint id-shifted slices, real append path
        dedup.append_band_index(
            base.where(F.col("doc_id") % 200 == (day % 200)).withColumn(
                "doc_id", F.col("doc_id") + (1_000_000 + day * 100_000)
            ),
            path,
        )
    delta_entries = dedup.minhash_band_index(delta).localCheckpoint()

    def read_pairs():
        idx = dedup.read_band_index_for(spark, path, delta_entries)
        _noop(dedup.minhash_lsh_pairs_incremental(delta, idx))

    files_before = len(glob.glob(f"{path}/_kp=*/*.parquet"))
    t0 = time.perf_counter()
    read_pairs()
    uncompacted = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    dedup.compact_band_index(spark, path)
    compact_sec = round(time.perf_counter() - t0, 4)
    files_after = len(glob.glob(f"{path}/_kp=*/*.parquet"))
    t0 = time.perf_counter()
    read_pairs()
    compacted = round(time.perf_counter() - t0, 4)
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return {
        "days": days,
        "files_before": files_before,
        "files_after": files_after,
        "read_uncompacted_sec": uncompacted,
        "read_compacted_sec": compacted,
        "compact_sec": compact_sec,
    }


def _commitlog_checkpoint_bench(n_commits: int = 1000,
                                interval: int = 32) -> dict:
    """Metadata-plane read cost at microbatch commit rates, before and
    after commit-log checkpointing (round-6 verdict item #1): a
    1,000-entry log is replayed cold by a fresh Warehouse with no
    checkpoints (parses every entry) and with the checkpoint cadence
    (parses newest checkpoint + suffix). Pure filesystem — no Spark —
    which is exactly the point: this is the cost every read pays before
    any data moves."""
    import json as _json
    import shutil
    import tempfile

    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        Warehouse,
    )

    root = tempfile.mkdtemp(prefix="bench_commitlog_")
    log_dir = os.path.join(root, "_commitlog")
    os.makedirs(log_dir)
    for seq in range(1, n_commits + 1):
        entry = {
            "txn": f"b{seq:06d}", "op": "add",
            "tables": {"facts": [f"txn-b{seq:06d}-001-00000.parquet"]},
            "stats": {"facts": {
                f"txn-b{seq:06d}-001-00000.parquet": {"id": [seq, seq]}
            }},
        }
        with open(os.path.join(log_dir, f"{seq:09d}.json"), "w") as f:
            _json.dump(entry, f)

    def cold_read_sec(trials: int = 5) -> tuple[float, int]:
        ts = []
        parsed = 0
        for _ in range(trials):
            wh = Warehouse(None, root)  # fresh: no warm caches
            t0 = time.perf_counter()
            wh._manifest_files("facts")
            ts.append(time.perf_counter() - t0)
            parsed = wh.last_replay_parsed
        return round(statistics.median(ts), 4), parsed

    before_sec, before_parsed = cold_read_sec()
    writer = Warehouse(None, root, checkpoint_interval=interval)
    t0 = time.perf_counter()
    for seq in range(interval, n_commits + 1, interval):
        writer._maybe_checkpoint(seq)
    ckpt_sec = round(time.perf_counter() - t0, 4)
    after_sec, after_parsed = cold_read_sec()
    shutil.rmtree(root, ignore_errors=True)
    return {
        "n_commits": n_commits, "interval": interval,
        "cold_read_before_sec": before_sec, "entries_parsed_before": before_parsed,
        "cold_read_after_sec": after_sec, "entries_parsed_after": after_parsed,
        "checkpoint_write_total_sec": ckpt_sec,
    }


def _fact_clustering_bench(spark, days: int = 30) -> dict:
    """Read-side win of time-clustering the fact table (round-6 wiring
    of manifest-stats skipping into the pipeline read path): the rules
    3-4 midnight-straddle band read over `days` of history, first with
    files clustered by an unrelated key (card_num — every file spans its
    whole day, pruning can skip nothing), then after
    optimize_facts-style transaction_date clustering (each file covers
    a narrow time band, the lookback day contributes only its final
    hour's files)."""
    import datetime
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_pipeline_for_detection_banking_fraud_spark.sources.csv_source import (
        read_transactions as read_feed,
    )
    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        Warehouse,
    )

    if not os.path.isdir(os.path.join(REF_DATA, "data")):
        return {}
    tx = read_feed(
        spark, os.path.join(REF_DATA, "data", "transactions_01032021.txt")
    )
    rng = spark.range(days).select(F.col("id").cast("int").alias("shift"))
    shifted = (
        tx.crossJoin(F.broadcast(rng))
        .withColumn(
            "transaction_date",
            F.col("transaction_date") + F.make_dt_interval(days=F.col("shift")),
        )
        .withColumn("transaction_id", F.concat_ws("_", "transaction_id", "shift"))
        .drop("shift")
    )
    root = tempfile.mkdtemp(prefix="bench_fact_cluster_")
    wh = Warehouse(spark, root)
    with wh.transaction():
        wh.append_transactions(shifted)
    fact = "dwh_fact_transactions"
    last = datetime.date(2021, 3, 1) + datetime.timedelta(days=days - 1)
    band_lo = datetime.datetime.combine(
        last, datetime.time.min
    ) - datetime.timedelta(seconds=3599)

    def band_read():
        return wh.read_transactions(
            fact, since=last - datetime.timedelta(days=1), until=last,
            prune={"transaction_date": (band_lo.isoformat(), None)},
        ).where(F.col("transaction_date") >= F.lit(band_lo))

    out: dict = {"days": days}
    cards = [r[0] for r in wh.read_transactions(fact)
             .select("card_num").distinct().orderBy("card_num")
             .limit(200).collect()]
    c_lo, c_hi = cards[0], cards[max(0, len(cards) // 8 - 1)]

    def card_read():
        return wh.read_transactions(
            fact, prune={"card_num": (c_lo, c_hi)},
        ).where(F.col("card_num").between(c_lo, c_hi))

    wh.cluster_table(fact, "card_num", n_files=days * 4)
    df = band_read()
    out["files_card_clustered"] = len(df.inputFiles())
    t0 = time.perf_counter()
    _noop(df)
    out["read_card_clustered_sec"] = round(time.perf_counter() - t0, 4)
    out["files_card_band_card_clustered"] = len(card_read().inputFiles())
    t0 = time.perf_counter()
    wh.cluster_table(fact, "transaction_date", n_files=days * 4)
    out["cluster_sec"] = round(time.perf_counter() - t0, 4)
    df = band_read()
    out["files_time_clustered"] = len(df.inputFiles())
    t0 = time.perf_counter()
    _noop(df)
    out["read_time_clustered_sec"] = round(time.perf_counter() - t0, 4)

    # single-key clustering serves ONE predicate: a full-history card
    # lookup under time clustering can skip nothing (every file spans
    # all cards). ZORDER (transaction_date, card_num) serves BOTH bands
    # from one layout — each prune skips most files, at a modest cost
    # vs its dedicated single-key clustering.
    df = card_read()
    out["files_card_band_time_clustered"] = len(df.inputFiles())
    t0 = time.perf_counter()
    wh.zorder_table(fact, ["transaction_date", "card_num"],
                    n_files=days * 4)
    out["zorder_sec"] = round(time.perf_counter() - t0, 4)
    for tag, rd in (("time_band", band_read), ("card_band", card_read)):
        df = rd()
        out[f"files_{tag}_zordered"] = len(df.inputFiles())
        t0 = time.perf_counter()
        _noop(df)
        out[f"read_{tag}_zordered_sec"] = round(time.perf_counter() - t0, 4)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _zorder_bench(spark, side: int = 1024, n_files: int = 64) -> dict:
    """Multi-dimensional file-skipping win of OPTIMIZE ZORDER
    (round 6): a full side×side grid of two independent keys. After
    single-column clustering by x, a selective y band must read every
    file; after zorder_table(["x","y"]) the same band reads only the
    curve cells that overlap it — the manifest min/max stats are narrow
    in BOTH dimensions at once."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        Warehouse,
    )

    df = spark.range(side * side).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    root = tempfile.mkdtemp(prefix="bench_zorder_")
    wh = Warehouse(spark, root)
    with wh.transaction():
        wh.append(df.repartition(8), "t")
    band_hi = side // 16 - 1  # 1/16-wide band on either axis

    def band(col):
        return wh.read("t", prune={col: (0, band_hi)}).where(
            F.col(col) <= band_hi
        )

    out: dict = {"rows": side * side, "n_files": n_files}
    wh.cluster_table("t", "x", n_files=n_files)
    out["files_total_x_clustered"] = len(wh.read("t").inputFiles())
    out["files_y_band_x_clustered"] = len(band("y").inputFiles())
    t0 = time.perf_counter()
    _noop(band("y"))
    out["read_y_band_x_clustered_sec"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    wh.zorder_table("t", ["x", "y"], n_files=n_files)
    out["zorder_sec"] = round(time.perf_counter() - t0, 4)
    out["files_total_zordered"] = len(wh.read("t").inputFiles())
    out["files_x_band_zordered"] = len(band("x").inputFiles())
    out["files_y_band_zordered"] = len(band("y").inputFiles())
    t0 = time.perf_counter()
    _noop(band("y"))
    out["read_y_band_zordered_sec"] = round(time.perf_counter() - t0, 4)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _table_stream_bench(spark, sf_dir: str, tail_commits: int = 16) -> dict:
    """Warehouse table-as-a-stream (round 7): snapshot drain throughput,
    tail drain over N small commits, and the control-plane offset
    resolution cost on a 1,000-commit log — the number the checkpointed
    replay keeps flat (partitions() is driver-side JSON only)."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_pipeline_for_detection_banking_fraud_spark.streaming.table_stream import (
        _WarehouseStreamReader,
        stream_table,
    )

    out: dict = {}
    root = tempfile.mkdtemp(prefix="bench_stream_")
    ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
    try:
        wh = Warehouse(spark, root)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        with wh.transaction():
            wh.append(ev, "events")
        counts: list[int] = []

        def drain() -> None:
            q = (
                stream_table(spark, root, "events").writeStream
                .foreachBatch(lambda df, _i: counts.append(df.count()))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(300)

        t0 = time.perf_counter()
        drain()
        out["snapshot_drain_sec"] = round(time.perf_counter() - t0, 4)
        out["snapshot_rows"] = sum(counts)
        small = ev.limit(500)
        for _ in range(tail_commits):
            with wh.transaction():
                wh.append(small, "events")
        n_before = len(counts)
        t0 = time.perf_counter()
        drain()
        out["tail_commits"] = tail_commits
        out["tail_drain_sec"] = round(time.perf_counter() - t0, 4)
        out["tail_rows"] = sum(counts[n_before:])

        # offset resolution at microbatch commit scale: fabricated
        # 1,000-commit log with the default checkpoint cadence; time
        # partitions() for a 32-commit tail and for the full snapshot
        log_root = tempfile.mkdtemp(prefix="bench_stream_log_")
        log_dir = os.path.join(log_root, "_commitlog")
        os.makedirs(log_dir)
        import json as _json
        for seq in range(1, 1001):
            entry = {"txn": f"s{seq:06d}", "op": "add",
                     "tables": {"facts": [f"txn-s{seq:06d}-0.parquet"]}}
            with open(os.path.join(log_dir, f"{seq:09d}.json"), "w") as f:
                _json.dump(entry, f)
        writer = Warehouse(None, log_root, checkpoint_interval=32)
        for seq in range(32, 1001, 32):
            writer._maybe_checkpoint(seq)
        schema = T.StructType([T.StructField("id", T.LongType())])
        reader = _WarehouseStreamReader(
            {"root": log_root, "table": "facts"}, schema, [])
        t0 = time.perf_counter()
        parts = reader.partitions({"seq": 968}, {"seq": 1000})
        out["offset_tail32_sec"] = round(time.perf_counter() - t0, 4)
        out["offset_tail32_files"] = len(parts)
        reader2 = _WarehouseStreamReader(
            {"root": log_root, "table": "facts"}, schema, [])
        t0 = time.perf_counter()
        parts0 = reader2.partitions({"seq": 0}, {"seq": 1000})
        out["offset_snapshot_sec"] = round(time.perf_counter() - t0, 4)
        out["offset_snapshot_files"] = len(parts0)
        shutil.rmtree(log_root, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="fraud_etl_bench")
    qmap = queries_map()

    missing = [n for n in HEADLINE + WATCHLIST if n not in qmap]
    if missing:
        raise KeyError(f"bench names missing from the catalog: {missing}")
    names = list(HEADLINE)
    # Warm the JVM so timings measure the PLANS, not one-time codegen/JIT
    # compilation: run every headline query shape once at the smallest SF
    # (the md5/higher-order-function/window codegen paths each cost ~1-2s
    # of first-touch compilation that is irrelevant at production scale).
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir) or warm_dir == sf_dir.rstrip("/"):
        warm_dir = None
    for name in names:
        try:
            qmap[name](spark, warm_dir or sf_dir).write.format("noop").mode(
                "overwrite").save()
        except Exception:
            pass  # warmup is best-effort; the timed run surfaces real errors
        if warm_dir is None:
            break  # no small SF available: single-query JVM warmup only

    trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))
    quiet_gate = _quiet_window_gate(spark)
    detail: dict[str, dict] = {}
    for name in names:
        n = max(trials, WATCHLIST_TRIALS) if name in WATCHLIST else trials
        detail[name] = _timed_trials(
            lambda name=name: _noop(qmap[name](spark, sf_dir)), n
        )
    timings = {name: d["median"] for name, d in detail.items()}

    total = round(sum(timings.values()), 4)
    extended: dict[str, dict] = {}
    for name in EXTENDED:
        if name not in qmap:
            continue
        try:
            # r13 measurement fix (declared in OPTIMIZATION_r13.md):
            # extended queries now get the SAME one-shot small-SF warmup
            # the headline set always had. Without it the first trial
            # carries whole-stage-codegen compilation plus — for the
            # mapInPandas operators — the Python-worker import storm
            # (measured: multimodal_image trials [34.9, 4.4, 1.2] s;
            # the 4.4 median was still warming). Guide §1: time the
            # plans, not one-time compilation. Old numbers predate this.
            if warm_dir is not None:
                try:
                    _noop(qmap[name](spark, warm_dir))
                except Exception:  # noqa: BLE001 — warmup is best-effort
                    pass
            extended[name] = _timed_trials(
                lambda name=name: _noop(qmap[name](spark, sf_dir)), trials
            )
        except Exception as e:  # noqa: BLE001 — record, don't abort the bench
            extended[name] = {"error": str(e)[:200]}
    try:
        calibration = _calibration(spark, trials)
    except Exception as e:
        calibration = {"error": str(e)[:300]}
    sf1 = None
    if os.environ.get("SPARK_GRAFT_SF1", "auto") != "0" and abs(
        (float(sf) if sf.replace(".", "").isdigit() else 0) - 0.1
    ) < 1e-9:
        try:
            sf1 = _sf1_point(spark, qmap, sf_dir)
        except Exception as e:
            sf1 = {"error": str(e)[:300]}
    # Pipeline replay pair (not folded into `value`, which stays the
    # headline-query total for round-over-round comparability).
    # Errors are RECORDED, not swallowed: a broken replay must not
    # masquerade as "reference data absent" in the bench JSON.
    replay = {}
    for mode, flag, atomic in (
        ("replay_faithful", False, False),
        ("replay_incremental", True, False),
        # the exactly-once commit-log path: its delta vs replay_faithful
        # is the measured cost of atomic multi-table transactions
        ("replay_atomic", False, True),
    ):
        try:
            secs = _replay_secs(spark, flag, atomic)
        except Exception as e:
            replay[f"{mode}_error"] = str(e)[:300]
            secs = None
        if secs is not None:
            replay[mode] = secs
    try:
        replay.update(_rules_history_curve(spark) or {})
    except Exception as e:
        replay["rules_history_error"] = str(e)[:300]
    try:
        index_maint = _index_maintenance_bench(spark, sf_dir)
    except Exception as e:
        index_maint = {"error": str(e)[:300]}
    try:
        fact_cluster = _fact_clustering_bench(spark)
    except Exception as e:
        fact_cluster = {"error": str(e)[:300]}
    try:
        commitlog = _commitlog_checkpoint_bench()
    except Exception as e:
        commitlog = {"error": str(e)[:300]}
    try:
        zorder = _zorder_bench(spark)
    except Exception as e:
        zorder = {"error": str(e)[:300]}
    try:
        table_stream = _table_stream_bench(spark, sf_dir)
    except Exception as e:
        table_stream = {"error": str(e)[:300]}
    try:
        dml_dv = _dml_dv_bench(spark, sf_dir)
    except Exception as e:
        dml_dv = {"error": str(e)[:300]}
    normalized = _normalize(total, timings, calibration)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_detail": detail,
        "bench_trials": trials,
        "calibration": calibration,
        "quiet_window": quiet_gate,
        "normalized": normalized,
        "extended": extended,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if sf1:
        out["sf1"] = sf1
    if index_maint:
        out["index_maintenance"] = index_maint
    if fact_cluster:
        out["fact_clustering"] = fact_cluster
    if commitlog:
        out["commitlog_checkpoint"] = commitlog
    if zorder:
        out["zorder"] = zorder
    if table_stream:
        out["table_stream"] = table_stream
    if dml_dv:
        out["dml_dv"] = dml_dv
    if replay:
        out["replay"] = replay
    print(json.dumps(out))
    print(_compact_line(out))


def _dml_dv_bench(spark, sf_dir: str, n_files: int = 32) -> dict:
    """Eager vs merge-on-read DELETE (round 9): a scattered predicate
    matching ~0.1% of rows in EVERY file of a 32-file lineitem table.
    The eager path must rewrite all touched files; the dv path writes
    one tiny sidecar and zero data files — the 100 TB shape for
    scattered selective deletes. Also records the read-time cost of a
    live vector (broadcast anti-join) and the compact that folds it."""
    import shutil
    import tempfile

    from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import (
        Warehouse,
    )

    out: dict = {}
    cond = "l_partkey % 997 = 0"
    roots = []
    try:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

        def build() -> Warehouse:
            root = tempfile.mkdtemp(prefix="bench_dml_")
            roots.append(root)
            wh = Warehouse(spark, root)
            with wh.transaction():
                wh.append(li.repartition(n_files), "t")
            return wh

        eager = build()
        before = set(eager._manifest_files("t"))
        t0 = time.perf_counter()
        n1 = eager.delete_where("t", cond)
        out["eager_delete_sec"] = round(time.perf_counter() - t0, 4)
        out["eager_files_rewritten"] = len(before - set(
            eager._manifest_files("t")))

        mor = build()
        before = set(mor._manifest_files("t"))
        t0 = time.perf_counter()
        n2 = mor.delete_where("t", cond, mode="dv")
        out["dv_delete_sec"] = round(time.perf_counter() - t0, 4)
        out["dv_files_rewritten"] = len(before - set(
            mor._manifest_files("t")))
        out["rows_deleted"] = n2
        if n1 != n2:
            out["error"] = f"row mismatch eager={n1} dv={n2}"

        t0 = time.perf_counter()
        c_live = mor.read("t").count()
        out["read_with_live_dv_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        mor.compact("t", target_files_per_partition=n_files)
        out["compact_fold_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        c_folded = mor.read("t").count()
        out["read_after_fold_sec"] = round(time.perf_counter() - t0, 4)
        if c_live != c_folded:
            out["error"] = f"count drift live={c_live} folded={c_folded}"

        # conditional MERGE, eager vs merge-on-read (round 10): the
        # same scattered keys as an upsert source — update half,
        # delete half, insert a disjoint tail. Eager rewrites every
        # touched file; dv appends postimages + one sidecar.
        from pyspark.sql import functions as F

        src = (
            li.where(F.expr(cond))
            .select("l_orderkey", "l_linenumber",
                    (F.col("l_quantity") + 1).alias("new_qty"),
                    (F.col("l_partkey") % 2 == 0).alias("is_del"))
        )
        from etl_pipeline_for_detection_banking_fraud_spark.operators import (
            merge as M,
        )

        clauses = dict(
            matched=[
                M.when_matched_delete(condition="source.is_del"),
                M.when_matched_update({"l_quantity": "source.new_qty"}),
            ],
        )
        for label, kw in (("merge_eager", {}), ("merge_dv",
                                                {"mode": "dv"})):
            wh = build()
            before = set(wh._manifest_files("t"))
            t0 = time.perf_counter()
            res = wh.merge_when("t", src, ["l_orderkey", "l_linenumber"],
                                **clauses, **kw)
            out[f"{label}_sec"] = round(time.perf_counter() - t0, 4)
            out[f"{label}_files_rewritten"] = len(
                before - set(wh._manifest_files("t")))
            out[f"{label}_changed"] = res["updated"] + res["deleted"]
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)
    return out


def _quiet_window_gate(spark, threshold: float = 1.05,
                       max_wait_sec: float = 120.0) -> dict:
    """Round-9 verdict item #7: don't time the headline queries into a
    noisy environment window. Probe the machine BEFORE the headline
    loop; while the probe factor vs the r06 anchors exceeds
    ``threshold``, wait and re-probe (bounded — the driver's bench run
    must terminate). Records every factor seen; when the window never
    quiets, the headline run proceeds anyway with an explicit note —
    value_normalized remains the cross-round-comparable number."""
    waited = 0.0
    history: list[float] = []
    while True:
        try:
            cal = _calibration(spark, 1)
            ratios = [cal[k]["median"] / REF_PROBES[k]
                      for k in ("cpu_probe", "shuffle_probe")]
            factor = (ratios[0] * ratios[1]) ** 0.5
        except Exception as e:  # noqa: BLE001
            return {"error": str(e)[:200], "history": history}
        history.append(round(factor, 4))
        if factor <= threshold or waited >= max_wait_sec:
            out = {
                "factor_at_start": history[0],
                "factor_gate": round(factor, 4),
                "history": history,
                "waited_sec": round(waited, 1),
                "quiet": factor <= threshold,
            }
            if factor > threshold:
                out["note"] = (
                    f"machine stayed {factor:.2f}x the r06 probe anchors "
                    f"after {waited:.0f}s of waiting; headline recorded "
                    "anyway - read value_normalized for comparisons"
                )
            return out
        time.sleep(15)
        waited += 15


def _normalize(total: float, timings: dict, calibration: dict) -> dict:
    """Probe-normalized timings: divide by machine_factor, the geometric
    mean of this run's probe medians over the REF_PROBES record. A
    machine_factor of 1.2 says the box ran 1.2x slower than the r06
    reference environment; normalized values are what the plans would
    have cost THERE — the number cross-round comparisons should read
    first."""
    try:
        ratios = [
            calibration[k]["median"] / REF_PROBES[k]
            for k in ("cpu_probe", "shuffle_probe")
        ]
        factor = (ratios[0] * ratios[1]) ** 0.5
    except (KeyError, TypeError, ZeroDivisionError):
        return {"error": "calibration probes unavailable"}
    return {
        "machine_factor": round(factor, 4),
        "probe_ref": REF_PROBES,
        "value": round(total / factor, 4),
        "queries": {k: round(v / factor, 4) for k, v in timings.items()},
    }


def _compact_line(out: dict) -> str:
    """A final <=1,500-char JSON line that parses standalone.

    The driver records only a ~2,000-char stdout TAIL; in round 5 the
    one big JSON line put the headline total, per-query medians, and
    calibration probes in the truncated prefix and the judge had to
    re-measure the round's headline metric. Printing the full JSON
    first and this compact summary LAST makes the tail always carry
    the evidence: value + per-query medians + calibration + replay.
    Optional blocks are dropped largest-first if the line would exceed
    the budget."""
    cal = out.get("calibration", {})
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "bench_trials": out.get("bench_trials"),
        "queries": out.get("queries", {}),
        "calibration": {
            k: v.get("median") for k, v in cal.items() if isinstance(v, dict)
        },
        "machine_factor": (out.get("normalized") or {}).get("machine_factor"),
        "value_normalized": (out.get("normalized") or {}).get("value"),
        "quiet_gate": (out.get("quiet_window") or {}).get("factor_gate"),
        "replay": {
            k: v for k, v in out.get("replay", {}).items()
            if isinstance(v, (int, float))
        },
        "sf1_machine_factor": (out.get("sf1") or {}).get(
            "sf1_machine_factor"),
        "sf1_queries": (out.get("sf1") or {}).get("queries", {}),
        "dml_dv": {
            k: v for k, v in (out.get("dml_dv") or {}).items()
            if k in ("eager_delete_sec", "eager_files_rewritten",
                     "dv_delete_sec", "dv_files_rewritten",
                     "compact_fold_sec", "merge_eager_sec",
                     "merge_eager_files_rewritten", "merge_dv_sec",
                     "merge_dv_files_rewritten")
        },
    }
    for drop in ("sf1_queries", "dml_dv", "replay", "queries"):
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= 1500:
            return line
        compact.pop(drop, None)
    return json.dumps(compact, separators=(",", ":"))


if __name__ == "__main__":
    main()
