"""Command-line driver: replay the daily batch over a directory of feeds.

The reference sequences days by hand-commenting blocks in main.py
(main.py:85-100); this CLI discovers the day files present in --data and
runs them in date order through the DailyBatch pipeline. A --data
directory with no transactions_DDMMYYYY file, or a --seed-dml path that
is not a file, exits with status 2 before a Spark session starts.

Usage:
    python -m etl_pipeline_for_detection_banking_fraud_spark.cli replay \
        --data FEED_DIR --warehouse WAREHOUSE_DIR --seed-dml SEED_DML_SQL \
        [--archive DIR] [--fixed-idempotency] [--incremental]

--seed-dml defaults to the reference data's ddl_dml.sql.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from .pipeline import DailyBatch
from .session import get_spark
from .sources.seed_dml import load_seed_dims

_DAY_RE = re.compile(r"transactions_(\d{8})\.(?:txt|csv)$")


def discover_days(data_dir: str) -> list[str]:
    """DDMMYYYY day keys present in the feed directory, in date order."""
    days = []
    for name in os.listdir(data_dir):
        m = _DAY_RE.search(name)
        if m:
            d = m.group(1)
            days.append((d[4:8] + d[2:4] + d[0:2], d))  # sort by yyyymmdd
    return [d for _, d in sorted(days)]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="fraud-etl")
    sub = ap.add_subparsers(dest="cmd", required=True)
    rp = sub.add_parser("replay", help="run all day-feeds in --data through the pipeline")
    rp.add_argument("--data", required=True, help="directory with transactions_*/terminals_*/passport_blacklist_* files")
    rp.add_argument("--warehouse", required=True, help="warehouse root directory")
    rp.add_argument("--seed-dml", default="/root/reference/data/ddl_dml.sql")
    rp.add_argument("--archive", default=None, help="archive processed files here")
    rp.add_argument("--fixed-idempotency", action="store_true",
                    help="dedup rules 1-2 against the mart too (fixes the reference's re-run double-insert)")
    rp.add_argument("--incremental", action="store_true",
                    help="partition-pruned scale mode: rules read only the current day "
                         "(+1-day lookback for time bands; delta-decomposed rule 1 for "
                         "backdated blacklist entries) instead of the full fact history")
    args = ap.parse_args(argv)

    days = discover_days(args.data)
    if not days:
        print(f"no transactions_DDMMYYYY files found in {args.data}", file=sys.stderr)
        return 2
    if not os.path.isfile(args.seed_dml):
        print(f"--seed-dml {args.seed_dml} is not a file; pass the seed "
              "DML script (ddl_dml.sql) of the feeds", file=sys.stderr)
        return 2
    spark = get_spark(app_name="fraud_etl_cli")
    dims = load_seed_dims(spark, args.seed_dml)
    batch = DailyBatch(
        spark, args.warehouse, dims,
        archive_dir=args.archive,
        strict=not args.fixed_idempotency,
        incremental=args.incremental,
    )
    for day in days:
        paths = {
            kind: os.path.join(args.data, f"{kind}_{day}.{ext}")
            for kind, ext in (
                ("transactions", "txt"), ("passport_blacklist", "xlsx"), ("terminals", "xlsx"),
            )
        }
        missing = [p for p in paths.values() if not os.path.exists(p)]
        if missing:
            print(f"skipping {day}: missing {missing}", file=sys.stderr)
            continue
        counts = batch.run_day(
            paths["transactions"], paths["passport_blacklist"], paths["terminals"]
        )
        print(f"day {day}: {counts}")
    mart = batch.wh.read("rep_fraud")
    print(f"rep_fraud total rows: {mart.count()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
