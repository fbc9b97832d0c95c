"""DML wall time by candidate-set size, in either plan shape.

Builds one warehouse table of ``--rows`` rows (4 columns, 8 files, keys
spread so that no file's min/max bounds prune), then times ``--reps``
rounds of a 1-row DELETE, a 2-row UPDATE and a MERGE of a 5-row local
source (2 matched, 3 inserted) through ``warehouse_sql``. Every DML
statement's candidate set is the whole table. It prints one JSON line:
the median of each op's runs after the first, and the peak RSS
(VmHWM) of the driver JVM. ``_ONE_SLICE_ROWS`` is set from this tool's
numbers.

Usage, from the repository root:

    python3 tools/dml_sizes.py --rows 16384 [--shape one|partitioned]
        [--reps 6] [--ops delete,update,merge] [--tree DIR]

``--shape`` forces the plan (by moving the one-slice threshold); without
it the engine chooses. ``--tree`` imports the package from another
checkout, such as an exported parent revision, which has no
``--shape`` control. The table goes to a temporary directory that is
removed on exit.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def vm_hwm_mb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) // 1024
    return -1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--shape", choices=("one", "partitioned"))
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--ops", default="delete,update,merge")
    ap.add_argument("--tree", default=ROOT)
    args = ap.parse_args()
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, os.path.abspath(args.tree))

    from pyspark.sql import functions as F

    from etl_pipeline_for_detection_banking_fraud_spark.functions.localframe import (
        local_rows_df,
    )
    from etl_pipeline_for_detection_banking_fraud_spark.session import get_spark
    from etl_pipeline_for_detection_banking_fraud_spark.sources import warehouse
    from etl_pipeline_for_detection_banking_fraud_spark.sql_door import (
        warehouse_sql,
    )

    if args.shape:
        warehouse._ONE_SLICE_ROWS = 1 << 62 if args.shape == "one" else 0
    ops = args.ops.split(",")
    n = args.rows
    spark = get_spark(app_name="dml-sizes")
    root = tempfile.mkdtemp(prefix="dml-sizes-")
    try:
        wh = warehouse.Warehouse(spark, root)
        with wh.transaction():
            # k walks 0..n-1 in an odd stride, so every file spans it
            wh.append(spark.range(0, n, numPartitions=8).select(
                ((F.col("id") * 7919 + 13) % n).alias("k"),
                (F.col("id") / 3.0).alias("v"),
                F.format_string("p%012d", "id").alias("s"),
                F.date_add(F.lit("2021-03-01").cast("date"),
                           (F.col("id") % 30).cast("int")).alias("d")), "t")
        times: dict[str, list[float]] = {op: [] for op in ops}

        def timed(op, stmt):
            t = time.perf_counter()
            res = warehouse_sql(wh, stmt)
            times[op].append(time.perf_counter() - t)
            return res

        for r in range(args.reps):
            a, b, c = 101 + 7 * r, 202 + 7 * r, 303 + 7 * r
            if "delete" in ops:
                assert timed("delete", f"DELETE FROM t WHERE k = {a}") == 1
            if "update" in ops:
                assert timed("update", f"UPDATE t SET v = v + 1 "
                                       f"WHERE k IN ({b}, {c})") == 2
            if "merge" in ops:
                day = datetime.date(2021, 3, 2)
                local_rows_df(spark, [(b, 1.0, "m", day), (c, 2.0, "m", day)]
                              + [(n + 10 * r + i, 3.0, "i", day)
                                 for i in range(3)],
                              "k long, v double, s string, d date") \
                    .createOrReplaceTempView("src")
                res = timed("merge", """
                    MERGE INTO t USING src s ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET v = s.v
                    WHEN NOT MATCHED THEN INSERT (k, v, s, d)
                        VALUES (s.k, s.v, s.s, s.d)""")
                assert res == {"updated": 2, "deleted": 0, "inserted": 3}
        out = {"rows": n, "shape": args.shape or "engine",
               "tree": os.path.abspath(args.tree)}
        for op, ts in times.items():
            out[op + "_s"] = round(statistics.median(ts[1:] or ts), 3)
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        out["jvm_hwm_mb"] = vm_hwm_mb(jvm)
        print(json.dumps(out), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
