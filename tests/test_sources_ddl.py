"""DDL-runner (SRC3) and xlsx/seed source unit tests."""

from __future__ import annotations

import datetime
import os

from etl_pipeline_for_detection_banking_fraud_spark.sources.ddl import (
    run_ddl_script,
    split_statements,
)
from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import parse_seed_dml
from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import read_passport_blacklist


def test_split_statements_quotes_and_comments():
    sql = """
    -- a comment; with a semicolon
    CREATE TABLE t1 (x STRING); /* block; comment */
    INSERT INTO t1 VALUES ('a;b');
    SELECT * FROM t1
    """
    stmts = split_statements(sql)
    assert len(stmts) == 3
    assert "a;b" in stmts[1]


def test_run_ddl_script(spark, tmp_path):
    p = tmp_path / "ddl.sql"
    p.write_text(
        "CREATE OR REPLACE TEMPORARY VIEW ddl_smoke AS SELECT 1 AS x;\n"
        "CREATE OR REPLACE TEMPORARY VIEW ddl_smoke2 AS SELECT x + 1 AS y FROM ddl_smoke;"
    )
    n = run_ddl_script(spark, str(p))
    assert n == 2
    assert spark.sql("SELECT y FROM ddl_smoke2").first().y == 2


def test_seed_dml_counts(feeds):
    parsed = parse_seed_dml(feeds.seed_dml)
    written = feeds.world.dims_pandas()  # the rows ddl_dml.sql holds
    assert len(parsed["cards"]) == len(written["cards"])
    assert len(parsed["accounts"]) == len(written["accounts"])
    assert len(parsed["clients"]) == len(written["clients"])
    c = parsed["clients"][0]
    assert c["passport_valid_to"] is None or isinstance(
        c["passport_valid_to"], datetime.date
    )


def test_blacklist_serial_dates_and_null_rows(spark, feeds):
    day1 = feeds.days[0]
    assert day1.blank_rows > 0  # the sheet ends in all-NULL styled rows
    bl = read_passport_blacklist(spark, f"{feeds.dir}/passport_blacklist_01032021.xlsx")
    rows = bl.collect()
    assert len(rows) == len(day1.blacklist)  # trailing all-NULL sheet rows dropped
    # Excel serial dates come back as the dates the generator wrote
    assert sorted((r.date, r.passport) for r in rows) == sorted(day1.blacklist)


class TestDistributedXlsx:
    """Round-6 distributed many-file ingest: binaryFile + mapInPandas
    over the same stdlib parser — parity with the driver-side readers
    on the generated 3-day feeds."""

    def test_terminals_many_matches_per_file_union(self, spark, feeds):
        from etl_pipeline_for_detection_banking_fraud_spark.sources import xlsx

        many = xlsx.read_terminals_many(
            spark, os.path.join(feeds.dir, "terminals_*.xlsx")
        )
        plan = many._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan  # parse runs executor-side
        got = sorted(
            map(tuple, many.drop("src_file").collect())
        )
        want = []
        for d in ("01032021", "02032021", "03032021"):
            want.extend(
                map(tuple, xlsx.read_terminals(
                    spark, os.path.join(feeds.dir, f"terminals_{d}.xlsx")
                ).collect())
            )
        assert got == sorted(want)
        # src_file attribution: one distinct path per day file
        assert many.select("src_file").distinct().count() == 3

    def test_blacklist_many_serial_dates(self, spark, feeds):
        from etl_pipeline_for_detection_banking_fraud_spark.sources import xlsx

        many = xlsx.read_passport_blacklist_many(
            spark, os.path.join(feeds.dir, "passport_blacklist_*.xlsx")
        )
        got = sorted(map(tuple, many.drop("src_file").collect()))
        want = []
        for d in ("01032021", "02032021", "03032021"):
            want.extend(
                map(tuple, xlsx.read_passport_blacklist(
                    spark, os.path.join(feeds.dir, f"passport_blacklist_{d}.xlsx")
                ).collect())
            )
        assert got == sorted(want)
        assert len(got) > 0
