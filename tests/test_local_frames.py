"""``local_rows_df`` builds a local frame from one Arrow table: the same
schema, rows and verifier errors as ``createDataFrame`` over a one-slice
Python RDD, with a ``LocalTableScan`` plan in exactly one partition."""

import datetime
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from etl_pipeline_for_detection_banking_fraud_spark import schemas
from etl_pipeline_for_detection_banking_fraud_spark.functions.localframe import (
    local_rows_df,
)

TABLE_FILES_DDL = ("file string, partition_values string, "
                   "row_count long, size_bytes long, "
                   "has_bloom boolean, dv_covered boolean, "
                   "column_stats map<string,array<string>>")

STRUCTS = [name for name in dir(schemas)
           if isinstance(getattr(schemas, name), T.StructType)]


def _value(dt: T.DataType, i: int):
    if isinstance(dt, T.StringType):
        return f"v{i}"
    if isinstance(dt, T.DateType):
        return datetime.date(2021, 3, 1) + datetime.timedelta(days=i)
    if isinstance(dt, T.TimestampType):
        return datetime.datetime(2021, 3, 1, 12, 30, 5, 123) \
            + datetime.timedelta(hours=i)
    if isinstance(dt, T.DecimalType):
        return Decimal(f"{i}.25").quantize(Decimal(1).scaleb(-dt.scale))
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType)):
        return i
    if isinstance(dt, T.DoubleType):
        return i + 0.5
    if isinstance(dt, T.BooleanType):
        return i % 2 == 0
    raise AssertionError(f"no generated value for {dt}")


def _rows(schema: T.StructType) -> list[tuple]:
    """Three rows; the last holds None in every nullable field."""
    rows = [tuple(_value(f.dataType, i) for f in schema.fields)
            for i in range(2)]
    rows.append(tuple(None if f.nullable else _value(f.dataType, 2)
                      for f in schema.fields))
    return rows


def _reference(spark, rows, schema):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                 schema)


def _assert_same(spark, rows, schema):
    got = local_rows_df(spark, rows, schema)
    want = _reference(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


@pytest.mark.parametrize("name", STRUCTS)
def test_every_schema_struct_matches_create_dataframe(spark, name):
    schema = getattr(schemas, name)
    _assert_same(spark, _rows(schema), schema)


def test_table_files_ddl_with_null_and_nested_maps(spark):
    rows = [
        ("a.parquet", '{"dt": "2021-03-01"}', 3, 10, True, False,
         {"amount": ["1.00", "9.50"], "note": [None, "x"]}),
        ("b.parquet", None, None, None, False, True, None),
        ("c.parquet", None, 0, 1, False, False, {}),
    ]
    df = _assert_same(spark, rows, TABLE_FILES_DDL)
    got = {r["file"]: r["column_stats"] for r in df.collect()}
    assert got["b.parquet"] is None and got["c.parquet"] == {}


def test_naive_timestamps_read_in_the_local_zone(spark):
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("d", T.DateType())])
    rows = [(datetime.datetime(2021, 3, 1, 0, 30), datetime.date(2021, 3, 1)),
            (datetime.datetime(2021, 10, 31, 2, 15), None)]
    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        # the reference is createDataFrame's driver-side list path: a
        # parallelized RDD converts on a Python worker, which keeps the
        # zone it was started with
        got = local_rows_df(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        micros = [r[0] for r in got.selectExpr("unix_micros(ts)").collect()]
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    # 00:30 in Tokyo (UTC+9) is 15:30 UTC the day before
    assert micros[0] == int(datetime.datetime(
        2021, 2, 28, 15, 30, tzinfo=datetime.timezone.utc).timestamp()) \
        * 1_000_000


def test_decimals_and_none_cells(spark):
    schema = "k int, amt decimal(10,2), big decimal(38,10), s string"
    rows = [(1, Decimal("1046.40"), Decimal("12345678901.0000000001"), None),
            (None, None, None, "x"),
            (3, Decimal("-0.05"), Decimal("0"), "")]
    _assert_same(spark, rows, schema)


def test_empty_rows_keep_the_schema(spark):
    df = local_rows_df(spark, [], schemas.META_LOADING)
    assert df.schema == schemas.META_LOADING
    assert df.collect() == []


@pytest.mark.parametrize("rows", [
    [(None, datetime.datetime(2021, 3, 1), Decimal("1.00"), "c", "o", "r",
      "t")],                                     # None in a non-nullable field
    [("t1", "2021-03-01 10:00:00", Decimal("1.00"), "c", "o", "r", "t")],
])                                               # a str for a TIMESTAMP
def test_verifier_errors_match_create_dataframe(spark, rows):
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, schemas.TRANSACTIONS)
    with pytest.raises(Exception) as got:
        local_rows_df(spark, rows, schemas.TRANSACTIONS)
    assert type(got.value) is type(want.value)
    assert str(got.value) == str(want.value)


def test_plan_is_one_local_table_scan_slice(spark):
    rows = _rows(schemas.REP_FRAUD) * 20
    df = local_rows_df(spark, rows, schemas.REP_FRAUD)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.rdd.getNumPartitions() == 1
    map_df = local_rows_df(spark, [("a", None, 1, 1, True, True, None)],
                           TABLE_FILES_DDL)
    map_plan = map_df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in map_plan and "ExistingRDD" not in map_plan
    assert map_df.rdd.getNumPartitions() == 1
