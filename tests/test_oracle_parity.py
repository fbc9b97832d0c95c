"""Differential parity: every CATALOG query vs its DuckDB oracle.

Mirrors the driver's correctness gate (row count + column names +
order-insensitive values) so mismatches surface locally before the
driver's CORRECTNESS_r{N}.json does.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from etl_pipeline_for_detection_banking_fraud_spark.plans import CATALOG

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck(sf01):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf01}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        # NaN gets its own type tag so rows stay sortable when a float
        # column mixes NaN with real values (tuple compare never reaches
        # the str-vs-float second element)
        return ("f", round(v, 9)) if not math.isnan(v) else ("fnan", "nan")
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        # DuckDB DATE -> pandas datetime64 (midnight) but Spark -> date
        # objects; the driver's canonicalizer treats them as equal (r1:
        # date_arith et al green), so canonicalize date == midnight ts.
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    try:  # Decimal and int compare cross-type fine via str of normalized value
        import decimal

        if isinstance(v, decimal.Decimal):
            return ("dec", str(v.normalize()))
    except Exception:
        pass
    if isinstance(v, list):
        return ("l", tuple(_norm(x) for x in v))
    return (type(v).__name__[:1], v)


def _rows(seq):
    return sorted(tuple(_norm(v) for v in row) for row in seq)


def _pandas_rows(pdf):
    """Rows via pandas, like the driver's canonicalizer.

    Routing both sides through pandas (Spark ``toPandas`` / DuckDB ``.df()``)
    is load-bearing: DuckDB DECIMAL columns land as float64 while Spark
    decimals arrive as Decimal objects, and DuckDB HUGEINT (sum of ints)
    lands as float64 vs Spark's int64 — type skews that ``fetchall()``-based
    comparison masks but the driver's hash catches (r1: cast_project,
    sessionize)."""
    pdf = pdf[sorted(pdf.columns)]
    return _rows(tuple(row) for row in pdf.itertuples(index=False, name=None))


@pytest.mark.parametrize("qdef", [q for q in CATALOG if q.sql], ids=lambda q: q.name)
def test_query_matches_oracle(qdef, spark, duck, sf01):
    sdf = qdef.spark(spark, sf01)
    spark_cols = [c.lower() for c in sdf.columns]
    duck_rel = duck.sql(qdef.sql)
    duck_cols = [c.lower() for c in duck_rel.columns]
    assert spark_cols == duck_cols, f"{qdef.name}: column mismatch"

    spark_rows = _pandas_rows(sdf.toPandas())
    duck_rows = _pandas_rows(duck_rel.df())
    assert len(spark_rows) == len(duck_rows), (
        f"{qdef.name}: rowcount {len(spark_rows)} != {len(duck_rows)}"
    )
    if spark_rows != duck_rows:
        diff_a = [r for r in spark_rows[:2000] if r not in duck_rows[:2000]][:3]
        diff_b = [r for r in duck_rows[:2000] if r not in spark_rows[:2000]][:3]
        raise AssertionError(f"{qdef.name}: value mismatch\nspark-only={diff_a}\nduck-only={diff_b}")


def test_approx_stats_within_published_bounds(spark, duck, sf01):
    """`approx_stats` is retired from the catalog (sketch values are
    implementation-defined, so it could never carry an exact oracle —
    `approx_stats_bounds` is the catalog entry), so pin its output
    contract here instead:
    every sketch value must sit inside the algorithms' PUBLISHED error
    bounds of the exact DuckDB answer.

    - approx_count_distinct = HyperLogLog++ with default rsd 0.05
      (Heule et al. 2013); assert relative error <= 3*rsd — a >=3-sigma
      bound a correct sketch essentially never exceeds.
    - percentile_approx with default accuracy 10000 guarantees the
      returned value's RANK is within n/accuracy of the target rank
      (Spark's ApproximatePercentile contract, Greenwald-Khanna bound
      eps = 1/accuracy). Assert each sketch quantile lies between the
      exact quantiles at q +- (eps + 2/n) — the bound itself plus two
      ranks of interpolation slack.
    """
    from etl_pipeline_for_detection_banking_fraud_spark.plans.extended_queries import approx_stats

    got = {
        r["l_returnflag"]: r
        for r in (row.asDict() for row in approx_stats(spark, sf01).collect())
    }
    eps = 1.0 / 10000  # percentile_approx default accuracy
    exact = duck.sql(
        """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS nd,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchall()
    assert set(got) == {r[0] for r in exact}
    for flag, nd, n in exact:
        row = got[flag]
        assert row["n"] == n  # count(*) in the same agg is exact
        rel = abs(row["approx_parts"] - nd) / nd
        assert rel <= 3 * 0.05, f"{flag}: HLL rel err {rel:.4f} > 15%"
        slack = eps + 2.0 / n
        for q in (0.5, 0.95, 0.99):
            lo, hi = duck.sql(
                f"""
                SELECT quantile_disc(CAST(l_extendedprice AS DOUBLE), {max(q - slack, 0)}),
                       quantile_disc(CAST(l_extendedprice AS DOUBLE), {min(q + slack, 1)})
                FROM lineitem WHERE l_returnflag = '{flag}'
                """
            ).fetchone()
            val = row[f"p{int(q * 100)}"]
            assert lo <= val <= hi, (
                f"{flag} p{int(q*100)}: sketch {val} outside rank-bound "
                f"[{lo}, {hi}] (eps={slack:.5f}, n={n})"
            )
