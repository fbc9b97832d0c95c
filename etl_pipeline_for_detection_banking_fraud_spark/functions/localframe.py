"""Local-rows -> DataFrame with no Python worker behind it.

``spark.createDataFrame(list, schema)`` parallelizes the rows as a
Python RDD: every ACTION over such a frame starts a Python worker per
slice to hand the pickled rows to the JVM (~0.2 s per worker round
trip), and a ``coalesce(1)`` serializes all of those round trips into
one task. Control planes (audit flush, xlsx feeds, seed dims, the MERGE
source, SQL-door result rows) build many such frames per pipeline day.

``local_rows_df`` keeps ``createDataFrame``'s row semantics exactly and
changes only the hand-over:

- every row passes Spark's own type verifier (``_make_type_verifier``,
  the check ``createDataFrame`` runs), so a ``None`` in a non-nullable
  field or a wrong Python type raises the same error, eagerly;
- rows convert to Spark's internal values the way ``createDataFrame``
  converts them (``StructType.toInternal``): a naive ``datetime`` in a
  TIMESTAMP field is read in the process's local zone, dates become
  epoch days, nested structs become tuples;
- the internal values go to the JVM as ONE Arrow table. Spark turns it
  into a ``LocalRelation``, so the frame is a ``LocalTableScan`` that no
  action ever needs a Python worker for. ``coalesce(1)`` keeps it one
  slice: a tiny write then produces one file, not one per core.

``empty_df`` is the same frame with no rows: the schema (nullability
included) is carried verbatim.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import _create_converter, _make_type_verifier


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` as one Arrow-built, one-slice
    ``LocalRelation`` (see the module docstring). ``schema`` is a
    ``StructType`` or a DDL string."""
    struct = T._parse_datatype_string(schema) \
        if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    to_tuple = _create_converter(struct)
    internal = []
    for r in rows:
        verify(r)
        internal.append(struct.toInternal(to_tuple(r)))
    cols = list(zip(*internal)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=to_arrow_type(f.dataType))
         for f, c in zip(struct.fields, cols)],
        names=[f.name for f in struct.fields])
    # PySpark rebuilds a map whose keys or values are nested without its
    # null mask when pyarrow < 17 (SPARK-48302), turning a NULL map into
    # an empty one: carry each nullable map's nulls beside it and put
    # them back in a projection the optimizer folds into the relation
    nulls = [f.name for f in struct.fields
             if isinstance(f.dataType, T.MapType) and f.nullable]
    for name in nulls:
        table = table.append_column(f"__null_{name}",
                                    pc.is_null(table[name]))
    full = T.StructType(list(struct.fields) + [
        T.StructField(f"__null_{n}", T.BooleanType(), False) for n in nulls])
    df = spark.createDataFrame(table, full)
    if nulls:
        df = df.select(*[
            F.when(~F.col(f"__null_{f.name}"), F.col(f.name)).alias(f.name)
            if f.name in nulls else F.col(f.name)
            for f in struct.fields])
    return df.coalesce(1)


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """The typed zero-row local frame: the schema (nullability
    included) carried verbatim."""
    return local_rows_df(spark, [], schema)
