"""Driver-local result frames without the Python-RDD boundary.

``spark.createDataFrame(rows, ddl)`` on a plain Python list builds a
pickled Python RDD with ``defaultParallelism`` partitions; every
action then launches one task PER CORE, and each task round-trips
through a Python worker just to deserialize a handful of literals —
measured ~0.5-0.8s per noop save at local[32] for a 1-row frame,
against ~0.15s for a JVM-literal plan (optimization guide §4: the
JVM↔Python boundary is the cost, and these rows never need it).

``local_rows_df`` builds the same rows as LITERAL expressions —
``range(1, numPartitions=1) → explode(array(struct(...)))`` — so the
frame is a pure JVM plan: one task (a bare ``range(1)`` would have
``defaultParallelism`` partitions, all but one empty), zero Python
workers, zero pickling, and the values/column types are exactly those
of the declared DDL (every literal is cast to its field type, matching
createDataFrame's verified conversion for the scalar types used here).

Intended for BOUNDED driver-computed results (profile reports,
quantile brackets, greedy selections, trained merge tables — tens to
a few hundred rows). Plan size grows with rows×cols, so keep it out
of unbounded paths; callers with genuinely large local data should
write through the regular createDataFrame.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType, _parse_datatype_string


def local_rows_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """JVM-literal twin of ``spark.createDataFrame(rows, schema)``.

    ``rows`` is an iterable of tuples/lists positionally matching the
    schema fields; values must be plain scalars (None/bool/int/float/
    str/Decimal/datetime — whatever ``F.lit`` accepts).

    Two documented divergences from ``createDataFrame`` (ADVICE r13):

    * NULLABILITY — a field whose literals are all non-null comes out
      ``nullable=False`` (createDataFrame marks everything nullable).
      Harmless for the current consumers (unions, writes, value-level
      oracle comparison); schema-EQUALITY assertions or parquet
      schema merges against pre-r13 outputs would see the difference.
    * COERCION — values are coerced with ``cast()`` rather than
      createDataFrame's Python-type validation, so under a non-ANSI
      session a mistyped value (a string in an int field) becomes
      NULL silently instead of raising.  Callers pass
      driver-computed scalars of the declared types; keep it that
      way, or validate upstream if a value's type is ever dynamic.
    """
    st = (
        _parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    if not isinstance(st, StructType):
        raise TypeError(f"schema must describe a struct, got {st}")

    def lit(v, dt: DataType):
        return F.lit(v).cast(dt)

    structs = [
        F.struct(
            *[
                lit(v, f.dataType).alias(f.name)
                for v, f in zip(r, st.fields, strict=True)
            ]
        )
        for r in rows
    ]
    if not structs:
        # typed empty relation: explode of a zero-element typed array
        # (StructType.simpleString() is already the struct<...> element
        # type the array cast needs)
        return (
            spark.range(1, numPartitions=1)
            .select(
                F.explode(
                    F.array().cast(f"array<{st.simpleString()}>")
                ).alias("__r")
            )
            .select("__r.*")
        )
    return (
        spark.range(1, numPartitions=1)
        .select(F.explode(F.array(*structs)).alias("__r"))
        .select("__r.*")
    )
