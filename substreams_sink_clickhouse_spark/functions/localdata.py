"""Driver-local DataFrame construction that stays JVM-side.

``spark.createDataFrame(<python list>)`` builds a Python RDD with
``defaultParallelism`` partitions — and every downstream action then
pays one Python-worker round-trip PER PARTITION (~100 ms each).  A
single-task consumer (``coalesce(1)`` write, ``take(1)`` probe) pulls
those partitions sequentially: on local[32] a one-row cursor write cost
~4 s of pure PythonRunner init.  The Arrow (pandas) path avoids the
Python RDD but pays a multi-second first-use conversion cost per
process — which lands INSIDE the first streaming epoch when the first
caller is a ``foreachBatch`` callback.

So small row sets are built as pure JVM literal projections over
``spark.range``: a ``LocalTableScan``-equivalent plan with zero Python
workers and zero Arrow machinery.  Values must be expressible as
column literals (scalars, datetimes, arrays of scalars); anything
exotic falls back to Arrow, then to the plain path.  Column TYPES
follow the given schema exactly; nullability is relaxed to nullable
(nothing in the engine compares nullability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Above this, literal-projection plans get unwieldy; use Arrow.
_MAX_LITERAL_ROWS = 128


def _jvm_local_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    fields = schema.fields
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
    structs = [
        F.struct(
            *[
                (F.lit(None) if row[i] is None else F.lit(row[i]))
                .cast(f.dataType)
                .alias(f.name)
                for i, f in enumerate(fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("__r"))
        .select(*[F.col(f"__r.{f.name}").alias(f.name) for f in fields])
    )


def local_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """DataFrame from driver-side rows without touching Python workers."""
    rows = list(rows)
    if len(rows) <= _MAX_LITERAL_ROWS:
        try:
            return _jvm_local_df(spark, rows, schema)
        except Exception:
            pass  # un-literal-able values — fall through
    try:
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        # Arrow/pandas unavailable or conversion refused the values —
        # correctness over speed.
        return spark.createDataFrame(rows, schema)


#: (SparkSession id, schema json) -> empty DataFrame.  An empty plan is
#: immutable and session-bound, so handing back the same Dataset is
#: safe; building it costs ~25 ms of py4j per call, which repeated
#: merge replays (bench, property tests) pay hundreds of times.
_EMPTY_CACHE: dict[tuple[int, str], DataFrame] = {}


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """Empty DataFrame with the schema's names/types (nullable-relaxed),
    as a zero-row JVM-local plan (memoized per session + schema)."""
    key = (id(spark), schema.json())
    df = _EMPTY_CACHE.get(key)
    if df is None:
        df = local_df(spark, [], schema)
        if len(_EMPTY_CACHE) > 256:  # unbounded sessions/schemas guard
            _EMPTY_CACHE.clear()
        _EMPTY_CACHE[key] = df
    return df
