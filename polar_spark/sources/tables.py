"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Timestamp normalization: every testdata generation so far has needed one.

- TIMESTAMP(NANOS) parquet (rounds 1-2) surfaces as LONG nanos under
  ``spark.sql.legacy.parquet.nanosAsLong``; the loader inspects the
  parquet footer with pyarrow (metadata-only, no data read) and converts
  to microsecond timestamps.
- TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (round 3 testdata)
  surfaces as TIMESTAMP_NTZ in Spark 4, which half the timestamp
  function surface (``unix_micros``, ``window`` joins against TZ
  columns, ...) rejects. The loader casts NTZ → TIMESTAMP; with the
  session timezone pinned to UTC (session.py) the wall-clock values are
  unchanged and bit-identical to what DuckDB's oracle reads.

Footer gate: :func:`read_small_table` is the one place a query decides
between a driver plan and its Spark plan. A table stored as one file or
as a directory of part files (a Spark-written scaled corpus) is opened
as one pyarrow dataset; when the footers count at most the caller's row
bound, every part has the same schema and the asked columns exist, the
table is read whole on the driver with no Spark job. Otherwise the
caller runs its Spark plan over :func:`load_table`. ``knn_pq_adc`` and
``knn_ivf_trained`` answer a corpus that fits their training bound this
way. A new driver plan lands only through this gate, with a test that
runs the query through it and with it declined and compares the two
(the ``twin_plans`` fixture in tests/conftest.py).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_small_table(
    sf_dir: str, name: str, columns: list[str], max_rows: int
) -> pa.Table | None:
    """The named columns of a table (one file or a directory of part
    files) whose footers count at most ``max_rows`` rows, read with
    pyarrow on the driver: no Spark job. None for a larger table, one
    missing a column or one whose part files' footer schemas differ, so
    the caller runs its Spark plan (with that plan's errors). The
    columns keep their footer types: no timestamp normalization."""
    ds = pads.dataset(os.path.join(sf_dir, f"{name}.parquet"), format="parquet")
    # no thread pool: a table under the bound is small, and its start-up
    # costs the driver more CPU than it saves
    if (
        any(not f.physical_schema.equals(ds.schema) for f in ds.get_fragments())
        or not set(columns) <= set(ds.schema.names)
        or ds.count_rows(use_threads=False) > max_rows  # footer metadata only
    ):
        return None
    return ds.to_table(columns=columns, use_threads=False)


_SPARK_TYPES = {
    pa.int32(): IntegerType(),
    pa.int64(): LongType(),
    pa.float32(): FloatType(),
    pa.float64(): DoubleType(),
    pa.bool_(): BooleanType(),
    pa.string(): StringType(),
    pa.large_string(): StringType(),
    pa.date32(): DateType(),
}


def _spark_type(t: pa.DataType):
    """The type Spark's parquet schema inference gives an arrow footer
    type under this session's settings (session.py), or None for a type
    this map does not cover."""
    if t in _SPARK_TYPES:
        return _SPARK_TYPES[t]
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return LongType()  # spark.sql.legacy.parquet.nanosAsLong
        return TimestampType() if t.tz else TimestampNTZType()
    if pa.types.is_list(t):
        e = _spark_type(t.value_type)
        return None if e is None else ArrayType(e, t.value_field.nullable)
    return None


def _spark_schema(schema: pa.Schema) -> StructType | None:
    """Spark's inferred schema of a one-file table, from its footer;
    None when a column's type is outside :func:`_spark_type`'s map."""
    types = [_spark_type(f.type) for f in schema]
    if any(t is None for t in types):
        return None
    return StructType([StructField(f.name, t, True) for f, t in zip(schema, types)])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with timestamp columns normalized to
    session-timezone TIMESTAMP (session tz is UTC, see session.py).

    The driver reads the footer with pyarrow anyway (for the nanosecond
    columns), so a one-file table is read with the schema Spark would
    infer from that footer: Spark's own inference is one more Spark job
    per load that reads the same footer again."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # a directory's dataset schema is its first part's footer
    footer = pads.dataset(path, format="parquet").schema
    schema = None if os.path.isdir(path) else _spark_schema(footer)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    for field in footer:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            c = field.name
            # integer div — double division would lose precision on ~1e18 nanos
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def parallelize_small_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism IFF its
    scan is under-split — a parquet row group is the unit of split, so a
    small table written as one file/one row group scans as ONE task and
    starves every core but one, no matter what ``maxPartitionBytes``
    says. CPU-heavy per-row work downstream (tokenize/explode/Arrow
    UDFs) then runs single-threaded and scales linearly with corpus
    bytes (BENCH r5: bpe 5.13×, tfidf 4.13× at 10× — both single-task
    scans of the one-row-group documents file).

    At real scale this is a NO-OP: a 100 TB table scans as thousands of
    splits ≥ default parallelism, so the condition is false and no
    exchange enters the plan. The shuffle this adds on small inputs
    moves only the small input itself."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register testdata tables as temp views for the SQL surface."""
    for name in tables or TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
