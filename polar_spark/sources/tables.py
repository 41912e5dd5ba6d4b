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

Footer gate: a one-file table whose footer counts at most a caller's
row bound can be read whole on the driver with pyarrow
(:func:`read_small_table`), with no Spark job. ``knn_pq_adc`` and
``knn_ivf_trained`` use it to answer a corpus that fits their training
bound on the driver; a directory-shaped table (a Spark-written scaled
corpus) or a larger one goes through :func:`load_table` and their Spark
plans.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
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


def _footer_schema(path: str):
    """The table's arrow schema from its parquet footer (metadata only,
    no data read) and whether ``path`` is one file. A directory-shaped
    table (e.g. a Spark-written scaled corpus) is inspected through its
    first part file; None when it has none."""
    if not os.path.isdir(path):
        return pq.read_schema(path), True
    parts = sorted(
        os.path.join(dp, fn)
        for dp, _dn, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )
    return (pq.read_schema(parts[0]) if parts else None), False


def read_small_table(
    sf_dir: str, name: str, columns: list[str], max_rows: int
) -> pa.Table | None:
    """The named columns of a one-file table whose footer counts at most
    ``max_rows`` rows, read with pyarrow on the driver: no Spark job.
    None for a directory-shaped table, a larger one, or one missing a
    column, so the caller runs its Spark plan (with that plan's errors).
    The columns keep their footer types: no timestamp normalization."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return None
    # one open: the footer decides, then the same handle reads the data
    with pq.ParquetFile(path) as pf:
        if pf.metadata.num_rows > max_rows or not set(columns) <= set(
            pf.schema_arrow.names
        ):
            return None
        return pf.read(columns=columns)


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
    footer, one_file = _footer_schema(path)
    schema = _spark_schema(footer) if one_file else None
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    for field in footer or ():
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
