"""Lake sources.

The reference scans a Hive-partitioned Athena table with explicit
string partition predicates for the current + previous hour
(alerta.py:114-161, utils/dates.py:13-35) and `SELECT *` + `limit
1000`. Spark equivalents:

- partition pruning is automatic on a partitioned layout; on the
  driver's flat parquet we express the same hop window as a timestamp
  range filter (pushed to the parquet scan as a min/max filter);
- no row cap is needed for correctness — plans are distributed; the
  cap survives as an optional ``limit``;
- `SELECT *` is replaced by column pruning: rules declare which
  columns they touch, Catalyst prunes the scan (fixes the reference's
  anti-optimization, SURVEY.md §4).

:func:`load_table` takes a single-file table's Spark schema from its
parquet footer, in the same one read that finds its TIMESTAMP(NANOS)
columns, so loading a table launches no Spark job. Only inputs whose
schema the footer cannot give as Spark would infer it (a Spark-written
directory or file, an unsigned integer column) pay Spark's
schema-inference job.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# footer key under which Spark writes its own schema of a parquet file
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _pinnable(t, top: bool) -> bool:
    """False for the arrow types that ``from_arrow_type`` maps apart
    from Spark's own parquet inference: duration (Spark: long), time
    (Spark: unsupported), null (Spark: int), and a nested
    TIMESTAMP(NANOS) (Spark: long, but only top-level columns are
    converted here)."""
    import pyarrow.types as pat

    if pat.is_struct(t):
        return all(_pinnable(f.type, False) for f in t)
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return _pinnable(t.value_type, False)
    if pat.is_map(t):
        return _pinnable(t.key_type, False) and _pinnable(t.item_type, False)
    if pat.is_dictionary(t):
        return _pinnable(t.value_type, False)
    if pat.is_timestamp(t):
        return top or t.unit != "ns"
    return not (pat.is_duration(t) or pat.is_time(t) or pat.is_null(t))


def _read_footer(path: str) -> tuple[StructType | None, list[str]]:
    """One read of a single-file table's parquet footer: the Spark
    schema Spark's own inference would give (with
    spark.sql.legacy.parquet.nanosAsLong), and the top-level
    TIMESTAMP(NANOS) columns, which that schema reads as long.

    The schema is None where it must be inferred by Spark: a path
    pyarrow cannot read as one file (a Spark-written directory), a
    Spark-written file (Spark takes its schema from its own footer
    key, and writes INT96 timestamps, which pyarrow reports as
    nanoseconds), or a type outside :func:`_pinnable` or
    ``from_arrow_type`` (unsigned integers, float16)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        meta = pq.read_metadata(path)
        arrow = meta.schema.to_arrow_schema()
    except (OSError, pa.ArrowException):
        return None, []
    int96 = {
        meta.schema.column(i).path
        for i in range(meta.num_columns)
        if meta.schema.column(i).physical_type == "INT96"
    }
    nanos = [
        f.name
        for f in arrow
        if pa.types.is_timestamp(f.type)
        and f.type.unit == "ns"
        and f.name not in int96
    ]
    if (
        int96
        or _SPARK_SCHEMA_KEY in (meta.metadata or {})
        or not all(_pinnable(f.type, True) for f in arrow)
    ):
        return None, nanos
    try:
        spark_schema = from_arrow_schema(
            pa.schema(
                pa.field(f.name, pa.int64() if f.name in nanos else f.type)
                for f in arrow
            ),
            prefer_timestamp_ntz=True,
        )
    except TypeError:  # PySparkTypeError: no Spark type for it
        return None, nanos
    # Spark's file sources read every top-level field as nullable
    return (
        StructType([StructField(f.name, f.dataType, True) for f in spark_schema]),
        nanos,
    )


def _post_read(df: DataFrame, nanos: list[str]) -> DataFrame:
    """The conversions every load applies to the raw parquet columns."""
    for c in nanos:
        # integer div keeps full precision; truncation toward zero
        # matches DuckDB's ns->us coercion
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Naive (isAdjustedToUTC=false) parquet timestamps read as
    # TIMESTAMP_NTZ under Spark 4's inference. Downstream instant math
    # (unix_micros, epoch arithmetic) requires TIMESTAMP, and the DuckDB
    # oracle treats the same naive values as UTC instants — so does this
    # cast (session timezone is pinned to UTC in session.get_spark).
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` as a frame whose timestamps are all
    TIMESTAMP (see :func:`_post_read`)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = _read_footer(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _post_read(reader.parquet(path), nanos)


def load_table_stream(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Streaming twin of :func:`load_table`: readStream with the RAW
    parquet schema (from the footer, or inferred by a batch read where
    :func:`_read_footer` gives none), then the SAME post-conversions.
    Feeding the stream the batch frame's POST-conversion schema breaks
    on any TIMESTAMP(NANOS) column — the physical int64-nanos column
    cannot be read with a requested TimestampType, and even where
    readable the ns->us conversion would silently never run on stream
    rows."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = _read_footer(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        # the file stream source requires a DIRECTORY; a single-file
        # table (the testdata layout) streams from its parent with a
        # name filter
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        df = reader.parquet(os.path.dirname(path))
    else:
        df = reader.parquet(path)
    return _post_read(df, nanos)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream table: event_id, ts, user_id, event_type,
    value, props (JSON string — the analogue of the reference's
    ``details`` payload)."""
    return load_table(spark, sf_dir, "events")


def write_partitioned_events(
    df: DataFrame, path: str, ts_col: str = "ts", mode: str = "overwrite"
) -> None:
    """Lay events out Hive-partitioned by zero-padded string
    year/month/day/hour — the reference lake's partition scheme
    (utils/dates.py:13-35). At 100 TB this is what makes the 2-hour
    hop-window scan touch 2 partitions instead of the whole table."""
    from alerta_spark.functions.scalars import date_parts

    parts = date_parts(F.col(ts_col))
    (
        df.withColumn("year", parts["year"])
        .withColumn("month", parts["month"])
        .withColumn("day", parts["day"])
        .withColumn("hour", parts["hour"])
        .write.mode(mode)
        .partitionBy("year", "month", "day", "hour")
        .parquet(path)
    )


def load_partitioned_events(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def partition_window(
    df: DataFrame, now: datetime, hours: int = 2
) -> DataFrame:
    """F5 on a partitioned layout: explicit predicates on the string
    partition columns (current + previous `hours-1` hour partitions),
    exactly the reference's query template (alerta.py:136-146). Catalyst
    turns these into PartitionFilters — zero data files outside the
    window are opened."""
    from datetime import timedelta

    preds = None
    for h in range(hours):
        t = now - timedelta(hours=h)
        p = (
            (F.col("year") == f"{t.year:04d}")
            & (F.col("month") == f"{t.month:02d}")
            & (F.col("day") == f"{t.day:02d}")
            & (F.col("hour") == f"{t.hour:02d}")
        )
        preds = p if preds is None else (preds | p)
    return df.where(preds)


def time_window(
    df: DataFrame,
    ts_col: str = "ts",
    now: datetime | str | None = None,
    hours: int = 2,
) -> DataFrame:
    """F5: the reference's current+previous-hour hop window, expressed
    as a timestamp range (partition-prunable on a partitioned lake).

    ``now=None`` anchors at the max timestamp in the frame (useful for
    replaying static test data); on a live lake pass
    ``datetime.utcnow()``.
    """
    if now is None:
        # anchor at the frame's max ts, computed driver-side so the
        # resulting range filter stays scan-prunable
        row = df.select(F.max(ts_col).alias("m")).first()
        if row["m"] is None:
            return df.where(F.lit(False))
        anchor_lit = F.lit(row["m"])
    else:
        anchor_lit = F.lit(now)
    lower = F.date_trunc("hour", anchor_lit) - F.expr(f"INTERVAL {hours - 1} HOURS")
    return df.where((F.col(ts_col) >= lower) & (F.col(ts_col) <= anchor_lit))
