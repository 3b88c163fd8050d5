"""Source-layer parity: S5 (concatenated-JSON splitting via the native
reader), nano-timestamp conversion, and table loads whose schema comes
from the parquet footer."""

import glob
import json
import os

SF_DIR = "/root/testdata/sf0.001"


def test_json_blob_splitting(spark, tmp_path):
    """S5: concatenated JSON objects (no newlines) split distributedly
    (reference: brace counter at utils/helpers.py:13-32)."""
    from alerta_spark.sources.jsonblob import read_json_blobs, split_json_blocks

    blob = tmp_path / "blob.json"
    events = [{"eventid": str(i), "source": "s", "details": {"k": i}} for i in range(5)]
    blob.write_text("".join(json.dumps(e) for e in events))

    df = read_json_blobs(spark, str(blob))
    assert df.count() == 5
    assert sorted(r["eventid"] for r in df.collect()) == [str(i) for i in range(5)]

    # explicit-schema path (no inference pass)
    df2 = read_json_blobs(
        spark, str(blob), "eventid string, source string, details struct<k:long>"
    )
    assert df2.count() == 5 and df2.schema["details"].dataType.simpleString() == "struct<k:bigint>"

    # string-aware splitting: braces inside strings don't count
    tricky = '{"a": "}{", "b": {"c": "\\"{"}}{"a": "x"}'
    assert len(split_json_blocks(tricky)) == 2


def test_nano_timestamp_conversion(spark, nano_lake):
    """A parquet TIMESTAMP(NANOS) column loads as a true timestamp,
    truncated toward zero to microseconds as DuckDB reads it (pre-1970
    values included). The test lake's own timestamps are microsecond
    (naive) ones: they load as timestamp and agree with DuckDB too."""
    import duckdb
    from pyspark.sql import functions as F

    from alerta_spark.sources.lake import load_events, load_table

    lake_dir, want = nano_lake
    df = load_table(spark, lake_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = dict(df.select("event_id", F.unix_micros("ts")).collect())
    assert got == want

    df = load_events(spark, SF_DIR)
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    expect = duckdb.sql(
        f"SELECT max(ts) FROM '{SF_DIR}/events.parquet'"
    ).fetchone()[0]
    assert df.select(F.max("ts")).first()[0] == expect


def test_load_table_runs_no_spark_job(spark, jobs_in_group):
    """A single-file table's schema comes from its parquet footer, so
    loading it launches no Spark job (schema inference launches one)."""
    from alerta_spark.sources.lake import load_table

    path = f"{SF_DIR}/events.parquet"
    assert jobs_in_group(
        "infer-events", lambda: spark.read.parquet(path).schema
    ) >= 1
    assert jobs_in_group(
        "load-events", lambda: load_table(spark, SF_DIR, "events").schema
    ) == 0


def test_load_table_schema_matches_inference(spark):
    """For every test-lake table, the footer-derived schema gives the
    schema Spark's own inference gives after the same conversions."""
    from alerta_spark.sources.lake import _post_read, _read_footer, load_table

    paths = sorted(glob.glob(f"{SF_DIR}/*.parquet"))
    assert len(paths) == 10
    for path in paths:
        name = os.path.basename(path)[: -len(".parquet")]
        schema, nanos = _read_footer(path)
        assert schema is not None, name
        inferred = _post_read(spark.read.parquet(path), nanos).schema
        assert load_table(spark, SF_DIR, name).schema == inferred, name


def test_load_table_falls_back_to_inference(spark, tmp_path):
    """Inputs whose schema the footer cannot give take Spark's
    inference and load as before: a Spark-written directory table, a
    single Spark-written file (INT96 timestamps, which pyarrow reports
    as nanoseconds) and an unsigned-integer file."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from alerta_spark.sources.lake import _read_footer, load_table

    src = spark.sql(
        "SELECT id AS event_id, "
        "timestamp_seconds(1700000000 + id) AS ts FROM range(3)"
    )
    src.coalesce(1).write.parquet(str(tmp_path / "spark_dir.parquet"))
    part = glob.glob(str(tmp_path / "spark_dir.parquet" / "*.parquet"))[0]
    shutil.copy(part, tmp_path / "spark_file.parquet")
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()),
                  "u": pa.array([7, 255], pa.uint8())}),
        tmp_path / "unsigned.parquet",
    )
    want_ts = sorted(r[0] for r in src.select("ts").collect())
    for name in ("spark_dir", "spark_file"):
        assert _read_footer(str(tmp_path / f"{name}.parquet")) == (None, [])
        df = load_table(spark, str(tmp_path), name)
        assert dict(df.dtypes) == {"event_id": "bigint", "ts": "timestamp"}
        assert sorted(r[0] for r in df.select("ts").collect()) == want_ts

    assert _read_footer(str(tmp_path / "unsigned.parquet"))[0] is None
    df = load_table(spark, str(tmp_path), "unsigned")
    assert dict(df.dtypes)["u"] == "smallint"
    assert sorted(r[0] for r in df.select(F.col("u")).collect()) == [7, 255]


def test_schema_evolution_read_merges_new_columns(spark, tmp_path, events):
    """Lake schema evolution: a writer adds a column mid-history;
    mergeSchema reads must surface old rows with NULLs and rule
    criteria over the old columns must run unchanged."""
    from pyspark.sql import functions as F

    from alerta_spark.operators.threshold import apply_criteria

    p = str(tmp_path / "lake")
    v1 = events.select("event_id", "ts", "user_id", "event_type", "value")
    v1.where(F.col("event_id") % 2 == 0).write.mode("append").parquet(p)
    v2 = v1.where(F.col("event_id") % 2 == 1).withColumn(
        "region", F.lit("eu-west")
    )
    v2.write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert "region" in merged.columns
    n_total = events.count()
    assert merged.count() == n_total
    assert merged.where(F.col("region").isNull()).count() == v1.where(
        F.col("event_id") % 2 == 0
    ).count()
    # criteria over pre-evolution columns still compile and run
    out = apply_criteria(merged, "event_type='purchase' AND value > 10")
    assert out.count() == events.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 10)
    ).count()
