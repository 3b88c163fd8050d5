"""CLI config contract + the streaming lake source twin."""

import pytest
import yaml

from alerta_spark.cli import load_config, run_from_config

SF_DIR = "/root/testdata/sf0.001"


def test_load_config_requires_lake_and_store(tmp_path):
    p = tmp_path / "c.yml"
    p.write_text(yaml.safe_dump({"lake_dir": "x"}))
    with pytest.raises(ValueError, match="store_dir"):
        load_config(str(p))


def test_stream_mode_requires_checkpoint_key(tmp_path):
    """--stream without stream_checkpoint must fail with the config
    contract's message, not a raw KeyError after the JVM is up."""
    cfg = {
        "lake_dir": SF_DIR,
        "store_dir": str(tmp_path / "store"),
        "alerts_file_mask": "rules/*alert.yml",
    }
    with pytest.raises(ValueError, match="stream_checkpoint"):
        run_from_config(cfg, stream=True)


def test_load_table_stream_converts_nano_timestamps(spark, nano_lake):
    """The streaming source reads the RAW parquet schema and applies
    load_table's ns->long->timestamp conversion: a TIMESTAMP(NANOS)
    column streams as a true timestamp truncated toward zero, equal to
    the batch load and to DuckDB. Feeding the stream the batch frame's
    POST-conversion schema failed on such columns (physical int64 read
    with a requested TimestampType)."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from alerta_spark.sources.lake import load_table, load_table_stream

    lake_dir, want = nano_lake
    batch = load_table(spark, lake_dir, "events")
    stream = load_table_stream(spark, lake_dir, "events")
    assert stream.isStreaming
    # post-conversion schemas agree (ts is a real timestamp)
    assert dict(stream.dtypes)["ts"] == dict(batch.dtypes)["ts"] == "timestamp"

    seen = {}

    def _batch(df, _bid):
        seen["ts_type"] = dict(df.dtypes)["ts"]
        seen["micros"] = dict(df.select("event_id", F.unix_micros("ts")).collect())

    ck = tempfile.mkdtemp(prefix="cli_stream_ck_")
    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    while q.isActive and time.time() < deadline:
        q.awaitTermination(2)
    assert seen.get("ts_type") == "timestamp"
    assert seen.get("micros") == want
    assert dict(batch.select("event_id", F.unix_micros("ts")).collect()) == want
