from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Dev-sandbox protobuf shim (tools/pyshim/sitecustomize.py): makes the
# transformWithStateInPandas protocol importable where no protobuf
# distribution is installable. Two delivery channels, both no-ops when a
# real protobuf exists: (1) execute it here for the DRIVER process;
# (2) prepend it to PYTHONPATH BEFORE the spark fixture launches the
# JVM, so Spark's Python WORKERS (separate processes) auto-import it as
# their sitecustomize.
_PYSHIM = Path(__file__).resolve().parent.parent / "tools" / "pyshim"
try:
    _spec = importlib.util.spec_from_file_location(
        "_alerta_pbshim", _PYSHIM / "sitecustomize.py"
    )
    _mod = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)
    os.environ["PYTHONPATH"] = (
        str(_PYSHIM) + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
except Exception:
    pass

from alerta_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("alerta-tests", master="local[4]", shuffle_partitions=4)
    yield s


_PINS = Path(__file__).resolve().parent / "data" / "engine_parity.json"


@pytest.fixture(scope="session")
def _engine_pins():
    import json

    return json.loads(_PINS.read_text())


@pytest.fixture()
def pinned(_engine_pins):
    """``pinned(key, value)`` asserts ``value`` equals the engine
    output stored under ``key`` in tests/data/engine_parity.json. The
    stored outputs were recorded from the per-rule (sequential) engine
    paths on rule sets where those paths and the one-scan fused ones
    produced identical documents."""

    def check(key, value):
        assert key in _engine_pins, f"no pinned output for {key!r}"
        assert value == _engine_pins[key], key

    return check


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)`` runs ``fn`` under its own Spark job
    group and returns the number of jobs that group ran."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def events(spark):
    from alerta_spark.sources.lake import load_events

    return load_events(spark, SF_DIR)


@pytest.fixture()
def nano_lake(tmp_path):
    """A one-table lake whose ``events.ts`` is parquet TIMESTAMP(NANOS),
    with two pre-1970 values where truncation toward zero and flooring
    give different microseconds. Returns the lake directory and
    ``{event_id: ts in epoch microseconds}`` as DuckDB reads the file."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "events.parquet"
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [-1_500, -86_400_000_000_999, 1_700_000_000_123_456_789],
                pa.timestamp("ns"),
            ),
            "event_type": ["a", "b", "c"],
        }
    )
    pq.write_table(table, path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts::TIMESTAMP) FROM '{path}'"
        ).fetchall()
    )
    assert want == {1: -1, 2: -86_400_000_000, 3: 1_700_000_000_123_456}
    return str(tmp_path), want


@pytest.fixture()
def cloudtrail_events(spark):
    """Golden fixture shaped like the reference's cloudtrail sample
    (tests/samples/sample_cloudtrail_login_no_mfa.json): two root
    ConsoleLogin events, JSON-string payload."""
    import json

    rows = []
    for i, ip in enumerate(["6.9.9.93", "6.9.9.93"]):
        rows.append(
            {
                "event_id": i,
                "ts": f"2026-01-01 00:0{i}:00",
                "source": "cloudtrail",
                "details": json.dumps(
                    {
                        "eventname": "ConsoleLogin",
                        "useridentity": {"type": "Root", "arn": "arn:aws:iam::123:root"},
                        "sourceipaddress": ip,
                        "recipientaccountid": "123456789012",
                    }
                ),
            }
        )
    df = spark.createDataFrame(rows)
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.to_timestamp("ts")).select(
        "event_id", "ts", "source", "details"
    )
