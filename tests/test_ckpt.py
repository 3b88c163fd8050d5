"""Checkpoint routing (ckpt.py): the alerting tier's lineage
truncation defaults to localCheckpoint and opts into RELIABLE
checkpoint() via spark.alerta.reliableCheckpoint=true + a checkpoint
dir — the cluster-deployment knob for passes that must survive
executor loss between the checkpoint and the store write."""

import os

import pytest

from alerta_spark.ckpt import RELIABLE_CONF, checkpoint, materialize
from alerta_spark.engine import Engine
from alerta_spark.rules import load_rules


@pytest.fixture
def reliable(spark, tmp_path):
    """Flip the session into reliable-checkpoint mode for one test.
    The checkpoint DIR is process-global (SparkContext), but routing
    is governed by the session conf, which this fixture restores — so
    the rest of the suite stays on the localCheckpoint default."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(RELIABLE_CONF, "true")
    yield str(tmp_path / "ckpt")
    spark.conf.set(RELIABLE_CONF, "false")


def test_default_is_local_checkpoint(spark):
    spark.conf.set(RELIABLE_CONF, "false")
    df = checkpoint(spark.range(10))
    assert df.count() == 10
    # localCheckpoint truncates lineage to an RDD scan leaf
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_reliable_requires_checkpoint_dir(spark, monkeypatch):
    # the checkpoint dir is process-global and other tests may have
    # set it — simulate the unset state deterministically
    from pyspark import SparkContext

    from alerta_spark.ckpt import ReliableCheckpointMisconfigured

    monkeypatch.setattr(
        SparkContext, "getCheckpointDir", lambda self: None
    )
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        with pytest.raises(
            ReliableCheckpointMisconfigured, match="checkpoint directory"
        ):
            checkpoint(spark.range(5))
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


@pytest.fixture(params=["local", "reliable"])
def mode(request, spark):
    """Run a test once on the localCheckpoint default and once in
    reliable mode."""
    if request.param == "reliable":
        request.getfixturevalue("reliable")
    return request.param


@pytest.mark.parametrize("rows", [0, 37])
def test_materialize_counts_rows(spark, mode, rows):
    """``materialize`` returns the checkpointed frame with the row count
    ``count()`` gives, for a non-empty and an empty post-shuffle frame
    (the shape of a fired-alerts frame)."""
    df = spark.range(rows).selectExpr("id % 50 AS k").groupBy("k").count()
    out, n = materialize(df)
    assert n == df.count() == rows
    assert out.count() == rows
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_materialize_runs_no_more_jobs_than_checkpoint(spark, mode, jobs_in_group):
    """The row count is an observed metric of the checkpoint job itself:
    ``materialize`` runs no job beyond what ``checkpoint`` of the same
    frame runs, on a non-empty and on an empty result."""

    def fired(cut):
        return (
            spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count()
            .where(f"k >= {cut}")
        )

    for cut in (0, 7):
        plain = jobs_in_group(f"ckpt-{mode}-{cut}", lambda: checkpoint(fired(cut)))
        counted = jobs_in_group(
            f"materialize-{mode}-{cut}", lambda: materialize(fired(cut))
        )
        assert plain >= 1
        assert counted <= plain


def test_engine_pass_fails_fast_on_misconfigured_reliable_mode(
    spark, events, tmp_path, monkeypatch
):
    """reliableCheckpoint=true without a checkpoint dir must ABORT the
    pass at entry — not drown in the per-rule scan swallows, where it
    would silently persist zero alerts per tick (threshold) or be
    misread as absence-of-evidence (a FALSE deadman)."""
    from pyspark import SparkContext

    from alerta_spark.ckpt import ReliableCheckpointMisconfigured

    monkeypatch.setattr(
        SparkContext, "getCheckpointDir", lambda self: None
    )
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        rules = load_rules("rules/*alert.yml")
        engine = Engine(spark, str(tmp_path / "store"))
        with pytest.raises(ReliableCheckpointMisconfigured):
            engine.run_once(events, rules)
        # nothing was persisted: the pass aborted before any rule ran
        assert engine.alerts.docs() == []
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def test_reliable_checkpoint_writes_to_dir_and_preserves_rows(
    spark, reliable
):
    df = checkpoint(spark.range(100).selectExpr("id", "id * 2 AS y"))
    assert df.count() == 100
    assert df.selectExpr("sum(y)").collect()[0][0] == 9900
    # the reliable path persisted blocks into the checkpoint dir
    found = any(files for _, _, files in os.walk(reliable))
    assert found, "reliable mode must write checkpoint files"


def test_engine_pass_runs_in_reliable_mode(spark, events, tmp_path, reliable):
    """Full engine pass (threshold + deadman + sequence emission paths
    all route through ckpt.checkpoint) under reliable mode — results
    must match the local-mode semantics."""
    rules = load_rules("rules/*alert.yml")
    engine = Engine(spark, str(tmp_path / "store"))
    engine.run_once(events, rules)
    names = {a["alert_name"] for a in engine.alerts.docs()}
    assert "big_purchases" in names
    assert "missing_heartbeat" in names


def test_cleaner_warning_fires_once_per_session(
    spark, reliable, caplog, monkeypatch
):
    """validate() runs at every engine pass entry; the missing-cleaner
    warning must be memoized per applicationId or reliable mode logs
    one warning per cron tick."""
    import logging

    from alerta_spark import ckpt

    ckpt._CLEANER_WARNED.discard(spark.sparkContext.applicationId)
    # the test session enables the real cleaner conf (session.py) and
    # core confs cannot be modified at runtime — point validate() at
    # an unset key so its conf.get defaults to "false" and the warning
    # branch runs
    monkeypatch.setattr(
        ckpt, "CLEANER_CONF", "spark.alerta.test.unsetCleanerConf"
    )
    try:
        with caplog.at_level(logging.WARNING, logger="alerta_spark.ckpt"):
            ckpt.validate(spark)
            ckpt.validate(spark)
            ckpt.validate(spark)
    finally:
        ckpt._CLEANER_WARNED.discard(spark.sparkContext.applicationId)
    hits = [
        r for r in caplog.records if "checkpoint dir grows" in r.getMessage()
    ]
    assert len(hits) == 1
