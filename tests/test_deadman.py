"""Deadman semantics: fires on absence, including empty input
(reference: tests/test_alerts.py:240-276 and alerta.py:358-410)."""

from pyspark.sql import Observation
from pyspark.sql import functions as F

from alerta_spark.operators.deadman import absent_alert, deadman_alerts

RULE = {
    "alert_name": "expected_logins_missing",
    "alert_type": "deadman",
    "criteria": "source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin'",
    "threshold": 0,
    "aggregation_key": "details.useridentity.type",
    "summary": "Expected events not found: {{metadata.value}} count={{metadata.count}}",
}


def test_no_alert_when_events_present(cloudtrail_events):
    # 2 matching events > threshold 0 -> no absence alert
    assert deadman_alerts(cloudtrail_events, RULE).count() == 0


def test_fires_on_empty_scan(cloudtrail_events):
    rule = dict(RULE, criteria="source='nonexistent'")
    alerts = deadman_alerts(cloudtrail_events, rule).collect()
    assert len(alerts) == 1
    a = alerts[0]
    assert a["metadata"]["count"] == 0
    # synthesized group value is the aggregation key itself (alerta.py:384-386)
    assert a["metadata"]["value"] == rule["aggregation_key"]
    assert a["events"] == []
    assert "deadman" in a["tags"]
    assert "count=0" in a["summary"]


def test_fires_per_group_at_or_below_threshold(cloudtrail_events):
    rule = dict(RULE, threshold=5)  # 2 events <= 5 -> fires for the group
    alerts = deadman_alerts(cloudtrail_events, rule).collect()
    assert len(alerts) == 1
    assert alerts[0]["metadata"]["value"] == "Root"
    assert alerts[0]["metadata"]["count"] == 2


def _observed(df, rule):
    groups = Observation()
    rows = deadman_alerts(df, rule, groups=groups).collect()
    return rows, groups.get["groups"]


def test_observed_group_count_replaces_the_synthesized_row(cloudtrail_events):
    """With ``groups``, the aggregate's group count is observed on the
    frame's own job and the synthesized row is left out — including the
    inputs where the optimizer knows the aggregate is empty."""
    spark = cloudtrail_events.sparkSession
    empty_local = spark.createDataFrame([], cloudtrail_events.schema)
    for df, rule in (
        (cloudtrail_events, dict(RULE, criteria="1 = 0")),
        (cloudtrail_events.where(F.lit(False)), RULE),
        (empty_local, RULE),
        (cloudtrail_events, dict(RULE, criteria="source='nonexistent'")),
    ):
        assert _observed(df, rule) == ([], 0)
    rows, n_groups = _observed(cloudtrail_events, dict(RULE, threshold=5))
    assert n_groups == 1
    assert [(a["metadata"]["value"], a["metadata"]["count"]) for a in rows] == [
        ("Root", 2)
    ]
    # groups above threshold are counted but do not fire
    assert _observed(cloudtrail_events, RULE) == ([], 1)


def test_absent_alert_is_the_lazy_synthesized_row(cloudtrail_events):
    """``absent_alert`` builds the same document the one-frame
    composition synthesizes on an empty scan, without evaluating the
    criteria (a broken one still yields the row)."""
    rule = dict(
        RULE, criteria="source='nonexistent'", utctimestamp="2026-01-01T00:00:00"
    )
    [lazy] = deadman_alerts(cloudtrail_events, rule).collect()
    [direct] = absent_alert(cloudtrail_events, rule).collect()
    assert direct == lazy
    [broken] = absent_alert(cloudtrail_events, dict(rule, criteria="((( no")).collect()
    assert broken["metadata"].asDict() == {"value": RULE["aggregation_key"], "count": 0}
    assert broken["criteria"] == "((( no"
