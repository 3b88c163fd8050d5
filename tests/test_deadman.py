"""Deadman semantics: fires on absence, including empty input
(reference: tests/test_alerts.py:240-276 and alerta.py:358-410)."""

from alerta_spark.operators.deadman import deadman_alerts

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
