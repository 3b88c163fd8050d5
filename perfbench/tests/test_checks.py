"""Each output check passes on outputs that agree with its model and
fails when one output is corrupted. Pure Python: no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.models import (  # noqa: E402
    check_lake,
    check_threshold,
    threshold_model,
)
from perfbench.workloads import _threshold_rules  # noqa: E402


def _event_doc(e):
    """An event as the program stores it inside an alert document."""
    return {"event_id": e[0], "ts": e[1], "source": e[2], "details": json.dumps(e[3])}


def _engine_ticks(n=2, seed=7):
    batches, hosts = gen.engine_batches(seed, n + 1)
    return [batches[t - 1] + batches[t] for t in range(1, n + 1)], hosts


# ---------------------------------------------------------------- threshold


def _threshold_case():
    ticks, hosts = _engine_ticks()
    rules = _threshold_rules(hosts[0])
    model = threshold_model(ticks, rules)
    by_id = {e[0]: e for events in ticks for e in events}
    alerts = [
        [
            {
                "alert_name": name,
                "metadata": {"value": key, "count": count},
                "events": [_event_doc(by_id[i]) for i in ids],
            }
            for name, key, count, ids in fired
        ]
        for fired in model
    ]
    thresholds = {r.name: (r.kind, r.threshold) for r in rules}
    return model, alerts, thresholds


def test_threshold_model_fires_every_rule_kind():
    model, _, _ = _threshold_case()
    names = {f[0] for fired in model for f in fired}
    assert names == {"login_burst", "login_burst_h0", "heartbeat_silence"}
    # the overlapping rule only sees events the first one left over
    assert all(f[2] < 6 for fired in model for f in fired if f[0] == "login_burst_h0")


def test_threshold_check_accepts_matching_outputs():
    model, alerts, thr = _threshold_case()
    assert check_threshold(model, alerts, thr) == []


def test_threshold_check_catches_a_missing_alert():
    model, alerts, thr = _threshold_case()
    alerts[1].pop()
    assert check_threshold(model, alerts, thr)


def test_threshold_check_catches_a_wrong_count():
    model, alerts, thr = _threshold_case()
    doc = next(d for d in alerts[0] if d["alert_name"] == "login_burst")
    doc["metadata"]["count"] += 1
    assert check_threshold(model, alerts, thr)


def test_threshold_check_catches_a_realerted_event():
    model, alerts, thr = _threshold_case()
    first = next(d for d in alerts[0] if d["events"])
    later = copy.deepcopy(first)
    later["alert_name"] = "login_burst"
    alerts[1].append(later)
    problems = check_threshold(model, alerts, thr)
    assert any("two alerts" in p for p in problems)


def test_threshold_check_catches_a_count_below_threshold():
    model, alerts, thr = _threshold_case()
    doc = next(d for d in alerts[0] if d["alert_name"] == "login_burst")
    doc["metadata"]["count"] = 1
    assert any("below threshold" in p for p in check_threshold(model, alerts, thr))


# --------------------------------------------------------------------- lake


def test_lake_check_catches_a_different_hash():
    oracle = {"q": (["a", "b"], "0123abcd", 10)}
    assert check_lake({"q": (["a", "b"], "0123abcd", 10)}, oracle) == []
    assert check_lake({"q": (["a", "b"], "ffffffff", 10)}, oracle)
    assert check_lake({}, oracle)


# --------------------------------------------------------------- lake input


def test_lake_events_follow_the_seed_and_the_test_lake_profile():
    a, b = gen.lake_events(3), gen.lake_events(3)
    assert a.equals(b)
    assert not a.equals(gen.lake_events(4))
    assert a.num_rows == 10_000
    assert len(set(a.column("user_id").to_pylist())) == 150
    ts = a.column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert set(a.column("event_type").to_pylist()) == {
        "signup", "view", "click", "purchase", "error"
    }
