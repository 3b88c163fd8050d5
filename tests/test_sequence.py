"""Sequence state machine, batch mode — mirrors the reference's
end-to-end tests (tests/test_alerts.py:278-342 threshold sequence;
345-435 threshold→deadman incl. cross-slot criteria templating)."""

import json
from datetime import timedelta

import pytest

from alerta_spark.engine import Engine
from alerta_spark.operators.sequence import (
    first_unfilled_slot,
    process_sequence_slot_batched,
)
from alerta_spark.operators.sequence_frames import finalize_sequences_frames
from alerta_spark.rules import sequence_shell, utcnow
from alerta_spark.templates import render_py


def _onelogin_events(spark, rows):
    from pyspark.sql import functions as F

    data = [
        {
            "event_id": i,
            "ts": f"2026-01-01 00:0{i}:00",
            "source": "onelogin",
            "details": json.dumps(d),
        }
        for i, d in enumerate(rows)
    ]
    df = spark.createDataFrame(data)
    return df.withColumn("ts", F.to_timestamp("ts")).select(
        "event_id", "ts", "source", "details"
    )


RISKY = {
    "risk_score": "95",
    "risk_reasons": "Infrequent access from this location",
    "user_name": "alice",
    "sourceipaddress": "1.2.3.4",
}

SEQ_RULE = {
    "alert_name": "multiple_risky_logins",
    "alert_type": "sequence",
    "lifespan": "7 days",
    "severity": "INFO",
    "summary": "Multiple risky logins by {{slots.0.events.0.details.user_name}}",
    "category": "authentication",
    "tags": ["login"],
    "slots": [
        {
            "alert_name": "risky_login_1",
            "alert_type": "threshold",
            "criteria": (
                "source='onelogin' AND CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80 "
                "AND position('Defaulted' IN json_extract_scalar(details,'$.risk_reasons'))=0"
            ),
            "summary": "risky login by {{events.0.details.user_name}}",
            "event_snippet": "",
            "aggregation_key": "details.user_name",
            "threshold": 1,
            "event_sample_count": 5,
        },
        {
            "alert_name": "risky_login_2",
            "alert_type": "threshold",
            "criteria": (
                "source='onelogin' AND CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80 "
                "AND json_extract_scalar(details,'$.user_name')='{{slots.0.events.0.details.user_name}}'"
            ),
            "summary": "repeat risky login by {{events.0.details.user_name}}",
            "event_snippet": "",
            "aggregation_key": "details.user_name",
            "threshold": 1,
            "event_sample_count": 5,
        },
    ],
}


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"), id_col="event_id", ts_col="ts")


def test_sequence_two_runs_completes(spark, engine):
    # run 1: slot 0 fires for alice
    ev1 = _onelogin_events(spark, [RISKY])
    engine.run_once(ev1, [SEQ_RULE])
    inflight = engine.inflight.docs()
    assert len(inflight) == 1
    idx, slot = first_unfilled_slot(inflight[0])
    assert idx == 1  # slot 0 filled
    assert inflight[0]["slots"][0]["metadata"]["value"] == "alice"

    # cross-slot templating: slot 1 criteria renders alice in (alerta.py:291)
    rendered = render_py(slot["criteria"], inflight[0])
    assert "='alice'" in rendered

    # run 2: a NEW alice event fires slot 1 -> sequence completes
    ev2 = _onelogin_events(spark, [dict(RISKY, sourceipaddress="9.9.9.9")])
    # distinct event id so F9 inflight-dedup doesn't eat it
    from pyspark.sql import functions as F

    ev2 = ev2.withColumn("event_id", F.col("event_id") + 100)
    engine.run_once(ev2, [SEQ_RULE])

    assert engine.inflight.docs() == []  # state removed
    alerts = engine.alerts.docs()
    assert len(alerts) == 1
    assert alerts[0]["summary"] == "Multiple risky logins by alice"
    assert all("events" in s for s in alerts[0]["slots"])


def test_sequence_inflight_dedup_blocks_same_event(spark, engine):
    ev1 = _onelogin_events(spark, [RISKY])
    engine.run_once(ev1, [SEQ_RULE])
    # same event again: F9 removes it, slot 1 must NOT fire
    engine.run_once(ev1, [SEQ_RULE])
    inflight = engine.inflight.docs()
    # still one in-flight alert waiting on slot 1 (plus no completion)
    assert engine.alerts.docs() == []
    assert any(first_unfilled_slot(d)[0] == 1 for d in inflight)


def test_sequence_threshold_then_deadman(spark, engine):
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["slots"][1] = {
        "alert_name": "then_silence",
        "alert_type": "deadman",
        "criteria": "source='onelogin' AND json_extract_scalar(details,'$.user_name')='{{slots.0.events.0.details.user_name}}'",
        "summary": "user went quiet",
        "aggregation_key": "details.user_name",
        "threshold": 0,
        "event_sample_count": 0,
    }
    ev1 = _onelogin_events(spark, [RISKY])
    engine.run_once(ev1, [rule])
    assert len(engine.inflight.docs()) == 1

    # run 2 with NO matching events -> deadman slot fires -> completes
    empty = _onelogin_events(spark, [dict(RISKY, user_name="bob")]).where(
        "source='nope'"
    )
    engine.run_once(empty, [rule])
    alerts = engine.alerts.docs()
    assert len(alerts) == 1
    assert alerts[0]["slots"][1]["metadata"]["count"] == 0


def test_finalize_completed_and_expired_emits(spark, engine):
    """finalize_sequences_frames order semantics: a document that is
    BOTH fully slotted and past expiration EMITS (create ran before
    expire in the reference loop) — and expiry still reaps the
    incomplete."""
    done = sequence_shell(json.loads(json.dumps(SEQ_RULE)))
    done["expiration"] = "2020-01-01T00:00:00+00:00"  # long past
    for s in done["slots"]:
        s["triggered"] = True
        s["events"] = [
            {"event_id": "1", "details": json.dumps({"user_name": "alice"})}
        ]
        s["metadata"] = {"value": "alice", "count": 1}
    stale = sequence_shell(json.loads(json.dumps(SEQ_RULE)))
    stale["expiration"] = "2020-01-01T00:00:00+00:00"
    engine.inflight.upsert_many([done, stale])

    n_done, n_dropped = finalize_sequences_frames(
        engine.inflight, engine.alerts, spill_store=engine.slot_events
    )
    assert (n_done, n_dropped) == (1, 1)
    [alert] = engine.alerts.docs()
    assert alert["summary"] == "Multiple risky logins by alice"
    assert engine.inflight.docs() == []


def test_expiry_reaps_state(spark, engine):
    doc = sequence_shell(dict(SEQ_RULE, lifespan="1 hours"))
    engine.inflight.upsert(doc)
    assert finalize_sequences_frames(
        engine.inflight, engine.alerts, now=utcnow()
    ) == (0, 0)
    assert finalize_sequences_frames(
        engine.inflight, engine.alerts, now=utcnow() + timedelta(days=1)
    ) == (0, 1)
    assert engine.inflight.docs() == []


def test_sequence_expiry_honours_eval_time(spark, engine):
    """``eval_time`` is the instant a pass starts and expires
    sequences at: a 1-day sequence started at t is reaped by a pass
    at t + 30 days, whatever the wall clock reads."""
    from datetime import datetime, timezone

    rule = json.loads(json.dumps(SEQ_RULE))
    rule["lifespan"] = "1 days"
    t = datetime(2026, 1, 1, tzinfo=timezone.utc)
    ev = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in ("a1", "a2", "a3")]
    )
    engine.run_once(ev, [rule], eval_time=t)
    started = engine.inflight.docs()
    assert len(started) == 3
    assert {d["utctimestamp"] for d in started} == {t.isoformat()}
    engine.run_once(ev.limit(0), [rule], eval_time=t + timedelta(days=30))
    assert engine.inflight.docs() == []
    assert engine.alerts.docs() == []


@pytest.mark.parametrize(
    "slot1",
    [
        "((( not sql",  # per-document fallback
        # templated equality: the batched fallback, broken static part
        "((( not sql AND json_extract_scalar(details,'$.user_name')="
        "'{{slots.0.events.0.details.user_name}}'",
    ],
    ids=["document", "group"],
)
def test_broken_resume_slot_is_isolated(spark, engine, slot1):
    """A sequence whose later slot criteria does not parse is logged
    and left in flight unchanged on every pass; the threshold rule of
    the same pass still writes its alert."""
    from pyspark.sql import functions as F

    seq = json.loads(json.dumps(SEQ_RULE))
    seq["slots"][1]["criteria"] = slot1
    thr = {
        "alert_name": "onelogin_by_user",
        "alert_type": "threshold",
        "criteria": "source='onelogin'",
        "aggregation_key": "details.user_name",
        "threshold": 1,
    }
    engine.run_once(_onelogin_events(spark, [RISKY]), [seq, thr])
    waiting = engine.inflight.docs()
    assert len(waiting) == 1 and first_unfilled_slot(waiting[0])[0] == 1

    ev2 = _onelogin_events(spark, [RISKY]).withColumn(
        "event_id", F.col("event_id") + 100
    )
    engine.run_once(ev2, [seq, thr])
    fired = sorted(
        e["event_id"]
        for a in engine.alerts.docs()
        if a["alert_name"] == "onelogin_by_user"
        for e in a["events"]
    )
    assert fired == [0, 100]
    # event 100 also starts a second sequence; the first one waits on
    # slot 1 exactly as it did
    after = engine.inflight.docs()
    assert waiting[0] in after
    assert all(first_unfilled_slot(d)[0] == 1 for d in after)


def test_threshold_and_deadman_stamped_with_eval_time(spark, engine):
    """Threshold and deadman alerts written by a pass carry the pass's
    ``eval_time`` as ``utctimestamp``, not the wall clock."""
    from datetime import datetime, timezone

    t = datetime(2025, 6, 1, 12, 0, tzinfo=timezone.utc)
    rules = [
        {
            "alert_name": "onelogin_by_user",
            "alert_type": "threshold",
            "criteria": "source='onelogin'",
            "aggregation_key": "details.user_name",
            "threshold": 1,
        },
        {
            "alert_name": "no_okta",
            "alert_type": "deadman",
            "criteria": "source='okta'",
        },
    ]
    engine.run_once(_onelogin_events(spark, [RISKY]), rules, eval_time=t)
    alerts = engine.alerts.docs()
    assert sorted(a["alert_name"] for a in alerts) == [
        "no_okta", "onelogin_by_user",
    ]
    assert {a["utctimestamp"] for a in alerts} == {t.isoformat()}


def _deadman_first_rule():
    """A sequence whose slot 0 is a deadman (started by the per-rule
    loop) and whose slot 1 is an untemplated threshold (resumed by the
    per-document path)."""
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["alert_name"] = "quiet_then_login"
    rule["summary"] = "quiet, then a risky login"
    rule["slots"][0] = {
        "alert_name": "no_heartbeat",
        "alert_type": "deadman",
        "criteria": "source='heartbeat'",
        "aggregation_key": "details.user_name",
        "threshold": 0,
        "summary": "no heartbeat",
    }
    rule["slots"][1]["criteria"] = "source='onelogin'"
    return rule


def _threshold_then_deadman_rule():
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["slots"][1] = {
        "alert_name": "then_silence",
        "alert_type": "deadman",
        "criteria": "source='onelogin' AND json_extract_scalar(details,'$.user_name')='{{slots.0.events.0.details.user_name}}'",
        "summary": "user went quiet",
        "aggregation_key": "details.user_name",
        "threshold": 0,
        "event_sample_count": 0,
    }
    return rule


@pytest.mark.parametrize(
    "make_rule",
    [
        lambda: SEQ_RULE,  # frame-tier starts and resume
        _threshold_then_deadman_rule,  # frame-tier deadman resume face
        lambda: _fallback_rule(),  # per-document resume (defined below)
        _deadman_first_rule,  # per-rule start, per-document resume
    ],
    ids=["frames", "frames_deadman", "document", "rule_loop"],
)
def test_sequence_slots_stamped_with_eval_time(spark, engine, make_rule):
    """Each fired slot carries the ``utctimestamp`` of the pass that
    fired it: slot 0 the first pass's ``eval_time``, slot 1 the
    second's — not the wall clock."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    t1 = datetime(2025, 6, 1, 12, 0, tzinfo=timezone.utc)
    t2 = t1 + timedelta(minutes=15)
    rule = make_rule()
    engine.run_once(_onelogin_events(spark, [RISKY]), [rule], eval_time=t1)
    [waiting] = engine.inflight.docs()
    assert waiting["slots"][0]["utctimestamp"] == t1.isoformat()

    ev2 = _onelogin_events(spark, [RISKY]).withColumn(
        "event_id", F.col("event_id") + 100
    )
    if rule["slots"][1]["alert_type"] == "deadman":
        ev2 = ev2.limit(0)
    engine.run_once(ev2, [rule], eval_time=t2)
    [done] = engine.alerts.docs()
    assert [s["utctimestamp"] for s in done["slots"]] == [
        t1.isoformat(), t2.isoformat(),
    ]


def test_batched_resume_stamps_slots_with_now(spark, engine):
    """The batched resume path stamps the slots it fires with the
    instant it is given."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    t = datetime(2025, 6, 1, 12, 15, tzinfo=timezone.utc)
    users = ["u1", "u2"]
    engine.run_once(
        _onelogin_events(spark, [dict(RISKY, user_name=u) for u in users]),
        [SEQ_RULE],
    )
    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in users]
    ).withColumn("event_id", F.col("event_id") + 500)
    pending = []
    leftover = process_sequence_slot_batched(
        ev2, engine.inflight.docs(), 1, engine.inflight, engine.alerts,
        spill_store=engine.slot_events, collect_updates=pending, now=t,
    )
    assert leftover == [] and len(pending) == 2
    assert {d["slots"][1]["utctimestamp"] for d in pending} == {t.isoformat()}


def test_compile_templated_criteria_reference_shapes():
    from alerta_spark.operators.sequence import compile_templated_criteria

    # the reference's multiple_risky_logins slot 2 shape
    c = (
        "source='onelogin' AND CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80 "
        "AND json_extract_scalar(details,'$.user_name')='{{slots.0.events.0.details.user_name}}'"
    )
    static, key_path, tmpl = compile_templated_criteria(c)
    assert key_path == "details.user_name"
    assert tmpl == "slots.0.events.0.details.user_name"
    assert "risk_score" in static and "{{" not in static

    # bare column and CAST shapes
    assert compile_templated_criteria(
        "event_type='error' AND CAST(user_id AS STRING)='{{slots.0.metadata.value}}'"
    )[1] == "user_id"
    # non-templated criteria -> None
    assert compile_templated_criteria("source='x'") is None
    # two templated conjuncts -> not batchable on the SINGLE-variable
    # driver path, but the multi compiler serves the frame tier
    assert compile_templated_criteria(
        "a='{{x}}' AND b='{{y}}'"
    ) is None


def test_compile_templated_criteria_multi_shapes():
    from alerta_spark.operators.sequence import (
        compile_templated_criteria_multi,
        criteria_segments,
    )

    c = (
        "source='onelogin' AND a='{{slots.0.x}}' AND "
        "json_extract_scalar(details,'$.ip')='{{slots.0.y}}'"
    )
    static, keys, tmpls = compile_templated_criteria_multi(c)
    assert static == "source='onelogin'"
    assert keys == ["a", "details.ip"]
    assert tmpls == ["slots.0.x", "slots.0.y"]
    # segments reassemble render_py: segs[0]+v0+segs[1]+v1+segs[2]
    segs = criteria_segments(c, 2)
    assert len(segs) == 3
    from alerta_spark.templates import render_py

    doc = {"slots": [{"x": "V1", "y": "V2"}]}
    assert (
        segs[0] + "V1" + segs[1] + "V2" + segs[2] == render_py(c, doc)
    )
    # REVERSED operands compile too (SQL equality is symmetric):
    # literal-left bare column, CAST, and json_extract_scalar forms
    rev = (
        "'{{slots.0.x}}'=a AND "
        "'{{slots.0.y}}' = CAST(b AS STRING) AND "
        "'{{slots.0.z}}'=json_extract_scalar(details,'$.ip')"
    )
    static_r, keys_r, tmpls_r = compile_templated_criteria_multi(rev)
    assert static_r == ""
    assert keys_r == ["a", "b", "details.ip"]
    assert tmpls_r == ["slots.0.x", "slots.0.y", "slots.0.z"]
    # a conjunct whose template is not a supported equality poisons
    # the whole compile (falls back per-document)
    assert compile_templated_criteria_multi(
        "a='{{x}}' AND b LIKE '{{y}}%'"
    ) is None
    # ...including a template inside a function call (the scale
    # bench's residual-fallback shape)
    assert compile_templated_criteria_multi(
        "concat('{{x}}','')=json_extract_scalar(details,'$.u')"
    ) is None
    # two variables inside ONE conjunct is not an equality shape
    assert compile_templated_criteria_multi("a='{{x}}{{y}}'") is None
    # wrong variable count -> segments refuses
    assert criteria_segments(c, 3) is None


def test_batched_slot_advance_many_docs(spark, engine):
    """10 in-flight alerts waiting on the same slot advance with one
    scan (SURVEY.md §7.4-1) and route fired groups to the right doc."""
    users = [f"u{i}" for i in range(10)]
    # seed: slot 0 filled per user
    ev1 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in users]
    )
    engine.run_once(ev1, [SEQ_RULE])
    inflight = engine.inflight.docs()
    assert len(inflight) == 10

    # new events for only 4 users -> only their slot 1 fires
    hit = {"u1", "u3", "u5", "u7"}
    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in sorted(hit)]
    )
    from pyspark.sql import functions as F

    ev2 = ev2.withColumn("event_id", F.col("event_id") + 500)

    # the batched semi-join path serves every one of these docs
    # (leftover == []); the per-document loop is its fallback only
    leftover = process_sequence_slot_batched(
        ev2, inflight, 1, engine.inflight, engine.alerts,
        spill_store=engine.slot_events,
    )
    assert leftover == []
    finalize_sequences_frames(
        engine.inflight, engine.alerts, spill_store=engine.slot_events
    )

    done = engine.alerts.docs()
    assert {d["slots"][0]["metadata"]["value"] for d in done} == hit
    still = engine.inflight.docs()
    assert {d["slots"][0]["metadata"]["value"] for d in still} == set(users) - hit


def _strip_volatile(doc):
    """Drop generated ids/timestamps for doc equivalence comparison."""
    d = json.loads(json.dumps(doc))

    def walk(x):
        if isinstance(x, dict):
            x.pop("_id", None)
            x.pop("utctimestamp", None)
            x.pop("utcepoch", None)
            x.pop("expiration", None)
            x.pop("_events_ref", None)  # random per-capture spill ref
            for v in x.values():
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)

    walk(d)
    return d


def _pin_docs(docs):
    """Volatile-stripped documents in a stable order, as pinned."""
    return sorted(
        (_strip_volatile(d) for d in docs),
        key=lambda d: json.dumps(d, sort_keys=True),
    )


def _seq_rules():
    """Three fusable sequence rules (template-free threshold slot 0,
    overlapping criteria, different thresholds) plus one UNfusable
    rule (deadman slot 0) to exercise the fallback route."""
    rules = []
    for name, score, thr in (
        ("seq_low", 50, 1),
        ("seq_mid", 80, 2),
        ("seq_high", 99, 1),
    ):
        r = json.loads(json.dumps(SEQ_RULE))
        r["alert_name"] = name
        r["slots"][0]["criteria"] = (
            "source='onelogin' AND CAST(json_extract_scalar("
            f"details,'$.risk_score') as INTEGER)>{score}"
        )
        r["slots"][0]["threshold"] = thr
        rules.append(r)
    dm = json.loads(json.dumps(SEQ_RULE))
    dm["alert_name"] = "seq_deadman_first"
    dm["slots"][0] = {
        "alert_name": "no_heartbeat",
        "alert_type": "deadman",
        "criteria": "source='heartbeat'",
        "aggregation_key": "details.user_name",
        "threshold": 0,
        "summary": "no heartbeat",
    }
    rules.append(dm)
    return rules


def test_sequence_starts_fused_matches_sequential(spark, tmp_path, pinned):
    """The frame-tier starts pass spawns the in-flight documents the
    per-rule loop and the fused pass agreed on (modulo generated
    ids/timestamps) — including the unfusable deadman-slot rule, which
    must route through the faithful per-rule fallback."""
    rows = [
        dict(RISKY, user_name="alice", risk_score="95"),
        dict(RISKY, user_name="alice", risk_score="85"),
        dict(RISKY, user_name="bob", risk_score="60"),
        dict(RISKY, user_name="carol", risk_score="100"),
    ]
    rules = _seq_rules()

    fus_eng = Engine(spark, str(tmp_path / "fus"), id_col="event_id", ts_col="ts")
    fus_eng.run_once(_onelogin_events(spark, rows), rules)

    pinned("sequence.starts.inflight", _pin_docs(fus_eng.inflight.docs()))
    pinned("sequence.starts.alerts", _pin_docs(fus_eng.alerts.docs()))
    # sanity on content, not just the pins — the INTRA-PASS dedup
    # interaction is the hard part of the equivalence: seq_low runs
    # first and captures alice's, bob's, and carol's matching events,
    # so seq_mid/seq_high (whose criteria overlap) find those events
    # already in-flight and must NOT fire, exactly as the sequential
    # loop behaves. The deadman-slot rule routes through the fallback
    # and still spawns its shell.
    vals = {
        (d["alert_name"], d["slots"][0]["metadata"]["value"])
        for d in fus_eng.inflight.docs()
        if "metadata" in d["slots"][0]
    }
    assert ("seq_low", "alice") in vals
    assert ("seq_low", "bob") in vals
    assert ("seq_low", "carol") in vals
    assert not any(n == "seq_mid" and v != "details.user_name" for n, v in vals)
    assert not any(n == "seq_high" and v != "details.user_name" for n, v in vals)
    assert any(n == "seq_deadman_first" for n, _ in vals)


def test_sequence_fused_frame_is_single_scan(spark, events):
    """N fused sequence slots must cost ONE parquet scan (the fusion
    contract): the conditional-aggregate frame's physical plan reads
    the events table exactly once, with no nested-loop join."""
    from alerta_spark.operators.threshold import fused_grouped
    from alerta_spark.rules import threshold_shell

    shells = [
        threshold_shell(
            {
                "alert_name": f"slot{i}",
                "criteria": f"event_type='{et}'",
                "aggregation_key": "user_id",
                "threshold": 1,
            }
        )
        for i, et in enumerate(["purchase", "error", "login"])
    ]
    frame = fused_grouped(events, shells)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_resume_fused_matches_sequential(spark, tmp_path, pinned):
    """Pass 2 must advance MANY rules' slot-1 in-flight docs through
    ONE shared frame-tier scan and write the documents the per-group
    batched loop and the fused resume agreed on."""

    def mk_rule(name):
        r = json.loads(json.dumps(SEQ_RULE))
        r["alert_name"] = name
        return r

    rules = [mk_rule("seq_r1"), mk_rule("seq_r2")]
    users = ["u1", "u2", "u3", "u4"]
    ev1 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in users]
    )
    from pyspark.sql import functions as F

    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in ("u1", "u3")]
    ).withColumn("event_id", F.col("event_id") + 500)

    import alerta_spark.engine as engmod

    calls = []
    orig = engmod.resume_fused_frames

    def spy(*a, **k):
        out = orig(*a, **k)
        calls.append(out)
        return out

    engmod.resume_fused_frames = spy
    try:
        fus = Engine(
            spark, str(tmp_path / "st"), id_col="event_id", ts_col="ts"
        )
        fus.run_once(ev1, rules)
        fus.run_once(ev2, rules)
    finally:
        engmod.resume_fused_frames = orig

    pinned("sequence.resume.inflight", _pin_docs(fus.inflight.docs()))
    pinned("sequence.resume.alerts", _pin_docs(fus.alerts.docs()))
    # the frame tier actually served every group (nothing fell back)
    assert calls and all(unfused == [] and stray == [] for unfused, stray in calls)
    # content sanity: u1/u3 sequences completed, u2/u4 still waiting
    done = {d["slots"][0]["metadata"]["value"] for d in fus.alerts.docs()}
    assert done == {"u1", "u3"}
    waiting = {d["slots"][0]["metadata"]["value"] for d in fus.inflight.docs()}
    assert waiting == {"u2", "u4"}


def test_sequence_resume_fused_special_char_values(spark, tmp_path, pinned):
    """Captured values containing backslashes (DOMAIN\\user principals)
    or quotes must advance under the frame tier exactly like the
    batched path. Regression: the fused probe used to render values
    into a SQL IN literal where the parser ate backslash escapes, so
    'DOM\\alice' silently never advanced."""

    users = ["DOM\\alice", "o'brien", "plain_user"]
    ev1 = _onelogin_events(spark, [dict(RISKY, user_name=u) for u in users])
    from pyspark.sql import functions as F

    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in users]
    ).withColumn("event_id", F.col("event_id") + 500)

    import alerta_spark.engine as engmod

    calls = []
    orig = engmod.resume_fused_frames

    def spy(*a, **k):
        out = orig(*a, **k)
        calls.append(out)
        return out

    engmod.resume_fused_frames = spy
    try:
        fus = Engine(
            spark, str(tmp_path / "sc"), id_col="event_id", ts_col="ts"
        )
        fus.run_once(ev1, [SEQ_RULE])
        fus.run_once(ev2, [SEQ_RULE])
    finally:
        engmod.resume_fused_frames = orig

    pinned("sequence.special_chars.alerts", _pin_docs(fus.alerts.docs()))
    pinned("sequence.special_chars.inflight", _pin_docs(fus.inflight.docs()))
    # the frame tier served the group (no fallback hid the bug)
    assert calls and all(unfused == [] and stray == [] for unfused, stray in calls)
    done = {d["slots"][0]["metadata"]["value"] for d in fus.alerts.docs()}
    assert done == set(users)


def test_batched_resume_intra_pass_f9_across_groups(spark, tmp_path):
    """Two RULES whose slot-1 criteria match the same events, both
    in-flight: the first group's capture this pass must hide those
    events from the second group's scan (sequential-loop F9), and the
    deferred form must cost ONE state write regardless of group count
    (the groups collect updates; the caller writes them once)."""
    import alerta_spark.state as statemod

    def mk(name, kind):
        r = json.loads(json.dumps(SEQ_RULE))
        r["alert_name"] = name
        # disjoint slot-0 criteria (per-rule kind marker) so BOTH rules
        # get in-flight for alice; slot 1 (templated user equality)
        # then overlaps on the same pass-2 event
        r["slots"][0]["criteria"] = (
            f"source='onelogin' AND json_extract_scalar(details,'$.kind')='{kind}'"
        )
        return r

    rules = [mk("ga", 1), mk("gb", 2)]
    ev1 = _onelogin_events(
        spark, [dict(RISKY, kind="1"), dict(RISKY, kind="2")]
    )
    eng = Engine(spark, str(tmp_path / "store"), id_col="event_id", ts_col="ts")
    eng.run_once(ev1, rules)
    docs = eng.inflight.docs()
    assert len(docs) == 2  # both rules waiting on slot 1

    from pyspark.sql import functions as F

    ev2 = _onelogin_events(spark, [RISKY]).withColumn(
        "event_id", F.col("event_id") + 100
    )
    writes = []
    orig = statemod.DocStore.upsert_many

    def spy(self, docs):
        if docs and self.path.endswith("inflight_alerts"):
            writes.append(len(docs))
        return orig(self, docs)

    statemod.DocStore.upsert_many = spy
    try:
        captured: set[str] = set()
        pending: list[dict] = []
        for doc in docs:  # one (rule, slot) group per rule
            assert process_sequence_slot_batched(
                ev2, [doc], 1, eng.inflight, eng.alerts,
                spill_store=eng.slot_events,
                extra_alerted_ids=captured, collect_updates=pending,
            ) == []
        assert writes == []  # deferred: the groups wrote nothing
        eng.inflight.upsert_many(pending)
    finally:
        statemod.DocStore.upsert_many = orig
    finalize_sequences_frames(
        eng.inflight, eng.alerts, spill_store=eng.slot_events
    )

    alerts = eng.alerts.docs()
    done = {a["alert_name"] for a in alerts}
    waiting = {d["alert_name"] for d in eng.inflight.docs()}
    # event 100 can only be captured ONCE this pass: whichever group
    # ran first completes, the other stays in-flight (reference loop
    # semantics; group order follows the state scan, so either name)
    assert len(done) == 1 and len(waiting) == 1
    assert done | waiting == {"ga", "gb"}
    # the groups were advanced with ONE state write
    assert len(writes) == 1, writes


def test_batched_resume_one_write_for_many_groups(spark, tmp_path):
    """N (rule, slot) groups ALL firing through the batched path must
    cost ONE in-flight state write (the deferred-upsert form), not one
    table swap per group."""
    import alerta_spark.state as statemod

    def mk(name, user):
        r = json.loads(json.dumps(SEQ_RULE))
        r["alert_name"] = name
        r["slots"][0]["criteria"] = (
            "source='onelogin' AND "
            f"json_extract_scalar(details,'$.user_name')='{user}'"
        )
        return r

    # three rules, disjoint users: three in-flight docs on slot 1
    rules = [mk(f"r{u}", u) for u in ("ua", "ub", "uc")]
    ev1 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in ("ua", "ub", "uc")]
    )
    eng = Engine(spark, str(tmp_path / "store"), id_col="event_id", ts_col="ts")
    eng.run_once(ev1, rules)
    docs = eng.inflight.docs()
    assert len(docs) == 3

    from pyspark.sql import functions as F

    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in ("ua", "ub", "uc")]
    ).withColumn("event_id", F.col("event_id") + 100)

    writes = []
    orig = statemod.DocStore.upsert_many

    def spy(self, docs):
        if docs and self.path.endswith("inflight_alerts"):
            writes.append(len(docs))
        return orig(self, docs)

    statemod.DocStore.upsert_many = spy
    try:
        captured: set[str] = set()
        pending: list[dict] = []
        for doc in docs:  # one (rule, slot) group per rule
            assert process_sequence_slot_batched(
                ev2, [doc], 1, eng.inflight, eng.alerts,
                spill_store=eng.slot_events,
                extra_alerted_ids=captured, collect_updates=pending,
            ) == []
        eng.inflight.upsert_many(pending)
    finally:
        statemod.DocStore.upsert_many = orig
    finalize_sequences_frames(
        eng.inflight, eng.alerts, spill_store=eng.slot_events
    )

    assert {a["alert_name"] for a in eng.alerts.docs()} == {"rua", "rub", "ruc"}
    assert eng.inflight.docs() == []
    assert writes == [3], writes  # one write carrying all three groups


def test_large_probe_sets_route_to_semi_join(spark, tmp_path, monkeypatch):
    """The frame-native fused resume probes captured values via a
    broadcast semi-join frame — NO plan-size cap applies to it. The
    driver-side batched path (the unfusable-group fallback) still
    switches from an N-literal IN to a broadcast semi-join past
    ISIN_PROBE_MAX; both must produce identical results, including
    backslash-carrying values the Column build exists for."""
    import alerta_spark.operators.sequence as seqmod

    users = ["DOM\\u1", "u2", "u3", "u4", "u5"]
    ev1 = _onelogin_events(spark, [dict(RISKY, user_name=u) for u in users])
    from pyspark.sql import functions as F

    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in users[:3]]
    ).withColumn("event_id", F.col("event_id") + 500)

    big = Engine(spark, str(tmp_path / "probe_frame"), id_col="event_id", ts_col="ts")
    big.run_once(ev1, [SEQ_RULE])
    big.run_once(ev2, [SEQ_RULE])  # frame path: join probe, no cap

    # cap the batched path's IN budget so its resume exercises the
    # broadcast semi-join branch for all 5 values
    monkeypatch.setattr(seqmod, "ISIN_PROBE_MAX", 2)
    small = Engine(spark, str(tmp_path / "probe_semi_join"), id_col="event_id", ts_col="ts")
    small.run_once(ev1, [SEQ_RULE])
    docs = small.inflight.docs()
    # the capped run actually probes past the IN budget
    assert len(docs) > seqmod.ISIN_PROBE_MAX
    assert seqmod.process_sequence_slot_batched(
        ev2, docs, 1, small.inflight, small.alerts,
        spill_store=small.slot_events,
    ) == []
    finalize_sequences_frames(
        small.inflight, small.alerts, spill_store=small.slot_events
    )

    def canon(docs):
        return sorted(
            json.dumps(_strip_volatile(d), sort_keys=True) for d in docs
        )

    assert canon(small.alerts.docs()) == canon(big.alerts.docs())
    assert canon(small.inflight.docs()) == canon(big.inflight.docs())
    done = {d["slots"][0]["metadata"]["value"] for d in small.alerts.docs()}
    assert done == set(users[:3])


def test_inflight_state_is_slim(spark, engine):
    """The driver-resident in-flight document must carry event IDS and
    the template-referenced event ONLY; the full captured event array
    lives in the SlotEventStore keyed by the doc's ``_events_ref``
    (driver RSS must scale with in-flight COUNT, not event volume)."""
    ev = _onelogin_events(spark, [RISKY] * 6)  # 6 alice events, thr 1
    engine.run_once(ev, [SEQ_RULE])

    [doc] = engine.inflight.docs()
    slot0 = doc["slots"][0]
    events = slot0["events"]
    assert len(events) == 6
    # templates reference slots.0.events.0 only -> index 0 is full
    assert "details" in events[0] and "user_name" in str(events[0]["details"])
    # every other event is an id-only stub
    for e in events[1:]:
        assert set(e) == {"event_id"}
    # F9 dedup still sees every captured id
    ids = sorted(r["alerted_event_id"] for r in engine.inflight.alerted_ids().collect())
    assert ids == [str(i) for i in range(6)]
    # cross-slot templating still renders from the slim doc
    assert render_py("{{slots.0.events.0.details.user_name}}", doc) == "alice"
    # the full payload is in the spill table under the doc's ref
    ref = slot0["_events_ref"]
    [(cap, payload)] = [
        (r["capture_id"], r["events_json"])
        for r in engine.slot_events.frame().collect()
    ]
    assert cap == ref
    import json as _json

    full = _json.loads(payload)
    assert len(full) == 6 and all("details" in e for e in full)


def test_completion_rehydrates_and_prunes_spill(spark, tmp_path):
    """Completed sequences must emit documents with the FULL captured
    events (rehydrated executor-side from the spill table), drop the
    internal ``_events_ref`` marker, and — on the engine's compaction
    cadence — prune the spill rows their state no longer references."""
    from pyspark.sql import functions as F

    engine = Engine(
        spark, str(tmp_path / "store"), id_col="event_id", ts_col="ts",
        compact_every=2,  # pass 2 hits the cadence -> spill prune runs
    )
    ev1 = _onelogin_events(spark, [RISKY] * 4)
    engine.run_once(ev1, [SEQ_RULE])
    assert engine.slot_events.frame().count() == 1  # capture spilled
    ev2 = _onelogin_events(spark, [RISKY]).withColumn(
        "event_id", F.col("event_id") + 100
    )
    engine.run_once(ev2, [SEQ_RULE])

    assert engine.inflight.docs() == []
    [alert] = engine.alerts.docs()
    assert alert["summary"] == "Multiple risky logins by alice"
    s0, s1 = alert["slots"]
    assert len(s0["events"]) == 4 and len(s1["events"]) == 1
    for e in s0["events"] + s1["events"]:
        assert "details" in e and "ts" in e  # full payload, not a stub
    assert "_events_ref" not in s0 and "_events_ref" not in s1
    # nothing in-flight -> spill table pruned empty
    assert engine.slot_events.frame().count() == 0


def test_expiry_prunes_spill(spark, engine):
    ev = _onelogin_events(spark, [RISKY])
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["lifespan"] = "1 hours"
    engine.run_once(ev, [rule])
    assert engine.slot_events.frame().count() == 1
    assert finalize_sequences_frames(
        engine.inflight,
        engine.alerts,
        spill_store=engine.slot_events,
        now=utcnow() + timedelta(days=1),
    ) == (0, 1)
    assert engine.slot_events.frame().count() == 0


def test_spill_orphans_are_garbage_not_corruption(spark, tmp_path):
    """A crash between the spill append and the state upsert leaves
    ORPHAN spill rows (written first by design). They must be inert —
    never rehydrated into anyone's completion — and reaped by the
    cadence prune that keeps only live refs."""
    engine = Engine(
        spark, str(tmp_path / "store"), id_col="event_id", ts_col="ts",
        compact_every=2,
    )
    ev1 = _onelogin_events(spark, [RISKY])
    engine.run_once(ev1, [SEQ_RULE])
    # simulate the crash remnant: a spill row no document references
    orphan = spark.createDataFrame(
        [("deadbeef" * 4, '[{"event_id": "999", "details": "ghost"}]')],
        "capture_id string, events_json string",
    )
    engine.slot_events.append_frame(orphan)
    assert engine.slot_events.frame().count() == 2

    from pyspark.sql import functions as F

    ev2 = _onelogin_events(spark, [RISKY]).withColumn(
        "event_id", F.col("event_id") + 100
    )
    engine.run_once(ev2, [SEQ_RULE])  # completes + hits the cadence
    [alert] = engine.alerts.docs()
    # no ghost event leaked into the emitted document
    ids = {e["event_id"] for s in alert["slots"] for e in s["events"]}
    assert "999" not in {str(i) for i in ids}
    # orphan reaped with everything else (no live refs remain)
    assert engine.slot_events.frame().count() == 0


def test_keep_full_template_shape_falls_back(spark, engine):
    """A template that addresses slot events in a non-indexable way
    (whole-event reference) must keep FULL events in the driver doc —
    correctness beats slimming for exotic shapes."""
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["summary"] = "raw: {{slots.0.events.0}}"
    ev = _onelogin_events(spark, [RISKY] * 3)
    engine.run_once(ev, [rule])
    [doc] = engine.inflight.docs()
    events = doc["slots"][0]["events"]
    assert len(events) == 3
    assert all("details" in e for e in events)  # nothing slimmed
    assert "_events_ref" not in doc["slots"][0]


def test_engine_stream_fused_sequences_match_batch(spark, tmp_path):
    """T1 parity for sequences: run_stream(availableNow) executes the
    same cron body per micro-batch — one backlog batch must leave the
    same sequence state as a run_once over the same events."""
    ev = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in ("a1", "a2", "a3")]
    )
    src = str(tmp_path / "lake")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)

    s_eng = Engine(
        spark, str(tmp_path / "s_store"), id_col="event_id", ts_col="ts"
    )
    q = s_eng.run_stream(stream, [SEQ_RULE], str(tmp_path / "ck"))
    q.awaitTermination(120)

    b_eng = Engine(
        spark, str(tmp_path / "b_store"), id_col="event_id", ts_col="ts"
    )
    b_eng.run_once(ev, [SEQ_RULE])

    def canon(docs):
        return sorted(
            (json.dumps(_strip_volatile(d), sort_keys=True) for d in docs)
        )

    assert canon(s_eng.inflight.docs()) == canon(b_eng.inflight.docs())
    assert canon(s_eng.alerts.docs()) == canon(b_eng.alerts.docs())
    assert len(s_eng.inflight.docs()) == 3  # one in-flight doc per user


def test_referenced_indices_whole_array_reference():
    """{{slots.N.events}} (3-part path) must set keep_full, not raise
    IndexError (which aborted the whole pass)."""
    from alerta_spark.operators.sequence import _referenced_event_indices

    doc = {
        "slots": [{"criteria": "x = '{{slots.0.events}}'"}],
        "summary": "all: {{slots.0.events}}",
    }
    refs, keep_full = _referenced_event_indices(doc, 0)
    assert keep_full and refs == set()
    # indexed forms still slim
    doc2 = {
        "slots": [{"criteria": "u = '{{slots.0.events.2.details.u}}'"}],
        "summary": "",
    }
    refs2, keep2 = _referenced_event_indices(doc2, 0)
    assert not keep2 and refs2 == {2}


def test_is_expired_lowercase_z():
    from datetime import datetime, timezone

    from alerta_spark.operators.sequence import _is_expired

    now = datetime(2026, 8, 16, tzinfo=timezone.utc)
    assert _is_expired({"expiration": "2026-08-01T00:00:00z"}, now)
    assert _is_expired({"expiration": "2026-08-01T00:00:00Z"}, now)
    assert not _is_expired({"expiration": "2027-01-01T00:00:00z"}, now)


def test_split_top_and_newline_delimited():
    """YAML block scalars carry newline-separated conjuncts; a
    space-only ' AND ' test collapsed the static residual to '' (-> a
    slot matching EVERY event)."""
    from alerta_spark.streaming.correlator import (
        _split_top_and,
        _static_criteria,
    )

    crit = "category='auth'\nAND user='{{slots.0.events.0.user}}'"
    parts = _split_top_and(crit)
    assert len(parts) == 2 and "category='auth'" in parts[0]
    static = _static_criteria({"criteria": crit})
    assert "category='auth'" in static
    # tabs and multi-space forms too; ' and ' inside a literal intact
    assert len(_split_top_and("a='x'\tAND\tb='y'")) == 2
    assert len(_split_top_and("a=' AND ' AND b='y'")) == 2


def test_batched_resume_duplicate_values_both_processed(spark, tmp_path):
    """Two in-flight docs sharing a captured value: the batch advances
    the first and routes the duplicate to the per-document path (it
    used to be silently dropped from the pass — never scanned, stuck
    until expiry)."""
    from alerta_spark.operators.sequence import process_sequence_slot_batched
    from alerta_spark.rules import sequence_shell
    from alerta_spark.state import DocStore

    inflight = DocStore(spark, str(tmp_path / "inflight"))
    alerts = DocStore(spark, str(tmp_path / "alerts"))
    base = sequence_shell(dict(SEQ_RULE))
    fired0 = {
        "alert_type": "threshold",
        "triggered": True,
        "metadata": {"value": "alice", "count": 2},
        "events": [{"event_id": "100", "details": json.dumps(RISKY)}],
    }
    d1 = dict(base, _id="d1", slots=[fired0] + [dict(s) for s in base["slots"][1:]])
    d2 = dict(base, _id="d2", slots=[dict(fired0)] + [dict(s) for s in base["slots"][1:]])
    events = _onelogin_events(spark, [RISKY, RISKY])
    leftover = process_sequence_slot_batched(
        events, [d1, d2], 1, inflight, alerts
    )
    assert leftover is not None
    # the duplicate-value doc comes back for per-document processing
    assert [d["_id"] for d in leftover] == ["d2"]


def test_fused_pass_never_collects_inflight_docs(spark, tmp_path, monkeypatch):
    """The frame-native sequence pass must keep in-flight state
    executor-side end to end: DocStore.docs() (the driver collect)
    must not run at all during an engine pass — driver memory
    scales with GROUP count, not in-flight cardinality. Unfusable
    shapes are the only sanctioned exception (none in this rule set)."""
    import alerta_spark.state as statemod

    calls = []
    orig = statemod.DocStore.docs

    def spy(self, *a, **k):
        calls.append(self.path)
        return orig(self, *a, **k)

    monkeypatch.setattr(statemod.DocStore, "docs", spy)

    users = ["u1", "u2", "u3"]
    ev1 = _onelogin_events(spark, [dict(RISKY, user_name=u) for u in users])
    from pyspark.sql import functions as F

    ev2 = _onelogin_events(
        spark, [dict(RISKY, user_name=u) for u in users]
    ).withColumn("event_id", F.col("event_id") + 500)

    eng = Engine(
        spark, str(tmp_path / "nocollect"), id_col="event_id", ts_col="ts",
        compact_every=2,  # pass 2 hits the cadence -> prune path too
    )
    eng.run_once(ev1, [SEQ_RULE])
    eng.run_once(ev2, [SEQ_RULE])

    assert calls == [], calls
    # the pass still did its job: all three sequences completed
    monkeypatch.setattr(statemod.DocStore, "docs", orig)
    done = {d["slots"][0]["metadata"]["value"] for d in eng.alerts.docs()}
    assert done == set(users)
    assert eng.inflight.frame().count() == 0


def _fallback_rule():
    """SEQ_RULE with its slot-1 template inside concat(): not an
    equality the frame tier compiles, so the resume of that slot takes
    the driver-side per-document path."""
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["alert_name"] = "per_document_seq"
    rule["slots"][1]["criteria"] = (
        "source='onelogin' AND concat("
        "'{{slots.0.events.0.details.user_name}}','')="
        "json_extract_scalar(details,'$.user_name')"
    )
    return rule


@pytest.mark.parametrize("fallback", [False, True])
@pytest.mark.parametrize("use_reliable", [False, True])
def test_crash_replay_is_idempotent(
    spark, tmp_path, monkeypatch, fallback, use_reliable
):
    """A pass that dies between the alerts append and the state
    overwrite (the crash window of the emit->overwrite sequence) must
    replay cleanly on the next cron tick: no double-fired alert (the
    completed doc's _id is already in the alerts store — the replay
    guard skips it), no lost state (the completed doc still clears).
    Pinned under both checkpoint regimes, with the completing slot
    advanced by the frame tier and by the per-document fallback."""
    import alerta_spark.state as statemod
    from alerta_spark.ckpt import RELIABLE_CONF

    if use_reliable:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        spark.conf.set(RELIABLE_CONF, "true")
    try:
        from pyspark.sql import functions as F

        ev1 = _onelogin_events(spark, [RISKY])
        ev2 = _onelogin_events(
            spark, [dict(RISKY, sourceipaddress="9.9.9.9")]
        ).withColumn("event_id", F.col("event_id") + 100)

        rules = [_fallback_rule() if fallback else SEQ_RULE]
        control = Engine(
            spark, str(tmp_path / "ctl"), id_col="event_id", ts_col="ts"
        )
        control.run_once(ev1, rules)
        control.run_once(ev2, rules)

        crash = Engine(
            spark, str(tmp_path / "crash"), id_col="event_id", ts_col="ts"
        )
        crash.run_once(ev1, rules)

        # die on the INFLIGHT overwrite that follows the alerts append
        # (pass 2's finalize emits first — the alerts store is non-empty
        # exactly from that point on)
        orig = statemod.DocStore.overwrite_frame

        def dying(self, df, *a, **k):
            if self.path.endswith("inflight_alerts") and crash.alerts._exists():
                raise RuntimeError("simulated death after alerts append")
            return orig(self, df, *a, **k)

        monkeypatch.setattr(statemod.DocStore, "overwrite_frame", dying)
        with pytest.raises(RuntimeError, match="simulated death"):
            crash.run_once(ev2, rules)
        monkeypatch.setattr(statemod.DocStore, "overwrite_frame", orig)

        # the crash window is real: alert written, state NOT cleared
        assert len(crash.alerts.docs()) == 1
        assert len(crash.inflight.docs()) == 1

        # the cron replay: same events, unpatched
        crash.run_once(ev2, rules)

        def canon(docs):
            return sorted(
                json.dumps(_strip_volatile(d), sort_keys=True) for d in docs
            )

        assert canon(crash.alerts.docs()) == canon(control.alerts.docs())
        assert canon(crash.inflight.docs()) == canon(control.inflight.docs())
        assert len(crash.alerts.docs()) == 1  # no double fire
        assert crash.inflight.docs() == []  # no lost/stuck state
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def test_fused_resume_unfusable_group_falls_back(spark, tmp_path, pinned):
    """An in-flight group whose NEXT slot is a deadman routes through
    the frame tier's DEADMAN face (fused since round 9 — before that,
    the collected per-document fallback) and still advances/completes
    on absence — side by side with a fusable threshold group in the
    same pass — producing the documents (including the RENDERED
    criteria the per-document path records) the per-document and the
    fused resume agreed on."""
    deadman_rule = json.loads(json.dumps(SEQ_RULE))
    deadman_rule["alert_name"] = "seq_then_silence"
    # disjoint slot-0 (bob only): intra-pass F9 must not let the other
    # rule swallow this rule's capture, or it never gets in-flight
    deadman_rule["slots"][0]["criteria"] += (
        " AND json_extract_scalar(details,'$.user_name')='bob'"
    )
    deadman_rule["slots"][1] = {
        "alert_name": "then_silence",
        "alert_type": "deadman",
        "criteria": (
            "source='onelogin' AND json_extract_scalar(details,"
            "'$.user_name')='{{slots.0.events.0.details.user_name}}'"
        ),
        "summary": "user went quiet",
        "aggregation_key": "details.user_name",
        "threshold": 0,
        "event_sample_count": 0,
    }
    rules = [deadman_rule, SEQ_RULE]
    from pyspark.sql import functions as F

    ev1 = _onelogin_events(spark, [RISKY, dict(RISKY, user_name="bob")])
    # pass 2: no onelogin rows at all -> the deadman slot fires on
    # absence; SEQ_RULE's threshold slot 1 finds nothing
    ev2 = ev1.where("source='nope'")

    fus = Engine(spark, str(tmp_path / "dm"), id_col="event_id", ts_col="ts")
    fus.run_once(ev1, rules)
    fus.run_once(ev2, rules)

    pinned("sequence.deadman_resume.alerts", _pin_docs(fus.alerts.docs()))
    pinned("sequence.deadman_resume.inflight", _pin_docs(fus.inflight.docs()))
    done = {d["alert_name"] for d in fus.alerts.docs()}
    assert done == {"seq_then_silence"}  # deadman completed on absence
    waiting = {d["alert_name"] for d in fus.inflight.docs()}
    assert waiting == {"multiple_risky_logins"}  # threshold still waits


def test_fused_resume_duplicate_value_stray(spark, tmp_path):
    """Two in-flight docs of the same rule with the SAME captured value:
    the batch can route a fired group to only ONE document — the newest
    wins the fused batch, the duplicate takes the per-document path
    whose store-based F9 probe sees the winner's capture (sequential
    contention replayed): exactly one completes per new event."""
    import time as _t

    doc_a = sequence_shell(json.loads(json.dumps(SEQ_RULE)))
    doc_b = sequence_shell(json.loads(json.dumps(SEQ_RULE)))
    for d, eid in ((doc_a, "1"), (doc_b, "2")):
        d["slots"][0] = {
            **d["slots"][0],
            "triggered": True,
            "metadata": {"value": "alice", "count": 1},
            "events": [
                {"event_id": eid, "details": json.dumps({"user_name": "alice"})}
            ],
            "summary": "risky login by alice",
        }
    eng = Engine(spark, str(tmp_path / "dup"), id_col="event_id", ts_col="ts")
    eng.inflight.upsert_many([doc_a, doc_b])
    assert len(eng.inflight.docs()) == 2

    from pyspark.sql import functions as F

    ev = _onelogin_events(spark, [RISKY]).withColumn(
        "event_id", F.col("event_id") + 100
    )
    eng.run_once(ev, [SEQ_RULE])

    # ONE new event -> one doc captured it (completed), the duplicate
    # found it already captured and stays in flight
    assert len(eng.alerts.docs()) == 1
    assert len(eng.inflight.docs()) == 1


def test_fused_keep_full_template_keeps_full_events(spark, tmp_path, pinned):
    """A rule whose summary references the slot's WHOLE events array
    ({{slots.0.events}}) cannot be slimmed — the frame tier must take
    the keep_full path (full payloads in the document, no spill ref)
    and still produce the documents the per-document and the fused
    paths agreed on."""
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["alert_name"] = "full_events_seq"
    rule["summary"] = "captured: {{slots.0.events}}"

    from pyspark.sql import functions as F

    ev1 = _onelogin_events(spark, [RISKY])
    ev2 = _onelogin_events(
        spark, [dict(RISKY, sourceipaddress="9.9.9.9")]
    ).withColumn("event_id", F.col("event_id") + 100)

    fus = Engine(spark, str(tmp_path / "kf"), id_col="event_id", ts_col="ts")
    fus.run_once(ev1, [rule])
    fus.run_once(ev2, [rule])

    pinned("sequence.keep_full.alerts", _pin_docs(fus.alerts.docs()))
    [alert] = fus.alerts.docs()
    # slot 0's events carry FULL payloads (details present), and the
    # doc holds no spill ref
    ev0 = alert["slots"][0]["events"][0]
    assert "details" in ev0 and "user_name" in str(ev0["details"])
    assert "_events_ref" not in alert["slots"][0]


def test_fused_probe_frame_plan_is_single_scan_broadcast_semi(spark, events):
    """The frame-native resume probe must compile to ONE events scan
    plus a BROADCAST left-semi join on (rule_idx, value) — no IN
    literals in the plan (no plan-size dependence on probe
    cardinality), no shuffle added for the probe side."""
    from alerta_spark.operators.threshold import fused_grouped
    from alerta_spark.rules import threshold_shell

    shells = [
        threshold_shell(
            {
                "alert_name": f"s{i}",
                "criteria": f"event_type='{et}'",
                "aggregation_key": "user_id",
                "threshold": 1,
            }
        )
        for i, et in enumerate(["purchase", "error"])
    ]
    probe = spark.createDataFrame(
        [(0, "1"), (0, "2"), (1, "3")], "rule_idx int, value string"
    )
    frame = fused_grouped(events, shells, "event_id", "ts", probe=probe)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fused_starts_rule_with_explicit_id_matches_sequential(
    spark, tmp_path, pinned
):
    """A rule dict carrying an explicit _id makes every spawned doc
    share it; the per-rule path's upsert keeps last-wins ONE. The
    frame tier must route the degenerate shape to the faithful loop,
    not append N same-_id rows."""
    rule = json.loads(json.dumps(SEQ_RULE))
    rule["_id"] = "fixedid0123456789abcdef0"
    ev = _onelogin_events(
        spark,
        [RISKY, dict(RISKY, user_name="bob")],  # two fired groups
    )

    fus = Engine(spark, str(tmp_path / "id"), id_col="event_id", ts_col="ts")
    fus.run_once(ev, [rule])
    pinned("sequence.explicit_id.inflight", _pin_docs(fus.inflight.docs()))
    assert len(fus.inflight.docs()) == 1
    assert {d["_id"] for d in fus.inflight.docs()} == {rule["_id"]}


@pytest.mark.parametrize("crash_pass", [1, 2])
def test_crash_after_spill_append_then_compaction_is_idempotent(
    spark, tmp_path, monkeypatch, crash_pass
):
    """The remaining crash window of the frame tier's spill-first
    ordering (sequence_frames: ONE spill append, THEN the in-flight
    overwrite): a pass that dies between the two leaves ORPHAN spill
    rows whose capture ids no in-flight document references yet. The
    compaction cadence's prune (engine.py: slot_events.prune_frame on
    live_refs_frame) racing that crashed pass must stay safe — it
    reaps the orphans (they are inert) and must never drop rows a
    LIVE document references. Replaying the crashed pass afterwards
    must produce exactly the uninterrupted run's alerts, state, and
    spill liveness. Pinned for a crash in the STARTS pass (no docs
    landed yet) and in the RESUME pass (old docs still reference old
    captures)."""
    import alerta_spark.state as statemod
    from alerta_spark.operators.sequence_frames import live_refs_frame

    from pyspark.sql import functions as F

    ev1 = _onelogin_events(spark, [RISKY])
    ev2 = _onelogin_events(
        spark, [dict(RISKY, sourceipaddress="9.9.9.9")]
    ).withColumn("event_id", F.col("event_id") + 100)

    control = Engine(
        spark, str(tmp_path / "ctl"), id_col="event_id", ts_col="ts"
    )
    control.run_once(ev1, [SEQ_RULE])
    control.run_once(ev2, [SEQ_RULE])

    crash = Engine(
        spark, str(tmp_path / "crash"), id_col="event_id", ts_col="ts"
    )
    if crash_pass == 2:
        crash.run_once(ev1, [SEQ_RULE])

    # die right AFTER the spill append lands (the append itself
    # succeeds — the orphan rows are on disk) and before the
    # in-flight write
    orig = statemod.SlotEventStore.append_frame

    def dying(self, df):
        orig(self, df)
        raise RuntimeError("simulated death after spill append")

    monkeypatch.setattr(statemod.SlotEventStore, "append_frame", dying)
    crash_events = ev1 if crash_pass == 1 else ev2
    with pytest.raises(RuntimeError, match="after spill append"):
        crash.run_once(crash_events, [SEQ_RULE])
    monkeypatch.setattr(statemod.SlotEventStore, "append_frame", orig)

    # the window is real: spill rows exist that no in-flight doc
    # references (pass 1: no docs at all; pass 2: docs still point at
    # the PREVIOUS captures)
    spill_ids = {
        r["capture_id"] for r in crash.slot_events.frame().collect()
    }
    live_ids = {
        r["capture_id"]
        for r in live_refs_frame(crash.inflight).collect()
    }
    assert spill_ids - live_ids, "crash window did not materialize"

    # compaction races the crashed pass: prune must reap ONLY orphans
    crash.slot_events.prune_frame(live_refs_frame(crash.inflight))
    after = {r["capture_id"] for r in crash.slot_events.frame().collect()}
    assert after == live_ids & spill_ids

    # cron replay of the crashed pass, unpatched
    crash.run_once(crash_events, [SEQ_RULE])
    if crash_pass == 1:
        crash.run_once(ev2, [SEQ_RULE])

    def canon(docs):
        return sorted(
            json.dumps(_strip_volatile(d), sort_keys=True) for d in docs
        )

    assert canon(crash.alerts.docs()) == canon(control.alerts.docs())
    assert canon(crash.inflight.docs()) == canon(control.inflight.docs())
    # spill liveness converges too: every live ref resolves, no
    # orphan survives a final prune on both engines
    for eng in (crash, control):
        eng.slot_events.prune_frame(live_refs_frame(eng.inflight))
        live = {
            r["capture_id"]
            for r in live_refs_frame(eng.inflight).collect()
        }
        stored = {
            r["capture_id"] for r in eng.slot_events.frame().collect()
        }
        assert stored <= live


def test_fused_deadman_face_threshold_and_no_collect(
    spark, tmp_path, monkeypatch, pinned
):
    """The frame tier's deadman face, beyond the absence case: a
    captured value PRESENT with 1 <= count <= threshold fires with its
    REAL events (not the synthesized row); present with count >
    threshold stays in-flight; and the whole fused pass — deadman
    next-slots included — never collects the state table
    (DocStore.docs() pinned to zero calls, extending the round-8
    no-collect pin to the round-9 face)."""
    import alerta_spark.state as statemod

    from pyspark.sql import functions as F

    dm_rule = json.loads(json.dumps(SEQ_RULE))
    dm_rule["alert_name"] = "seq_then_quietish"
    dm_rule["slots"][1] = {
        "alert_name": "then_quietish",
        "alert_type": "deadman",
        "criteria": (
            "source='onelogin' AND json_extract_scalar(details,"
            "'$.user_name')='{{slots.0.events.0.details.user_name}}'"
        ),
        "summary": "user nearly quiet",
        "aggregation_key": "details.user_name",
        "threshold": 1,  # fires when AT MOST one matching event arrives
        "event_sample_count": 0,
    }
    ev1 = _onelogin_events(spark, [RISKY, dict(RISKY, user_name="bob")])
    # pass 2: alice sends ONE event (count 1 <= 1 -> fires WITH it);
    # bob sends TWO (count 2 > 1 -> stays in-flight)
    ev2 = _onelogin_events(
        spark, [RISKY, dict(RISKY, user_name="bob"),
                dict(RISKY, user_name="bob")]
    ).withColumn("event_id", F.col("event_id") + 100)

    calls: list[str] = []
    orig = statemod.DocStore.docs

    def spying(self, *a, **k):
        calls.append(self.path)
        return orig(self, *a, **k)

    monkeypatch.setattr(statemod.DocStore, "docs", spying)
    fus = Engine(
        spark, str(tmp_path / "dmt"), id_col="event_id", ts_col="ts"
    )
    fus.run_once(ev1, [dm_rule])
    fus.run_once(ev2, [dm_rule])
    monkeypatch.setattr(statemod.DocStore, "docs", orig)

    pinned("sequence.deadman_face.alerts", _pin_docs(fus.alerts.docs()))
    pinned("sequence.deadman_face.inflight", _pin_docs(fus.inflight.docs()))
    assert calls == [], calls  # deadman face stays frame-native
    done = fus.alerts.docs()
    assert len(done) == 1  # alice completed
    slot1 = done[0]["slots"][1]
    assert slot1["metadata"]["count"] == 1  # the REAL group, not synth
    assert slot1["metadata"]["value"] == "alice"
    assert "alice" in slot1["criteria"]  # rendered criteria recorded
    waiting = fus.inflight.docs()
    # bob's ORIGINAL doc still waits on the deadman slot (count 2 > 1
    # blocked the advance) — plus the fresh slot-0 start his two new
    # pass-2 events fired (they were never captured, so F8 lets the
    # starts pass spawn a second sequence; pinned above)
    assert len(waiting) == 2
    from alerta_spark.operators.sequence import first_unfilled_slot as _fus

    assert sorted(_fus(d)[0] for d in waiting) == [1, 1]
    blocked = [
        d for d in waiting
        if d["slots"][0]["events"][0]["event_id"] in ("0", "1", 0, 1)
    ]
    assert len(blocked) == 1  # the pass-1 doc survived unadvanced


def test_extras_memo_is_pass_scoped(spark, engine):
    """The captured-ids dedup frame memo must be owned by the PASS,
    not the process: two passes whose id sets happen to share a
    length (the shape the removed id()-keyed global memo could alias
    after CPython address reuse) must each probe THEIR OWN set.
    Within one pass an unchanged-length set reuses the cached frame
    (ids only accumulate, so same length == same set)."""
    from alerta_spark.operators.sequence import process_sequence_alert

    ev = _onelogin_events(spark, [RISKY])  # one event, event_id 0

    # pass 1: event 0 was captured earlier this pass -> F9 eats it
    memo1: list = []
    out1: list = []
    process_sequence_alert(
        ev, json.loads(json.dumps(SEQ_RULE)), engine.inflight,
        engine.alerts, "event_id", "ts",
        collect_updates=out1, extra_alerted_ids={"0"}, extras_memo=memo1,
    )
    assert out1 == []
    assert len(memo1) == 1 and memo1[0][0] == 1

    # same pass, same holder, unchanged length: frame reused, still
    # no fire
    frame_before = memo1[0][1]
    out1b: list = []
    process_sequence_alert(
        ev, json.loads(json.dumps(SEQ_RULE)), engine.inflight,
        engine.alerts, "event_id", "ts",
        collect_updates=out1b, extra_alerted_ids={"0"}, extras_memo=memo1,
    )
    assert out1b == []
    assert memo1[0][1] is frame_before

    # pass 2: FRESH holder, different set of the SAME length — the
    # old global memo could serve pass 1's {"0"} frame here and
    # silently suppress the fire; the pass-scoped holder must rebuild
    # from this pass's set, so event 0 fires
    memo2: list = []
    out2: list = []
    process_sequence_alert(
        ev, json.loads(json.dumps(SEQ_RULE)), engine.inflight,
        engine.alerts, "event_id", "ts",
        collect_updates=out2, extra_alerted_ids={"999"}, extras_memo=memo2,
    )
    assert len(out2) == 1
    assert memo2[0][1] is not frame_before


def _events_src(spark, rows, source, base=0):
    from pyspark.sql import functions as F

    data = [
        {
            "event_id": base + i,
            "ts": f"2026-01-01 00:{i:02d}:00",
            "source": source,
            "details": json.dumps(d),
        }
        for i, d in enumerate(rows)
    ]
    df = spark.createDataFrame(data)
    return df.withColumn("ts", F.to_timestamp("ts")).select(
        "event_id", "ts", "source", "details"
    )


def _two_var_rule(name="two_var_seq", extra_slot=False, deadman=False,
                  mark=None):
    """Sequence rule whose SECOND slot pins TWO captured values
    (user_name AND sourceipaddress) — the multi-templated shape that
    round 9 still served per-document. ``mark`` adds a static kind
    conjunct so two rules' slot-1 criteria stay DISJOINT (overlapping
    criteria contend through F9 intra-pass dedup and only one rule
    captures a shared event)."""
    second = {
        "alert_name": "s1",
        "alert_type": "deadman" if deadman else "threshold",
        "criteria": (
            "source='heartbeat' AND " if deadman else "source='onelogin' AND "
        )
        + (
            f"json_extract_scalar(details,'$.kind')='{mark}' AND "
            if mark is not None
            else ""
        )
        + "json_extract_scalar(details,'$.user_name')="
        "'{{slots.0.events.0.details.user_name}}' AND "
        "json_extract_scalar(details,'$.sourceipaddress')="
        "'{{slots.0.events.0.details.sourceipaddress}}'",
        "summary": "second {{events.0.details.user_name}}",
        "event_snippet": "",
        "aggregation_key": "details.user_name",
        "threshold": 0 if deadman else 1,
        "event_sample_count": 5,
    }
    slots = [
        {
            "alert_name": "s0",
            "alert_type": "threshold",
            "criteria": (
                "source='onelogin' AND "
                + (
                    f"json_extract_scalar(details,'$.kind')='{mark}' AND "
                    if mark is not None
                    else ""
                )
                + "CAST(json_extract_scalar("
                "details,'$.risk_score') as INTEGER)>80"
            ),
            "summary": "risky {{events.0.details.user_name}}",
            "event_snippet": "",
            "aggregation_key": "details.user_name",
            "threshold": 1,
            "event_sample_count": 5,
        },
        second,
    ]
    if extra_slot:
        slots.append(
            {
                "alert_name": "s2",
                "alert_type": "threshold",
                "criteria": "source='never_matches'",
                "summary": "tail",
                "event_snippet": "",
                "aggregation_key": "details.user_name",
                "threshold": 1,
                "event_sample_count": 5,
            }
        )
    return {
        "alert_name": name,
        "alert_type": "sequence",
        "lifespan": "7 days",
        "severity": "INFO",
        "summary": "done {{slots.0.events.0.details.user_name}}",
        "category": "authentication",
        "tags": ["login"],
        "slots": slots,
    }


def test_fused_multi_templated_resume_matches_sequential(
    spark, tmp_path, pinned
):
    """A slot criteria pinning TWO captured values must advance through
    the frame-native fused tier (composite-value probe) with documents
    identical to the ones the per-document path and the fused resume
    agreed on — both the COMPLETED sequence (2-slot rule) and the
    still-in-flight fired slot with its reconstructed RENDERED
    criteria (3-slot rule). A user whose second
    component diverges (same user_name, different source ip) must NOT
    advance — the shape a single-value probe cannot express."""
    rules = [
        _two_var_rule("mt_done", mark="d"),
        _two_var_rule("mt_tail", extra_slot=True, mark="t"),
    ]
    rows1 = [
        {"risk_score": "95", "kind": k, "user_name": u, "sourceipaddress": ip}
        for k in ("d", "t")
        for u, ip in (
            ("alice", "1.2.3.4"),
            ("bob", "9.9.9.9"),
            ("carol", "5.5.5.5"),
        )
    ]
    rows2 = [
        {"risk_score": "10", "kind": k, "user_name": u, "sourceipaddress": ip}
        for k in ("d", "t")
        for u, ip in (
            ("alice", "1.2.3.4"),
            ("bob", "9.9.9.9"),
            # carol reappears from a DIFFERENT ip: user_name alone
            # matches, the composite (user, ip) must not
            ("carol", "7.7.7.7"),
        )
    ]

    fus = Engine(spark, str(tmp_path / "mt"), id_col="event_id", ts_col="ts")
    fus.run_once(_events_src(spark, rows1, "onelogin"), rules)
    fus.run_once(_events_src(spark, rows2, "onelogin", base=100), rules)

    pinned("sequence.multi_var.alerts", _pin_docs(fus.alerts.docs()))
    pinned("sequence.multi_var.inflight", _pin_docs(fus.inflight.docs()))
    done = {d["slots"][0]["metadata"]["value"] for d in fus.alerts.docs()}
    assert done == {"alice", "bob"}  # mt_done completed for both
    # mt_tail advanced its multi slot and waits on slot 2 with the
    # RENDERED criteria recorded (per-document parity)
    waiting = {
        (d["alert_name"], d["slots"][0]["metadata"]["value"]): d
        for d in fus.inflight.docs()
    }
    adv = waiting[("mt_tail", "alice")]
    assert adv["slots"][1]["metadata"]["value"] == "alice"
    assert "='alice'" in adv["slots"][1]["criteria"]
    assert "='1.2.3.4'" in adv["slots"][1]["criteria"]
    assert "{{" not in adv["slots"][1]["criteria"]
    # carol never advanced past slot 1 in either rule
    assert ("mt_done", "carol") in waiting
    assert first_unfilled_slot(waiting[("mt_done", "carol")])[0] == 1


def test_fused_multi_templated_deadman_matches_sequential(
    spark, tmp_path, pinned
):
    """Deadman (absence) slots with TWO template variables fuse too:
    a heartbeat matching only ONE component (same user, different ip)
    leaves the composite ABSENT, so the sequence advances — while the
    fully-matching composite blocks. Documents identical to the ones
    the per-document path and the fused resume agreed on."""
    rules = [_two_var_rule("mt_dm", deadman=True)]
    rows1 = [
        {"risk_score": "95", "user_name": "alice", "sourceipaddress": "1.1.1.1"},
        {"risk_score": "95", "user_name": "bob", "sourceipaddress": "2.2.2.2"},
    ]
    beats = [
        # alice's heartbeat matches BOTH components -> present -> blocked
        {"user_name": "alice", "sourceipaddress": "1.1.1.1"},
        # bob's heartbeat matches user but NOT ip -> composite absent
        # -> deadman fires -> completes
        {"user_name": "bob", "sourceipaddress": "9.9.9.9"},
    ]

    fus = Engine(spark, str(tmp_path / "mtdm"), id_col="event_id", ts_col="ts")
    fus.run_once(_events_src(spark, rows1, "onelogin"), rules)
    fus.run_once(_events_src(spark, beats, "heartbeat", base=100), rules)

    pinned("sequence.multi_var_deadman.alerts", _pin_docs(fus.alerts.docs()))
    pinned(
        "sequence.multi_var_deadman.inflight", _pin_docs(fus.inflight.docs())
    )
    done = {d["slots"][0]["metadata"]["value"] for d in fus.alerts.docs()}
    assert done == {"bob"}
    still = {d["slots"][0]["metadata"]["value"] for d in fus.inflight.docs()}
    assert still == {"alice"}
    dm = next(iter(fus.alerts.docs()))["slots"][1]
    assert "='bob'" in dm["criteria"] and "='2.2.2.2'" in dm["criteria"]


def test_fused_multi_templated_no_collect_and_sql_special_values(
    spark, tmp_path, monkeypatch
):
    """The multi-variable face keeps state executor-side (zero
    DocStore.docs() collects — it must NOT route to the per-document
    fallback) and, because the composite probe is a JSON-encoded
    broadcast join rather than rendered SQL text, captured values
    carrying backslashes/quotes advance correctly — the shape the
    per-document path's SQL round-trip cannot serve (dialect parity:
    Trino string literals do not process backslash escapes)."""
    import alerta_spark.state as statemod

    calls = []
    orig = statemod.DocStore.docs

    def spy(self, *a, **k):
        calls.append(self.path)
        return orig(self, *a, **k)

    monkeypatch.setattr(statemod.DocStore, "docs", spy)

    rules = [_two_var_rule("mt_nasty")]
    rows1 = [
        {"risk_score": "95", "user_name": "DOM\\u1", "sourceipaddress": 'O"9'},
        {"risk_score": "95", "user_name": "a'b", "sourceipaddress": "x\ty"},
    ]
    rows2 = [
        {"risk_score": "10", "user_name": "DOM\\u1", "sourceipaddress": 'O"9'},
        {"risk_score": "10", "user_name": "a'b", "sourceipaddress": "x\ty"},
    ]
    eng = Engine(spark, str(tmp_path / "mt_nc"), id_col="event_id", ts_col="ts")
    eng.run_once(_events_src(spark, rows1, "onelogin"), rules)
    eng.run_once(_events_src(spark, rows2, "onelogin", base=100), rules)

    assert calls == [], calls
    monkeypatch.setattr(statemod.DocStore, "docs", orig)
    done = {d["slots"][0]["metadata"]["value"] for d in eng.alerts.docs()}
    assert done == {"DOM\\u1", "a'b"}
    assert eng.inflight.frame().count() == 0


def test_composite_value_byte_parity_with_spark_to_json(spark):
    """The doc-side composite encoder must be byte-identical to
    Spark's (Jackson's) ``to_json(array(...))`` — including the
    control chars whose ``\\uXXXX`` hex carries a LETTER (U+000B,
    U+000E-U+000F, U+001A-U+001F), where Python's json.dumps emits
    lowercase hex and Jackson uppercase: a json.dumps-based encoder
    silently breaks every composite join for such values."""
    from pyspark.sql import functions as F

    from alerta_spark.operators.sequence_frames import _composite_value

    vals = [
        "a\x1fb", "x\x0by", "c\x0e\x0f\x1a", "del\x7fchar", "\x00nul",
        "\x1b[0m ansi", "lit\\u001f",  # literal backslash-u in DATA
        "DOM\\u1", 'O"x', "a b\tc", "päy", "", "emoji🙂",
        "line\nbreak", "ctrl\x01char", " sep",
    ] + [chr(c) for c in range(0x20)]
    # seeded pseudo-random corpus over the risky unicode ranges:
    # controls, ASCII punctuation (quotes/backslashes/brackets),
    # Latin-1, line/paragraph separators, BMP letters, astral plane
    import random

    rng = random.Random(0xA1E47A)
    pools = (
        list(range(0x01, 0x20)),
        list(range(0x20, 0x7F)),
        [0x7F, 0xA0, 0xE4, 0x2028, 0x2029, 0xFFFD],
        list(range(0x0400, 0x0420)),
        [0x1F642, 0x1F4A9, 0x10348],
    )
    for _ in range(120):
        n = rng.randint(0, 8)
        vals.append(
            "".join(chr(rng.choice(rng.choice(pools))) for _ in range(n))
        )
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [
        r["j"]
        for r in df.select(
            F.to_json(F.array(F.col("v"), F.lit("k2"))).alias("j")
        ).collect()
    ]
    want = [_composite_value([v, "k2"]) for v in vals]
    assert got == want


def test_literal_templated_conjunct_routes_per_document(
    spark, tmp_path, pinned
):
    """A templated equality whose 'column' side is not a resolvable
    event column (e.g. the literal `1='{{...}}'` — the \\w+ equality
    patterns match it) must NOT fuse: the composite probe key would
    be NULL for every event and the group would silently never fire.
    It routes to the per-document path, which renders working SQL
    (`1='1'` is true), so the sequence advances."""
    rule = _two_var_rule("lit_seq")
    rule["slots"][1]["criteria"] = (
        "source='onelogin' AND 1='{{slots.0.metadata.count}}' AND "
        "json_extract_scalar(details,'$.user_name')="
        "'{{slots.0.events.0.details.user_name}}'"
    )
    rows1 = [
        {"risk_score": "95", "user_name": "alice", "sourceipaddress": "1.1.1.1"}
    ]
    rows2 = [
        {"risk_score": "10", "user_name": "alice", "sourceipaddress": "1.1.1.1"}
    ]

    fus = Engine(spark, str(tmp_path / "lit"), id_col="event_id", ts_col="ts")
    fus.run_once(_events_src(spark, rows1, "onelogin"), [rule])
    fus.run_once(_events_src(spark, rows2, "onelogin", base=100), [rule])

    pinned("sequence.literal_conjunct.alerts", _pin_docs(fus.alerts.docs()))
    assert len(fus.alerts.docs()) == 1  # it DID advance and complete
    assert fus.inflight.docs() == []
