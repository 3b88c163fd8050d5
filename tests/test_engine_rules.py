"""End-to-end engine run from the YAML rules directory (S6 + the full
cron-body lifecycle over real testdata)."""

import pytest

from alerta_spark.engine import Engine
from alerta_spark.rules import load_rules


def test_load_rules_dir():
    rules = load_rules("rules/*alert.yml")
    assert {r["alert_name"] for r in rules} == {
        "big_purchases",
        "missing_heartbeat",
        "signup_then_error",
    }


def test_engine_full_run_over_testdata(spark, events, tmp_path):
    rules = load_rules("rules/*alert.yml")
    engine = Engine(spark, str(tmp_path / "store"))
    engine.run_once(events, rules)

    alerts = engine.alerts.docs()
    names = {a["alert_name"] for a in alerts}
    # threshold rule fires per qualifying user; deadman fires (no
    # heartbeat events exist in testdata)
    assert "big_purchases" in names
    assert "missing_heartbeat" in names
    big = [a for a in alerts if a["alert_name"] == "big_purchases"]
    assert all(a["metadata"]["count"] >= 3 for a in big)
    assert all("big purchases" in a["summary"] for a in big)

    # sequence rule: slot 0 filled for users with >=2 signups
    inflight = engine.inflight.docs()
    assert any(d["alert_name"] == "signup_then_error" for d in inflight)

    # second run with the same events: F8 dedup suppresses re-alerting
    n_before = len(alerts)
    engine.run_once(events, rules)
    big_after = [
        a for a in engine.alerts.docs() if a["alert_name"] == "big_purchases"
    ]
    assert len(big_after) == len(big), "re-run must not duplicate threshold alerts"
    # sequences may have advanced using not-yet-captured events; deadman
    # fires every run by design (reference parity)
    assert len(engine.alerts.docs()) >= n_before


def test_engine_auto_compacts_alerts_table(spark, tmp_path):
    """Distributed appends add part files every pass; the engine must
    compact the alerts table on its configured cadence so the file
    count stays bounded across many cron ticks — with F8 dedup results
    identical before and after compaction."""
    import os

    from pyspark.sql import functions as F

    rule = {
        "alert_name": "bursts",
        "alert_type": "threshold",
        "criteria": "source='app'",
        "aggregation_key": "user",
        "threshold": 1,
        "summary": "burst by {{metadata.value}}",
        "event_snippet": "",
    }
    engine = Engine(spark, str(tmp_path / "store"), compact_every=5)

    def batch(i):
        return spark.range(2).select(
            (F.col("id") + 10 * i).alias("event_id"),
            F.expr("timestamp'2026-01-01 00:00:00'").alias("ts"),
            F.lit("app").alias("source"),
            F.concat(F.lit(f"u{i}_"), F.col("id").cast("string")).alias("user"),
        )

    seen = set()
    for i in range(16):
        engine.run_once(batch(i), [rule])
        # replay an OLD batch too: F8 must keep suppressing it across
        # compactions (compaction must not lose dedup state)
        engine.run_once(batch(0), [rule])
        vals = [d["metadata"]["value"] for d in engine.alerts.docs()]
        assert len(vals) == len(set(vals)), "compaction broke F8 dedup"
        seen = set(vals)

    files = [
        f
        for f in os.listdir(engine.alerts.data_dir())
        if f.endswith(".parquet")
    ]
    # 32 passes at compact_every=5: without compaction this is >=32
    # files (one per firing pass); with it, at most one compacted file
    # plus the appends since the last compaction cycle
    assert len(files) <= 8, files
    assert len(seen) == 32  # 16 batches x 2 users, each alerted once


def test_deadman_fires_on_scan_failure(spark, events, tmp_path):
    """Reference failure semantics (alerta.py:417-420): a deadman rule
    whose criteria cannot even be evaluated FIRES — absence of evidence
    is the alarm condition."""
    engine = Engine(spark, str(tmp_path / "store2"))
    broken = {
        "alert_name": "broken_deadman",
        "alert_type": "deadman",
        "criteria": "this is ==== not sql",
        "threshold": 0,
        "aggregation_key": "user_id",
        "summary": "deadman {{metadata.count}}",
    }
    engine.run_once(events, [broken])
    alerts = engine.alerts.docs()
    assert len(alerts) == 1
    assert alerts[0]["metadata"]["count"] == 0


def test_engine_run_stream_matches_run_once(spark, events, tmp_path):
    """T1 first-class: the same rule pass under a Structured Streaming
    trigger produces the same alerts as the batch cron body, and state
    (DocStores) carries across micro-batches."""
    rules = load_rules("rules/*alert.yml")

    # batch reference run
    batch_engine = Engine(spark, str(tmp_path / "batch_store"))
    batch_engine.run_once(events, rules)
    want = {
        (a["alert_name"], a["metadata"]["value"])
        for a in batch_engine.alerts.docs()
        if a["alert_name"] == "big_purchases"
    }
    assert want

    # identical events through a real file-source stream
    src = str(tmp_path / "src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    stream_engine = Engine(spark, str(tmp_path / "stream_store"))
    q = stream_engine.run_stream(stream, rules, str(tmp_path / "ck"))
    q.awaitTermination(180)
    got = {
        (a["alert_name"], a["metadata"]["value"])
        for a in stream_engine.alerts.docs()
        if a["alert_name"] == "big_purchases"
    }
    assert got == want

    # misuse guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_engine.run_stream(events, rules, str(tmp_path / "ck2"))


def test_cli_run_from_config(spark, tmp_path):
    """Config-file entry (reference alerta.py:517-535 -c flag): one
    cron body from a YAML config; missing keys rejected."""
    import pytest as _pytest
    import yaml

    from alerta_spark.cli import load_config, run_from_config

    cfg_path = tmp_path / "cfg.yml"
    cfg_path.write_text(
        yaml.safe_dump(
            {
                "lake_dir": "/root/testdata/sf0.001",
                "store_dir": str(tmp_path / "store"),
                "alerts_file_mask": "rules/*alert.yml",
            }
        )
    )
    cfg = load_config(str(cfg_path))
    run_from_config(cfg)
    from alerta_spark.state import DocStore

    alerts = DocStore(spark, str(tmp_path / "store" / "alerts")).docs()
    assert any(a["alert_name"] == "big_purchases" for a in alerts)

    bad = tmp_path / "bad.yml"
    bad.write_text("store_dir: /tmp/x\n")
    with _pytest.raises(ValueError):
        load_config(str(bad))


def test_fused_engine_pass_matches_sequential(spark, events, tmp_path, pinned):
    """The per-rule threshold pass appends the alert documents the
    sequential and the one-scan fused passes agreed on — including a
    broken rule, which is swallowed."""
    from alerta_spark.engine import Engine

    rules = [
        {
            "alert_name": "big_purchases",
            "alert_type": "threshold",
            "criteria": "event_type='purchase' AND CAST(json_extract_scalar(props,'$.k') AS INTEGER) > 50",
            "aggregation_key": "user_id",
            "threshold": 2,
            "summary": "{{metadata.count}} big buys by {{metadata.value}}",
        },
        {
            "alert_name": "broken_rule",
            "alert_type": "threshold",
            "criteria": "this is ((( not sql",
            "aggregation_key": "user_id",
            "threshold": 1,
        },
        {
            "alert_name": "errors_by_user",
            "alert_type": "threshold",
            "criteria": "event_type='error'",
            "aggregation_key": "user_id",
            "threshold": 3,
        },
    ]

    eng = Engine(spark, str(tmp_path / "seq"))
    eng.run_once(events, rules)
    a = sorted(
        [
            d["alert_name"],
            d["metadata"]["value"],
            d["metadata"]["count"],
            d["summary"],
            [e["event_id"] for e in d.get("events", [])],
        ]
        for d in eng.alerts.docs()
    )
    pinned("engine_rules.thresholds", a)
    assert len(a) > 0
    assert not any(name == "broken_rule" for name, *_ in a)


def test_fused_thresholds_overlapping_rules_match_sequential(
    spark, events, tmp_path, pinned
):
    """Intra-pass F8: in the per-rule loop, rule k's history probe
    already sees the alerts rules 1..k-1 wrote THIS pass, so two rules
    capturing the SAME events fire only once (the alerts the
    sequential and fused passes agreed on)."""
    from alerta_spark.engine import Engine

    rule = {
        "alert_type": "threshold",
        "criteria": "event_type='purchase' AND CAST(json_extract_scalar(props,'$.k') AS INTEGER) > 50",
        "aggregation_key": "user_id",
        "threshold": 2,
        "summary": "{{metadata.count}} big buys by {{metadata.value}}",
    }
    rules = [
        dict(rule, alert_name="overlap_a"),
        dict(rule, alert_name="overlap_b"),  # identical criteria
        dict(rule, alert_name="overlap_c", threshold=1),  # subset overlap
    ]

    eng = Engine(spark, str(tmp_path / "seq_ovl"))
    eng.run_once(events, rules)
    a = sorted(
        [
            d["alert_name"],
            d["metadata"]["value"],
            d["metadata"]["count"],
            [e["event_id"] for e in d.get("events", [])],
        ]
        for d in eng.alerts.docs()
    )
    pinned("engine_rules.overlapping_thresholds", a)
    assert len(a) > 0
    # the overlap actually bound: rule A fired, identical rule B did not
    names = {name for name, *_ in a}
    assert "overlap_a" in names and "overlap_b" not in names


def test_fused_deadman_engine_pass_matches_sequential(
    spark, events, tmp_path, pinned
):
    """The per-rule deadman pass appends the alert documents the
    sequential and the one-scan fused passes agreed on — including the
    broken-criteria rule, which FIRES (deadman failure semantics:
    absence of evidence is the alarm)."""
    from alerta_spark.engine import Engine

    rules = [
        {
            "alert_name": "dm_quiet_type",
            "alert_type": "deadman",
            "criteria": "event_type='nonexistent_kind'",
            "aggregation_key": "user_id",
            "threshold": 0,
            "summary": "missing: {{metadata.value}} n={{metadata.count}}",
        },
        {
            "alert_name": "dm_broken",
            "alert_type": "deadman",
            "criteria": "((( not sql at all",
            "aggregation_key": "user_id",
            "threshold": 0,
        },
        {
            "alert_name": "dm_satisfied",
            "alert_type": "deadman",
            "criteria": "event_type='purchase'",
            "aggregation_key": "user_id",
            "threshold": 0,
        },
    ]

    eng = Engine(spark, str(tmp_path / "dm_seq"))
    eng.run_once(events, rules)
    a = sorted(
        [
            d["alert_name"],
            d["metadata"]["value"],
            d["metadata"]["count"],
            [e["event_id"] for e in d.get("events", [])],
        ]
        for d in eng.alerts.docs()
    )
    pinned("engine_rules.deadmen", a)
    assert len(a) > 0
    names = {n for n, *_ in a}
    assert "dm_quiet_type" in names and "dm_broken" in names
    assert "dm_satisfied" not in names


def test_pass_without_sequence_rules_never_reads_inflight(
    spark, events, tmp_path, monkeypatch
):
    """A threshold + deadman pass has no sequence state to resume or
    finalize: it must not collect the in-flight store (each such read
    costs Spark jobs on every cron tick)."""
    from alerta_spark.state import DocStore

    def refuse(self, *a, **k):
        raise AssertionError(f"in-flight read: {self.path}")

    monkeypatch.setattr(DocStore, "docs", refuse)
    rules = [
        {
            "alert_name": "errors_by_user",
            "alert_type": "threshold",
            "criteria": "event_type='error'",
            "aggregation_key": "user_id",
            "threshold": 3,
        },
        {
            "alert_name": "dm_quiet_type",
            "alert_type": "deadman",
            "criteria": "event_type='nonexistent_kind'",
            "aggregation_key": "user_id",
            "threshold": 0,
        },
    ]
    eng = Engine(spark, str(tmp_path / "no_seq"))
    eng.run_once(events, rules)
    names = {r["alert_name"] for r in eng.alerts.frame().collect()}
    assert names == {"errors_by_user", "dm_quiet_type"}


def test_suppression_window_silences_rule(spark, tmp_path, events):
    """A rule inside its maintenance window fires nothing — including
    a deadman (absence is expected during maintenance); outside the
    window it fires again."""
    from datetime import datetime, timezone

    from alerta_spark.engine import Engine
    from alerta_spark.rules import deadman_shell, threshold_shell

    thr = threshold_shell(
        {
            "alert_name": "sup_thr",
            "criteria": "event_type='purchase'",
            "threshold": 1,
            "aggregation_key": "user_id",
            "suppress": ["2026-06-01T00:00:00+00:00/2026-06-02T00:00:00+00:00"],
        }
    )
    dm = deadman_shell(
        {
            "alert_name": "sup_dm",
            "criteria": "event_type='nope_never'",
            "aggregation_key": "user_id",
            "suppress": ["2026-06-01T00:00:00+00:00/2026-06-02T00:00:00+00:00"],
        }
    )
    inside = datetime(2026, 6, 1, 12, tzinfo=timezone.utc)
    outside = datetime(2026, 6, 3, tzinfo=timezone.utc)

    e1 = Engine(spark, str(tmp_path / "s1"))
    e1.run_once(events, [thr, dm], eval_time=inside)
    assert len(e1.alerts.docs()) == 0

    e2 = Engine(spark, str(tmp_path / "s2"))
    e2.run_once(events, [thr, dm], eval_time=outside)
    names = {d["alert_name"] for d in e2.alerts.docs()}
    assert {"sup_thr", "sup_dm"} <= names


def test_malformed_suppress_window_raises(spark):
    from datetime import datetime, timezone

    import pytest as _pytest

    from alerta_spark.rules import rule_suppressed

    now = datetime(2026, 1, 1, tzinfo=timezone.utc)
    with _pytest.raises(ValueError):
        rule_suppressed({"suppress": ["2026-01-01T00:00:00"]}, now)
    assert not rule_suppressed({}, now)


def test_malformed_suppress_window_isolated_per_rule(spark, tmp_path, events):
    """One rule with a broken suppress window must not abort the pass:
    the broken rule fails OPEN (not suppressed, still evaluated) and
    every other rule runs normally."""
    from datetime import datetime, timezone

    from alerta_spark.engine import Engine

    broken = {
        "alert_name": "broken_win",
        "criteria": "event_type='purchase'",
        "threshold": 1,
        "aggregation_key": "user_id",
        "suppress": ["not-an-interval"],
    }
    # disjoint criteria: the engine's F8 dedup is global by event_id,
    # so overlapping rules would mask the isolation being tested
    healthy = {
        "alert_name": "healthy",
        "criteria": "event_type='error'",
        "threshold": 1,
        "aggregation_key": "user_id",
    }
    e = Engine(spark, str(tmp_path / "iso"))
    e.run_once(
        events, [broken, healthy],
        eval_time=datetime(2026, 1, 1, tzinfo=timezone.utc),
    )
    names = {d["alert_name"] for d in e.alerts.docs()}
    assert "healthy" in names
    assert "broken_win" in names  # failed open: evaluated, not muted


def test_env_probe_names_deferrals():
    """The deferred-infrastructure probe must run each round and name
    what it checked (COVERAGE.md 'Deferred infrastructure' stays
    honest). If this STARTS reporting delta/PIL as available, the
    matching deferrals are stale — reactivate their done-criteria."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    try:
        import env_probe
    finally:
        sys.path.pop(0)

    result = env_probe.probe()
    assert "probed_at" in result
    for mod in ("delta", "PIL", "pyspark"):
        assert "available" in result[mod], mod
    assert result["pyspark"]["available"] is True


def test_survey_audit_passes():
    """Docs and catalog stay in sync: every entry indexed, no phantom
    entry names in the docs."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/survey_audit.py"],
        cwd="/root/repo",
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_bench_headline_names_all_exist():
    """Every bench.py HEADLINE entry must be a registered catalog
    query — a rename/removal must fail loudly here, not silently
    shrink the driver's bench record."""
    import bench

    from alerta_spark.plans import catalog

    missing = [n for n in bench.HEADLINE if n not in catalog.QUERIES]
    assert not missing, f"benched but unregistered: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench entries"


def _two_thresholds_one_deadman():
    """Two firing threshold rules and one firing deadman rule."""
    return [
        {
            "alert_name": "big_purchases",
            "alert_type": "threshold",
            "criteria": "event_type='purchase' AND CAST(json_extract_scalar(props,'$.k') AS INTEGER) > 50",
            "aggregation_key": "user_id",
            "threshold": 2,
            "summary": "{{metadata.count}} big buys by {{metadata.value}}",
        },
        {
            "alert_name": "errors_by_user",
            "alert_type": "threshold",
            "criteria": "event_type='error'",
            "aggregation_key": "user_id",
            "threshold": 3,
        },
        {
            "alert_name": "dm_quiet_type",
            "alert_type": "deadman",
            "criteria": "event_type='nonexistent_kind'",
            "aggregation_key": "user_id",
            "threshold": 0,
        },
    ]


def test_engine_pass_materializes_each_rule_once(
    spark, events, tmp_path, monkeypatch
):
    """Each threshold or deadman rule's alert documents are built by ONE
    eager checkpoint, whose observed row count decides the write: the
    pass calls no ``isEmpty()``."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"isEmpty": 0, "checkpoint": 0}

    def spy(name, counter, eager_only):
        real = getattr(DataFrame, name)

        def wrapped(self, *a, **k):
            if not eager_only or k.get("eager", a[0] if a else True):
                calls[counter] += 1
            return real(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, wrapped)

    spy("isEmpty", "isEmpty", False)
    spy("checkpoint", "checkpoint", True)
    spy("localCheckpoint", "checkpoint", True)
    rules = _two_thresholds_one_deadman()
    eng = Engine(spark, str(tmp_path / "store"))
    eng.run_once(events, rules)
    monkeypatch.undo()

    assert calls == {"isEmpty": 0, "checkpoint": len(rules)}
    assert {d["alert_name"] for d in eng.alerts.docs()} == {
        r["alert_name"] for r in rules
    }


def test_run_once_logs_documents_per_rule(
    spark, events, tmp_path, caplog, jobs_in_group
):
    """``run_once`` logs one INFO line per threshold or deadman rule with
    the number of documents it emitted — the count the materializing job
    already observed, so logging at INFO runs no extra Spark job."""
    import logging

    rules = _two_thresholds_one_deadman()
    with caplog.at_level(logging.WARNING, logger="alerta_spark.engine"):
        quiet = jobs_in_group(
            "pass-at-warning",
            lambda: Engine(spark, str(tmp_path / "a")).run_once(events, rules),
        )
    caplog.clear()
    eng = Engine(spark, str(tmp_path / "b"))
    with caplog.at_level(logging.INFO, logger="alerta_spark.engine"):
        loud = jobs_in_group("pass-at-info", lambda: eng.run_once(events, rules))

    docs = eng.alerts.docs()
    expected = sorted(
        f"rule {r['alert_name']} ({r['alert_type']}): "
        f"{sum(d['alert_name'] == r['alert_name'] for d in docs)} alerts"
        for r in rules
    )
    logged = sorted(
        rec.getMessage()
        for rec in caplog.records
        if rec.name == "alerta_spark.engine" and rec.levelno == logging.INFO
        and rec.getMessage().startswith("rule ")
    )
    assert logged == expected
    assert all(not line.endswith(": 0 alerts") for line in logged)
    assert loud == quiet


def test_store_write_error_propagates_for_threshold(
    spark, events, tmp_path, monkeypatch
):
    """A failing alert-store write is not a scan failure: it escapes
    ``run_once`` instead of being logged away as the rule's error."""
    from alerta_spark import state

    def unavailable(path):
        raise OSError("alert store unavailable")

    monkeypatch.setattr(state, "_append_dir", unavailable)
    eng = Engine(spark, str(tmp_path / "store"))
    with pytest.raises(OSError, match="alert store unavailable"):
        eng.run_once(events, _two_thresholds_one_deadman()[:1])


def test_store_write_error_propagates_for_deadman(
    spark, events, tmp_path, monkeypatch
):
    """A deadman rule whose store write fails must propagate the error,
    not read it as absence of evidence and write the fallback alert
    (the store accepts every write after the first, so a fallback write
    would land)."""
    from alerta_spark import state

    real = state._append_dir
    failed = []

    def fail_once(path):
        if not failed:
            failed.append(path)
            raise OSError("alert store unavailable")
        return real(path)

    monkeypatch.setattr(state, "_append_dir", fail_once)
    eng = Engine(spark, str(tmp_path / "store"))
    with pytest.raises(OSError, match="alert store unavailable"):
        eng.run_once(events, _two_thresholds_one_deadman()[2:])
    assert len(failed) == 1
    assert eng.alerts.docs() == []


def test_threshold_assembly_error_is_isolated_to_its_rule(
    spark, events, tmp_path, monkeypatch, caplog
):
    """A runtime error while assembling one threshold rule's alert
    documents fails that rule inside its swallow (logged with the rule's
    name); the other rules of the pass still write their alerts."""
    import logging

    from pyspark.sql import functions as F

    from alerta_spark import engine as engine_mod

    real = engine_mod.alert_docs_frame

    def failing_render(fired, id_field="event_id"):
        docs = real(fired, id_field)
        return docs.withColumn(
            "doc",
            F.when(
                F.col("alert_name") == "big_purchases",
                F.raise_error(F.lit("render failed")),
            ).otherwise(F.col("doc")),
        )

    monkeypatch.setattr(engine_mod, "alert_docs_frame", failing_render)
    eng = Engine(spark, str(tmp_path / "store"))
    with caplog.at_level(logging.ERROR, logger="alerta_spark.engine"):
        eng.run_once(events, _two_thresholds_one_deadman())
    assert {d["alert_name"] for d in eng.alerts.docs()} == {
        "errors_by_user", "dm_quiet_type",
    }
    assert [
        rec.getMessage() for rec in caplog.records if rec.levelno == logging.ERROR
    ] == ["threshold scan failed for rule 'big_purchases'"]


def _parquet_files(path):
    import os

    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_threshold_probe_broadcasts_store_without_shuffle(spark, events, tmp_path):
    """The F8 probe of a non-empty alert store is the bare exploded
    store scan: the planner broadcasts it under the left-anti join, with
    no distinct aggregate and so no shuffle on ``alerted_event_id``."""
    from alerta_spark.operators.threshold import threshold_alerts

    big, errors, _ = _two_thresholds_one_deadman()
    eng = Engine(spark, str(tmp_path / "store"))
    eng.run_once(events, [big])
    assert eng.alerts.docs()
    fired = threshold_alerts(events, errors, alerted_ids=eng.alerts.alerted_ids())
    assert fired.collect()
    plan = fired._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning(alerted_event_id" not in plan


def test_deadman_only_pass_jobs(spark, events, tmp_path, jobs_in_group):
    """A deadman rule reads "no group at all" from the group count its
    materializing job observes: a pass whose criteria match nothing runs
    that job and the write of the synthesized alert, with no second scan
    of the events, and a criteria the optimizer folds to false runs the
    write alone."""
    dm = _two_thresholds_one_deadman()[2]
    for name, rule, expected in (
        ("no-match", dm, 2),
        ("false", dict(dm, criteria="1 = 0"), 1),
    ):
        eng = Engine(spark, str(tmp_path / name))
        jobs = jobs_in_group(f"deadman-only-{name}", lambda: eng.run_once(events, [rule]))
        assert jobs == expected, name
        assert len(eng.alerts.docs()) == 1


@pytest.mark.parametrize("criteria", ["event_type='nonexistent_kind'", "1 = 0"])
def test_deadman_absence_alert_through_run_once(spark, events, tmp_path, criteria):
    """No group at all fires exactly one synthesized alert: count 0,
    the aggregation key as the value, and no events."""
    dm = dict(_two_thresholds_one_deadman()[2], criteria=criteria)
    eng = Engine(spark, str(tmp_path / "store"))
    eng.run_once(events, [dm])
    [doc] = eng.alerts.docs()
    assert doc["alert_name"] == dm["alert_name"]
    assert doc["metadata"] == {"value": dm["aggregation_key"], "count": 0}
    assert doc["events"] == []


def test_deadman_groups_above_threshold_write_nothing(spark, events, tmp_path):
    """Groups exist and all exceed the threshold: no alert, and the pass
    adds no part file to the alert store."""
    dm = dict(_two_thresholds_one_deadman()[2], criteria="event_type='purchase'")
    eng = Engine(spark, str(tmp_path / "store"))
    eng.run_once(events, [_two_thresholds_one_deadman()[0]])
    before = _parquet_files(eng.alerts.path)
    eng.run_once(events, [dm])
    assert _parquet_files(eng.alerts.path) == before
    assert {d["alert_name"] for d in eng.alerts.docs()} == {"big_purchases"}


def test_deadman_mixed_groups_fire_only_at_or_below_threshold(spark, events, tmp_path):
    """Only the groups whose count is at or below the threshold fire;
    with groups present there is no synthesized row."""
    counts = {
        str(r["user_id"]): r["count"]
        for r in events.where("event_type='purchase' AND user_id IS NOT NULL")
        .groupBy("user_id")
        .count()
        .collect()
    }
    threshold = sorted(counts.values())[len(counts) // 2]
    expected = {(k, c) for k, c in counts.items() if c <= threshold}
    assert 0 < len(expected) < len(counts)
    dm = dict(
        _two_thresholds_one_deadman()[2],
        criteria="event_type='purchase'",
        threshold=threshold,
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.run_once(events, [dm])
    docs = eng.alerts.docs()
    assert {(d["metadata"]["value"], d["metadata"]["count"]) for d in docs} == expected
    assert len(docs) == len(expected)
    assert all(d["events"] for d in docs)


def test_f8_removes_ids_repeated_across_stored_alerts(spark, events, tmp_path):
    """An event id captured by two stored documents (a deadman alert and
    a threshold alert) appears twice in the store probe and is still
    removed by the next pass's anti-join."""
    errors = _two_thresholds_one_deadman()[1]
    dm_errors = {
        "alert_name": "few_errors",
        "alert_type": "deadman",
        "criteria": "event_type='error'",
        "aggregation_key": "user_id",
        "threshold": 1000,
    }
    eng = Engine(spark, str(tmp_path / "store"))
    eng.run_once(events, [errors, dm_errors])
    ids = [r["alerted_event_id"] for r in eng.alerts.alerted_ids().collect()]
    repeated = {i for i in ids if ids.count(i) > 1}
    assert repeated
    names = {d["alert_name"] for d in eng.alerts.docs()}
    assert names == {"errors_by_user", "few_errors"}

    eng.run_once(events, [dict(errors, alert_name="errors_again", threshold=1)])
    assert {d["alert_name"] for d in eng.alerts.docs()} == names
