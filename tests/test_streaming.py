"""Structured Streaming semantics: sequence correlator, windowed
threshold, watermark dedup (SURVEY.md §2.7 T1-T7)."""

import json

import pytest

from pyspark.sql import functions as F

from alerta_spark.streaming.correlator import (
    sequence_correlator,
    sequence_correlator_tws,
    streaming_dedup,
    streaming_threshold_alerts,
)

RULE = {
    "alert_name": "risky_seq",
    "alert_type": "sequence",
    "lifespan": "7 days",
    "slots": [
        {
            "alert_name": "s1",
            "alert_type": "threshold",
            "criteria": "source='onelogin' AND CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
            "aggregation_key": "details.user_name",
            "threshold": 2,
        },
        {
            "alert_name": "s2",
            "alert_type": "threshold",
            "criteria": "source='onelogin' AND json_extract_scalar(details,'$.user_name')='{{slots.0.events.0.details.user_name}}'",
            "aggregation_key": "details.user_name",
            "threshold": 1,
        },
    ],
}


def _events(spark, rows):
    data = [
        {
            "event_id": i,
            "ts": f"2026-01-01 {h:02d}:00:00",
            "source": "onelogin",
            "details": json.dumps(d),
        }
        for i, (h, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(data)
    return df.withColumn("ts", F.to_timestamp("ts")).select(
        "event_id", "ts", "source", "details"
    )


def _run_stream(spark, events_df, builder, name):
    """Round-trip a batch frame through a real file-source stream.

    A stateful query with ProcessingTimeTimeout does NOT self-terminate
    under availableNow while un-fired timers remain armed (e.g. a
    7-day sequence expiry), so a bare awaitTermination(120) burns its
    full budget on every such test (~2 min each, measured). Stop the
    query explicitly once a batch processes zero input rows — all test
    data is on disk before start, so a drained batch means done."""
    import tempfile
    import time

    src = tempfile.mkdtemp(prefix="stream_src_")
    ck = tempfile.mkdtemp(prefix="stream_ck_")
    events_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events_df.schema).parquet(src)
    out = builder(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    while q.isActive and time.time() < deadline:
        q.awaitTermination(2)
        lp = q.lastProgress
        if lp and lp["numInputRows"] == 0:
            q.stop()
            break
    q.awaitTermination(30)
    return spark.sql(f"SELECT * FROM {name}")


def test_sequence_correlator_completes_per_key(spark):
    risky = lambda u, score=95: {"risk_score": str(score), "user_name": u}  # noqa: E731
    ev = _events(
        spark,
        [
            (0, risky("alice")),
            (1, risky("alice")),   # slot0 threshold=2 reached
            (2, risky("alice")),   # slot1 threshold=1 -> complete
            (3, risky("bob")),     # bob: only 1 slot0 match -> incomplete
            (4, risky("carol", score=10)),  # never matches slot0
        ],
    )
    out = _run_stream(
        spark,
        ev,
        lambda s: sequence_correlator(s, RULE, "details.user_name"),
        "seq_out",
    ).collect()
    done = {r["correlation_value"]: r for r in out}
    assert "alice" in done and done["alice"]["expired"] is False
    assert list(done["alice"]["slot_counts"]) == [2, 1]
    assert "bob" not in done and "carol" not in done


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


from contextlib import contextmanager


@contextmanager
def _rocksdb_state_store(spark):
    """transformWithState needs a state store with column families —
    RocksDB (bundled rocksdbjni), not the default HDFS-backed one;
    set per-test and restored so the legacy-path tests keep their
    default provider."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prior)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs protobuf (absent in this env)",
)
def test_sequence_correlator_tws_completes_per_key(spark):
    """transformWithStateInPandas (arbitrary-state v2) path produces
    the same completions as the applyInPandasWithState path."""
    risky = lambda u, score=95: {"risk_score": str(score), "user_name": u}  # noqa: E731
    ev = _events(
        spark,
        [
            (0, risky("alice")),
            (1, risky("alice")),
            (2, risky("alice")),
            (3, risky("bob")),
            (4, risky("carol", score=10)),
        ],
    )
    with _rocksdb_state_store(spark):
        out = _run_stream(
            spark,
            ev,
            lambda s: sequence_correlator_tws(s, RULE, "details.user_name"),
            "seq_tws_out",
        ).collect()
    done = {r["correlation_value"]: r for r in out}
    assert "alice" in done and done["alice"]["expired"] is False
    assert list(done["alice"]["slot_counts"]) == [2, 1]
    assert "bob" not in done and "carol" not in done


def test_sequence_correlator_tws_requires_protobuf(spark, monkeypatch):
    """The tws variant must fail fast with a clear message where
    protobuf is unavailable. Simulated by blocking the import (works
    whether or not protobuf is actually present in this env)."""
    import importlib.abc
    import sys

    class _Block(importlib.abc.MetaPathFinder):
        def find_spec(self, name, path=None, target=None):
            if name == "google" or name.startswith("google."):
                raise ImportError("blocked for test")
            return None

    for mod in [m for m in sys.modules if m == "google" or m.startswith("google.")]:
        monkeypatch.delitem(sys.modules, mod, raising=False)
    monkeypatch.setattr(sys, "meta_path", [_Block()] + sys.meta_path)

    ev = _events(spark, [(0, {"risk_score": "95", "user_name": "a"})])
    with pytest.raises(ImportError, match="protobuf"):
        sequence_correlator_tws(ev, RULE, "details.user_name")


def test_sequence_correlator_batch_mode_same_result(spark):
    """The correlator is mode-agnostic: batch input gives the same
    completed sequences (timeout-driven paths aside)."""
    risky = lambda u: {"risk_score": "95", "user_name": u}  # noqa: E731
    ev = _events(spark, [(0, risky("a")), (1, risky("a")), (2, risky("a"))])
    rows = sequence_correlator(ev, RULE, "details.user_name").collect()
    assert len(rows) == 1 and rows[0]["correlation_value"] == "a"


def test_streaming_threshold_windowed(spark):
    ev = _events(
        spark,
        [
            (0, {"risk_score": "95", "user_name": "u1"}),
            (0, {"risk_score": "96", "user_name": "u1"}),
            (5, {"risk_score": "97", "user_name": "u1"}),  # different window
        ],
    )
    rule = {
        "alert_name": "risky_hour",
        "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
        "aggregation_key": "details.user_name",
        "threshold": 2,
    }
    got = _run_stream(
        spark,
        ev,
        lambda s: streaming_threshold_alerts(s, rule, window="1 hour"),
        "thr_out",
    ).collect()
    assert len(got) == 1
    assert got[0]["metadata"]["count"] == 2


def test_streaming_dedup(spark):
    ev = _events(spark, [(0, {"x": 1}), (1, {"x": 2})])
    dup = ev.union(ev)
    got = _run_stream(spark, dup, lambda s: streaming_dedup(s), "dedup_out")
    assert got.count() == 2


def test_streaming_dedup_state_is_watermark_evictable(spark):
    """Plan guard for the unbounded-state hazard: dedup keyed on the
    id alone must run as StreamingDeduplicateWithinWatermark (state
    evicted once the watermark passes each key's event time) — plain
    StreamingDeduplicate without the event-time column in its keys
    never evicts, and its state grows with every distinct event id."""
    ev = _events(spark, [(0, {"x": 1})])
    stream = (
        spark.readStream.format("rate").load()
        .selectExpr(
            "value AS event_id",
            "timestamp AS ts",
            "'onelogin' AS source",
            "'{}' AS details",
        )
    )
    plan = streaming_dedup(stream)._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan, plan
    # and the batch twin (plain dropDuplicates — WithinWatermark is
    # stream-only) still dedups exactly
    got = streaming_dedup(ev.union(ev))
    assert not got.isStreaming and got.count() == 1


def test_stream_alerts_sink_persists(spark, tmp_path):
    """Streaming threshold alerts land in the alerts table (S7 under
    streaming) and are readable for the next run's F8 dedup."""
    import tempfile

    from alerta_spark.sources.sinks import load_alerts, stream_alerts

    ev = _events(
        spark,
        [
            (0, {"risk_score": "95", "user_name": "u1"}),
            (0, {"risk_score": "96", "user_name": "u1"}),
            # later non-matching event advances the watermark past the
            # first window so the append-mode aggregate finalizes
            (5, {"risk_score": "10", "user_name": "u2"}),
        ],
    )
    rule = {
        "alert_name": "risky_hour",
        "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
        "aggregation_key": "details.user_name",
        "threshold": 2,
    }
    src = tempfile.mkdtemp(prefix="sink_src_")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = streaming_threshold_alerts(stream, rule, window="1 hour")
    q = stream_alerts(
        out,
        str(tmp_path / "alerts"),
        str(tmp_path / "ck"),
        query_name="sink_test",
    )
    q.awaitTermination(120)
    got = load_alerts(spark, str(tmp_path / "alerts"))
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0]["metadata"]["count"] == 2
    assert rows[0]["_id"] is not None and rows[0]["utcepoch"] is not None


def test_sequence_correlator_event_time_deadman(spark, tmp_path):
    """threshold -> deadman sequence driven by the DATA clock: the
    deadman fires when the watermark passes last_event + lifespan.
    Two waves through one checkpoint; the second wave only advances the
    watermark (its event matches nothing)."""
    rule = {
        "alert_name": "login_then_silence",
        "alert_type": "sequence",
        "lifespan": "1 hour",
        "slots": [
            {
                "alert_name": "risky_login",
                "alert_type": "threshold",
                "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
                "threshold": 1,
            },
            {
                "alert_name": "then_silence",
                "alert_type": "deadman",
                "threshold": 0,
            },
        ],
    }
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def run_wave(events_df, name):
        events_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(events_df.schema).parquet(src)
        out = sequence_correlator(
            stream, rule, "details.user_name", time_mode="eventTime"
        )
        emitted = []
        q = (
            out.writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .queryName(name)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    w1 = run_wave(
        _events(spark, [(0, {"risk_score": "95", "user_name": "alice"})]), "et_w1"
    )
    assert w1 == []  # slot 0 filled; deadman pending on the data clock
    # wave 2: an unrelated low-risk event 10 hours later — advances the
    # watermark to 08:00 (2h delay), past alice's 01:00 deadline
    w2 = run_wave(
        _events(spark, [(10, {"risk_score": "1", "user_name": "zed"})]), "et_w2"
    )
    done = {r["correlation_value"]: r for r in w2}
    assert "alice" in done
    assert done["alice"]["expired"] is False
    assert list(done["alice"]["slot_counts"]) == [1, 0]


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs protobuf (absent in this env)",
)
def test_sequence_correlator_tws_event_time_deadman(spark, tmp_path):
    """The tws variant's TIMER channel (handleExpiredTimer with
    watermark-driven timers): threshold -> deadman sequence on the
    data clock, two waves through one checkpoint — same shape and
    assertions as the applyInPandasWithState test above."""
    rule = {
        "alert_name": "login_then_silence_tws",
        "alert_type": "sequence",
        "lifespan": "1 hour",
        "slots": [
            {
                "alert_name": "risky_login",
                "alert_type": "threshold",
                "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
                "threshold": 1,
            },
            {
                "alert_name": "then_silence",
                "alert_type": "deadman",
                "threshold": 0,
            },
        ],
    }
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def run_wave(events_df, name):
        events_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(events_df.schema).parquet(src)
        out = sequence_correlator_tws(
            stream, rule, "details.user_name", time_mode="eventTime"
        )
        emitted = []
        q = (
            out.writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .queryName(name)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    with _rocksdb_state_store(spark):
        w1 = run_wave(
            _events(spark, [(0, {"risk_score": "95", "user_name": "alice"})]),
            "tws_et_w1",
        )
        assert w1 == []  # slot 0 filled; deadman pending on the data clock
        w2 = run_wave(
            _events(spark, [(10, {"risk_score": "1", "user_name": "zed"})]),
            "tws_et_w2",
        )
    done = {r["correlation_value"]: r for r in w2}
    assert "alice" in done
    assert done["alice"]["expired"] is False
    assert list(done["alice"]["slot_counts"]) == [1, 0]


def test_sequence_correlator_chatty_key_still_expires(spark, tmp_path):
    """Fixed lifespan expiry end-to-end: non-matching chatter must NOT
    extend a sequence's life (the pre-fix sliding timeout re-armed off
    last_ms, so a chatty key never expired). bob's sequence starts at
    00:00 with a 2h lifespan; chatter runs through 04:00; the watermark
    reaching 04:00 (> 02:00 deadline, < any slid deadline) expires it."""
    rule = {
        "alert_name": "start_then_stall",
        "alert_type": "sequence",
        "lifespan": "2 hours",
        "slots": [
            {
                "alert_name": "risky",
                "alert_type": "threshold",
                "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
                "threshold": 1,
            },
            {
                "alert_name": "never",
                "alert_type": "threshold",
                "criteria": "json_extract_scalar(details,'$.kind')='unicorn'",
                "threshold": 1,
            },
        ],
    }
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")

    def run_wave(events_df, name):
        events_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(events_df.schema).parquet(src)
        out = sequence_correlator(stream, rule, "details.user_name", time_mode="eventTime")
        emitted = []
        q = (
            out.writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .queryName(name)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    wave1 = [(0, {"risk_score": "95", "user_name": "bob"})] + [
        (h, {"risk_score": "1", "user_name": "bob"}) for h in (1, 2, 3, 4)
    ]
    assert run_wave(_events(spark, wave1), "chatty_w1") == []
    # watermark -> 04:00 (06:00 - 2h delay): past the FIXED 02:00
    # deadline; a slid deadline (04:00 + 2h) would still be pending
    w2 = run_wave(
        _events(spark, [(6, {"risk_score": "1", "user_name": "zed"})]), "chatty_w2"
    )
    done = {r["correlation_value"]: r for r in w2}
    assert "bob" in done
    assert done["bob"]["expired"] is True
    assert list(done["bob"]["slot_counts"]) == [1, 0]


def test_sequence_correlator_sliding_deadman_window(spark, tmp_path):
    """Criteria-aware deadman with an explicit sliding window: a
    matching heartbeat RESTARTS the absence clock (pre-fix, deadman
    matches were never consulted); silence through the restarted
    window then fires the absence."""
    rule = {
        "alert_name": "login_then_heartbeat_stops",
        "alert_type": "sequence",
        "lifespan": "1 day",
        "slots": [
            {
                "alert_name": "risky",
                "alert_type": "threshold",
                "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
                "threshold": 1,
            },
            {
                "alert_name": "heartbeat_absent",
                "alert_type": "deadman",
                "criteria": "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)<5",
                "threshold": 0,
                "window": "1 hour",
            },
        ],
    }
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")

    def run_wave(events_df, name):
        events_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(events_df.schema).parquet(src)
        out = sequence_correlator(stream, rule, "details.user_name", time_mode="eventTime")
        emitted = []
        q = (
            out.writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .queryName(name)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    # 00:00 risky login (slot 0, anchor 00:00); 01:00 heartbeat matches
    # the deadman criteria -> over budget (threshold 0) -> window
    # restarts at 01:00
    wave1 = [
        (0, {"risk_score": "95", "user_name": "bob"}),
        (1, {"risk_score": "1", "user_name": "bob"}),
    ]
    assert run_wave(_events(spark, wave1), "slide_w1") == []
    # watermark -> 03:00: past the restarted 02:00 edge -> absence
    # confirmed -> sequence completes (not expired)
    w2 = run_wave(
        _events(spark, [(5, {"risk_score": "50", "user_name": "zed"})]), "slide_w2"
    )
    done = {r["correlation_value"]: r for r in w2}
    assert "bob" in done
    assert done["bob"]["expired"] is False
    assert list(done["bob"]["slot_counts"]) == [1, 0]  # count reset on restart


HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS


def test_slot_machine_deadman_timeout():
    """Deadman slot advances at the fixed deadline (absence confirmed);
    the same deadline reaps a stalled threshold slot (T5/T6)."""
    from alerta_spark.streaming.correlator import SlotMachine

    m = SlotMachine(["threshold", "deadman"], [1, 0], lifespan_ms=DAY_MS)
    st, completed = m.on_events(m.initial(0), [(1000, "e1", [True, False])])
    assert st[0] == 1 and not completed  # slot 0 filled, waiting on deadman

    # fixed deadline reached while on the deadman slot with an empty
    # match budget -> absence confirmed -> complete
    st2, completed, expired = m.on_timeout(st, DAY_MS)
    assert completed and not expired and st2[0] == 2

    # timeout while on a THRESHOLD slot -> lifespan expiry
    m2 = SlotMachine(["threshold", "threshold"], [1, 1], lifespan_ms=DAY_MS)
    st3, _ = m2.on_events(m2.initial(0), [(1000, "e1", [True, False])])
    _, completed3, expired3 = m2.on_timeout(st3, DAY_MS)
    assert not completed3 and expired3


def test_slot_machine_expiry_is_fixed_not_sliding():
    """A chatty key must still expire: non-matching activity (or slot-0
    matches below threshold) never extends the deadline (reference
    expiration = creation + lifespan, alerta.py:266-268)."""
    from alerta_spark.streaming.correlator import SlotMachine

    m = SlotMachine(["threshold"], [3], lifespan_ms=DAY_MS)
    st = m.initial(0)
    # events trickle in right up to the deadline without reaching 3
    for t in range(0, DAY_MS, HOUR_MS):
        st, completed = m.on_events(st, [(t, f"e{t}", [True])])
        assert not completed or st[1][0] < 3
        if st[1][0] >= 2:
            break
    assert m.next_wakeup(st) == DAY_MS  # never re-based on activity
    _, completed, expired = m.on_timeout(st, DAY_MS)
    assert expired and not completed


def test_slot_machine_deadman_criteria_participate():
    """Matching events during a deadman slot count against the absence:
    over-budget matches latch failure for an until-deadline window, and
    restart an explicit sliding window (reference
    determine_deadman_trigger: count <= threshold is the trigger)."""
    from alerta_spark.streaming.correlator import SlotMachine

    # until-deadline window (None): one match > threshold 0 -> latched
    m = SlotMachine(["deadman"], [0], lifespan_ms=DAY_MS)
    st = m.initial(0)
    st, completed = m.on_events(st, [(1000, "e1", [True])])
    assert not completed
    st, completed, expired = m.on_timeout(st, DAY_MS)
    assert expired and not completed  # absence violated -> never fires

    # tolerated budget: threshold 1 allows one match and still fires
    m2 = SlotMachine(["deadman"], [1], lifespan_ms=DAY_MS)
    st2 = m2.initial(0)
    st2, _ = m2.on_events(st2, [(1000, "e1", [True])])
    st2, completed2, expired2 = m2.on_timeout(st2, DAY_MS)
    assert completed2 and not expired2

    # explicit sliding window: a match restarts the absence clock
    m3 = SlotMachine(
        ["deadman"], [0], lifespan_ms=DAY_MS, slot_windows_ms=[HOUR_MS]
    )
    st3 = m3.initial(0)
    st3, _ = m3.on_events(st3, [(30 * 60_000, "e1", [True])])
    # at the ORIGINAL window edge the restarted window hasn't elapsed
    st3, completed3, expired3 = m3.on_timeout(st3, HOUR_MS)
    assert not completed3 and not expired3
    assert m3.next_wakeup(st3) == 30 * 60_000 + HOUR_MS
    # silence through the restarted window -> absence confirmed
    st3, completed3, expired3 = m3.on_timeout(st3, 30 * 60_000 + HOUR_MS)
    assert completed3 and not expired3


def test_slot_machine_event_cannot_double_fill():
    from alerta_spark.streaming.correlator import SlotMachine

    m = SlotMachine(["threshold", "threshold"], [1, 1], lifespan_ms=DAY_MS)
    # one event matching BOTH slots must not complete the sequence alone
    st, completed = m.on_events(m.initial(0), [(1000, "e1", [True, True])])
    assert st[0] == 1 and not completed
    st, completed = m.on_events(st, [(2000, "e2", [True, True])])
    assert completed and st[1] == [1, 1]


def test_slot_machine_mid_deadman_then_threshold():
    """threshold -> deadman(1h window) -> threshold: the middle slot's
    absence window elapsing advances it, then events fill the last."""
    from alerta_spark.streaming.correlator import SlotMachine

    m = SlotMachine(
        ["threshold", "deadman", "threshold"],
        [1, 0, 1],
        lifespan_ms=DAY_MS,
        slot_windows_ms=[None, HOUR_MS, None],
    )
    st, completed = m.on_events(m.initial(0), [(1, "a", [True, False, False])])
    assert st[0] == 1
    st, completed, expired = m.on_timeout(st, 1 + HOUR_MS)
    assert st[0] == 2 and not completed and not expired
    st, completed = m.on_events(st, [(2 + HOUR_MS, "b", [False, False, True])])
    assert completed


def test_streaming_session_windows_match_batch(spark):
    """T2-adjacent: the SAME session_window aggregate that backs batch
    session_window_stats, run as a real watermarked stream, finalizes
    exactly the sessions the batch sessionizer computes. A far-future
    sentinel user pushes the global watermark past every real session
    so append mode emits them all; the sentinel's own (unfinalized)
    session is excluded from the comparison."""
    import datetime as dt

    from pyspark.sql import Row

    from alerta_spark.ops.sessions import session_stats, session_window_stats

    base = dt.datetime(2026, 1, 1)
    rows = [
        (1, 0), (1, 10), (1, 50),          # user 1: two sessions
        (2, 0), (2, 29), (2, 58),          # user 2: one chained session
        (3, 5),                            # user 3: singleton
        (999, 60 * 24 * 10),               # sentinel: +10 days
    ]
    ev = spark.createDataFrame(
        [
            Row(event_id=i, user_id=u, ts=base + dt.timedelta(minutes=m))
            for i, (u, m) in enumerate(rows)
        ]
    )
    got = _run_stream(
        spark,
        ev,
        lambda s: session_window_stats(s.withWatermark("ts", "1 second"), 30),
        "sess_win_out",
    )
    stream_set = {
        (r.user_id, r.session_start, r.n_events)
        for r in got.collect()
        if r.user_id != 999
    }
    batch_set = {
        (r.user_id, r.session_start, r.n_events)
        for r in session_stats(ev.where(F.col("user_id") != 999), 30).collect()
    }
    assert stream_set == batch_set and len(batch_set) == 4


def test_streaming_fused_thresholds_match_per_rule(spark):
    """Fused N-rule streaming aggregate == union of per-rule streaming
    queries, including a sparse-match rule (exercises the NULL sentinel
    keeping the event-time clock honest)."""
    from alerta_spark.streaming.correlator import (
        streaming_threshold_alerts,
        streaming_threshold_alerts_fused,
    )

    risky = lambda u, s=95: {"risk_score": str(s), "user_name": u}  # noqa: E731
    ev = _events(
        spark,
        [
            (0, risky("alice")),
            (0, risky("alice")),
            (1, risky("bob")),
            (2, risky("carol", 10)),
            (3, risky("dora", 99)),   # late hours advance the watermark
            (9, risky("eve", 10)),
        ],
    )
    rules = [
        {
            "alert_name": "risky_users",
            "alert_type": "threshold",
            "criteria": "CAST(json_extract_scalar(details,'$.risk_score') AS INTEGER) > 50",
            "aggregation_key": "details.user_name",
            "threshold": 2,
        },
        {
            # sparse: matches nothing in this stream
            "alert_name": "never_fires",
            "alert_type": "threshold",
            "criteria": "json_extract_scalar(details,'$.user_name') = 'zeus'",
            "aggregation_key": "details.user_name",
            "threshold": 1,
        },
    ]
    fused = sorted(
        (r.alert_name, r.window_start, r.metadata.value, r.metadata["count"])
        for r in _run_stream(
            spark,
            ev,
            lambda s: streaming_threshold_alerts_fused(s, rules, window="1 hour"),
            "fused_thr_out",
        ).collect()
    )
    per_rule = []
    for i, rule in enumerate(rules):
        per_rule.extend(
            (rule["alert_name"], r.window_start, r.metadata.value, r.metadata["count"])
            for r in _run_stream(
                spark,
                ev,
                lambda s, rule=rule: streaming_threshold_alerts(s, rule, window="1 hour"),
                f"single_thr_out_{i}",
            ).collect()
        )
    assert fused == sorted(per_rule) and len(fused) > 0


def test_streaming_fused_overlap_diverges_from_batch(spark, tmp_path):
    """Pin the DOCUMENTED batch<->streaming divergence on overlapping
    threshold rules: the batch engine's rule-ordered loop applies
    intra-pass F8 (rule 2 must NOT re-alert the events rule 1 captured
    this pass), while the streaming fused aggregate counts overlapping
    captures per rule (== N independent single-rule queries, no
    history probe). Guards the batch semantics from being misread as
    a streaming guarantee."""
    from alerta_spark.engine import Engine
    from alerta_spark.streaming.correlator import (
        streaming_threshold_alerts_fused,
    )

    risky = lambda u: {"risk_score": "95", "user_name": u}  # noqa: E731
    ev = _events(
        spark,
        [(0, risky("alice")), (0, risky("alice")), (9, risky("late"))],
    )
    overlapping = [
        {
            "alert_name": f"overlap_{k}",
            "alert_type": "threshold",
            "criteria": (
                "CAST(json_extract_scalar(details,'$.risk_score') "
                "AS INTEGER) > 50"
            ),
            "aggregation_key": "details.user_name",
            "threshold": 2,
        }
        for k in (1, 2)
    ]

    # batch: same criteria, rule-ordered loop semantics -> only rule 1
    eng = Engine(spark, str(tmp_path / "overlap_store"))
    eng.run_once(ev, overlapping)
    batch_fired = sorted(
        (d["alert_name"], d["metadata"]["value"]) for d in eng.alerts.docs()
    )
    assert batch_fired == [("overlap_1", "alice")]

    # streaming: per-rule independent windowed counts -> both rules
    stream_fired = sorted(
        (r.alert_name, r.metadata.value, r.metadata["count"])
        for r in _run_stream(
            spark,
            ev,
            lambda s: streaming_threshold_alerts_fused(
                s, overlapping, window="1 hour"
            ),
            "overlap_stream_out",
        ).collect()
    )
    assert stream_fired == [
        ("overlap_1", "alice", 2),
        ("overlap_2", "alice", 2),
    ]


def test_sequence_correlator_reproduces_funnel(spark):
    """Coherence pin between the two 'ordered steps per key' surfaces:
    a funnel IS a 3-slot all-threshold-1 sequence rule. On real events
    (no same-user ts ties at this sf), the batch correlator's completed
    sequences must be exactly the funnel's final-step converters — the
    security-alert flagship and the analytics funnel agree user for
    user."""
    from alerta_spark.ops.sessions import funnel_conversion_times
    from alerta_spark.sources.lake import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    steps = ["signup", "view", "purchase"]
    rule = {
        "alert_name": "funnel_as_sequence",
        "lifespan": "365 days",
        "slots": [
            {
                "alert_name": s,
                "alert_type": "threshold",
                "criteria": f"event_type='{s}'",
                "aggregation_key": "user_id",
                "threshold": 1,
            }
            for s in steps
        ],
    }
    done = {
        r["correlation_value"]
        for r in sequence_correlator(ev, rule, "user_id").collect()
        if not r["expired"]
    }
    conv = funnel_conversion_times(
        ev, [(s, F.col("event_type") == s) for s in steps]
    ).collect()
    funnel_done = {str(r.user_id) for r in conv if r.conv_times[2] is not None}
    assert len(funnel_done) > 0
    assert done == funnel_done


def test_stream_stream_attribution_matches_batch(spark):
    """The stream-stream interval join (two live file streams, both
    watermarked, joined on user within a 1h event-time window) emits
    exactly the batch range-join answer — and the time-range predicate
    reaches the streaming join so state stays bounded."""
    import tempfile

    from alerta_spark.sources.lake import load_events
    from alerta_spark.streaming.attribution import attribute_purchases

    ev = load_events(spark, "/root/testdata/sf0.001")
    clicks_b = ev.where(F.col("event_type") == "click")
    purch_b = ev.where(F.col("event_type") == "purchase")
    expect = sorted(
        map(tuple, attribute_purchases(clicks_b, purch_b).collect())
    )
    assert len(expect) > 0

    dirs = [tempfile.mkdtemp(prefix=p) for p in ("att_c_", "att_p_", "att_ck_")]
    clicks_b.write.mode("overwrite").parquet(dirs[0])
    purch_b.write.mode("overwrite").parquet(dirs[1])
    cs = spark.readStream.schema(clicks_b.schema).parquet(dirs[0])
    ps = spark.readStream.schema(purch_b.schema).parquet(dirs[1])
    out = attribute_purchases(cs, ps)
    q = (
        out.writeStream.format("memory")
        .queryName("att_out")
        .option("checkpointLocation", dirs[2])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM att_out").collect()))
    assert got == expect


def test_stream_static_enrichment_broadcast_join(spark, tmp_path, events):
    """Micro-batch enrichment: a streaming scan joined to a static
    user dimension (broadcast) — the standard stream-side dim lookup.
    Results must equal the batch join over the same files."""
    src = str(tmp_path / "ss_src")
    out = str(tmp_path / "ss_out")
    ck = str(tmp_path / "ss_ck")
    events.write.mode("overwrite").parquet(src)

    dim = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("lifetime_events")
    )
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "lifetime_events"
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["event_id"], r["user_id"], r["lifetime_events"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["event_id"], r["user_id"], r["lifetime_events"])
        for r in events.join(F.broadcast(dim), "user_id")
        .select("event_id", "user_id", "lifetime_events")
        .collect()
    }
    assert got == want and len(got) == events.count()


def test_correlator_expiry_is_not_followed_by(spark):
    """Coherence pin #2: a 2-slot sequence (purchase -> view, lifespan
    1 hour) driven in EVENT-TIME mode must expire exactly the users
    the batch negative-CEP formulation flags as 'purchase not followed
    by a view within 1h' — the streaming flagship and the analytic
    NOT EXISTS are one semantics. One purchase per user keeps the
    instance/occurrence mapping 1:1."""
    rule = {
        "alert_name": "abandoned",
        "alert_type": "sequence",
        "lifespan": "1 hours",
        "slots": [
            {
                "alert_name": "buy",
                "alert_type": "threshold",
                "criteria": "json_extract_scalar(details,'$.et')='purchase'",
                "aggregation_key": "details.user",
                "threshold": 1,
            },
            {
                "alert_name": "look",
                "alert_type": "threshold",
                "criteria": "json_extract_scalar(details,'$.et')='view'",
                "aggregation_key": "details.user",
                "threshold": 1,
            },
        ],
    }
    rows = []
    # alice: view 30m after purchase -> completes
    rows.append((1, {"et": "purchase", "user": "alice"}))
    rows.append((1.5, {"et": "view", "user": "alice"}))
    # bob: view 2h after -> expired (outside lifespan)
    rows.append((2, {"et": "purchase", "user": "bob"}))
    rows.append((4, {"et": "view", "user": "bob"}))
    # carol: never views -> expired
    rows.append((3, {"et": "purchase", "user": "carol"}))
    # sentinel far ahead advances the watermark past every expiry
    rows.append((20, {"et": "noop", "user": "zzz"}))

    import json as _json

    data = [
        {
            "event_id": i,
            "ts": f"2026-01-01 {int(h):02d}:{int(h * 60) % 60:02d}:00",
            "source": "s",
            "details": _json.dumps(d),
        }
        for i, (h, d) in enumerate(rows)
    ]
    ev = (
        spark.createDataFrame(data)
        .withColumn("ts", F.to_timestamp("ts"))
        .select("event_id", "ts", "source", "details")
    )
    out = _run_stream(
        spark,
        ev,
        lambda s: sequence_correlator(
            s, rule, "details.user", time_mode="eventTime"
        ),
        "cep_seq_out",
    ).collect()
    got = {r["correlation_value"]: r["expired"] for r in out}

    # batch negative-CEP over the same frame: purchases with no view
    # by the same user within the following hour
    et = F.get_json_object("details", "$.et")
    user = F.get_json_object("details", "$.user")
    base = ev.select(
        user.alias("u"), et.alias("et"), F.unix_micros("ts").alias("t")
    ).where(F.col("et").isin("purchase", "view"))
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("u")
        .orderBy("t")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nxt = base.withColumn(
        "nv", F.min(F.when(F.col("et") == "view", F.col("t"))).over(w)
    )
    abandoned = {
        r["u"]
        for r in nxt.where(F.col("et") == "purchase")
        .where(
            F.col("nv").isNull()
            | (F.col("nv") > F.col("t") + 3_600_000_000)
        )
        .collect()
    }
    assert abandoned == {"bob", "carol"}
    assert {u for u, exp in got.items() if exp} == abandoned
    assert got.get("alice") is False


def test_sequence_correlator_fused_rules_match_singles(spark):
    """N rules through ONE streaming query + state store (the fused
    correlator) must emit exactly the union of N single-rule runs —
    the streaming face of the engine's one-scan sequence pass."""
    import json as _json

    risky = lambda u, score=95: {"risk_score": str(score), "user_name": u}  # noqa: E731
    rule_a = _json.loads(_json.dumps(RULE))
    rule_a["alert_name"] = "seq_a"
    rule_b = _json.loads(_json.dumps(RULE))
    rule_b["alert_name"] = "seq_b"
    # rule_b fires on a LOWER score bar and needs only 1 slot-0 event
    rule_b["slots"][0]["criteria"] = (
        "source='onelogin' AND "
        "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>50"
    )
    rule_b["slots"][0]["threshold"] = 1

    ev = _events(
        spark,
        [
            (0, risky("alice")),
            (1, risky("alice")),   # a: slot0 done; b: complete by now
            (2, risky("alice")),   # a: complete
            (3, risky("bob", score=60)),   # only b's slot0 matches
            (4, risky("bob", score=60)),   # b: complete for bob
            (5, risky("carol", score=10)),  # matches nothing
        ],
    )

    def canon(rows):
        return sorted(
            (
                r["alert_name"],
                r["correlation_value"],
                tuple(r["slot_counts"]),
                r["expired"],
            )
            for r in rows
        )

    fused = canon(
        _run_stream(
            spark,
            ev,
            lambda s: sequence_correlator(
                s, [rule_a, rule_b], "details.user_name"
            ),
            "seq_fused_out",
        ).collect()
    )
    singles = []
    for i, r in enumerate((rule_a, rule_b)):
        singles.extend(
            _run_stream(
                spark,
                ev,
                lambda s, _r=r: sequence_correlator(
                    s, _r, "details.user_name"
                ),
                f"seq_single_{i}_out",
            ).collect()
        )
    assert fused == canon(singles)
    names = {n for n, *_ in fused}
    assert names == {"seq_a", "seq_b"}


def test_sequence_correlator_composite_key_two_variables(spark):
    """A rule whose templated slot pins TWO captured fields (user AND
    ip) must key by the COMPOSITE of both paths: _static_criteria
    drops every templated conjunct, so a user-only key would treat the
    ip equality as always-true and complete on a wrong-ip event. The
    composite key (tuple form -> JSON-array correlation value, the
    batch tier's encoding) keeps the groups honest."""
    two_var = {
        "alert_name": "seq_user_ip",
        "alert_type": "sequence",
        "lifespan": "7 days",
        "slots": [
            {
                "alert_name": "s1",
                "alert_type": "threshold",
                "criteria": (
                    "source='onelogin' AND CAST(json_extract_scalar("
                    "details,'$.risk_score') as INTEGER)>80"
                ),
                "aggregation_key": "details.user_name",
                "threshold": 1,
            },
            {
                "alert_name": "s2",
                "alert_type": "threshold",
                "criteria": (
                    "source='onelogin' AND "
                    "json_extract_scalar(details,'$.user_name')="
                    "'{{slots.0.events.0.details.user_name}}' AND "
                    "json_extract_scalar(details,'$.sourceipaddress')="
                    "'{{slots.0.events.0.details.sourceipaddress}}'"
                ),
                "aggregation_key": "details.user_name",
                "threshold": 1,
            },
        ],
    }
    mk = lambda u, ip, score: {  # noqa: E731
        "risk_score": str(score), "user_name": u, "sourceipaddress": ip
    }
    ev = _events(
        spark,
        [
            (0, mk("alice", "ip1", 95)),  # slot0 fires for (alice, ip1)
            (1, mk("alice", "ip2", 10)),  # WRONG ip: must not advance
            (2, mk("alice", "ip1", 10)),  # same composite -> completes
        ],
    )
    # composite key: one completion, captured slot-1 event is the
    # same-ip event (id 2), correlation value is the JSON array
    rows = sequence_correlator(
        ev, two_var,
        ("details.user_name", "details.sourceipaddress"),
    ).collect()
    assert len(rows) == 1
    assert rows[0]["correlation_value"] == '["alice","ip1"]'
    assert "2" in rows[0]["sample_event_ids"]
    assert "1" not in rows[0]["sample_event_ids"]
    # a single-rule caller passing a LIST gets the same composite
    # (not a per-rule length mismatch)
    rows_l = sequence_correlator(
        ev, two_var,
        ["details.user_name", "details.sourceipaddress"],
    ).collect()
    assert [r["correlation_value"] for r in rows_l] == ['["alice","ip1"]']
    # the user-only key DOCUMENTS the hazard the composite exists for:
    # the wrong-ip event completes the sequence (ip conjunct dropped
    # as structurally-true within the user group)
    rows1 = sequence_correlator(ev, two_var, "details.user_name").collect()
    assert len(rows1) == 1 and "1" in rows1[0]["sample_event_ids"]
