"""DocStore emission tiers: the distributed alert-document writer
(alert_docs_frame / append_frame) must produce the same documents as
the driver-side doc_to_row path it replaces, and the set-based upsert
must keep exact Mongo replace_one semantics (reference: save_alert
alerta.py:76-89, save_inflight_alert alerta.py:92-111)."""

import json

import pytest

from alerta_spark.operators.sequence import alerts_df_to_docs
from alerta_spark.operators.threshold import threshold_alerts
from alerta_spark.state import DocStore, alert_docs_frame, doc_to_row


def _events(spark):
    from pyspark.sql import functions as F

    rows = [
        {
            "event_id": i,
            "ts": f"2026-01-01 00:0{i % 10}:00",
            "source": "onelogin",
            "details": json.dumps(
                {"risk_score": "95", "user_name": f"u{i % 3}"}
            ),
        }
        for i in range(9)
    ]
    df = spark.createDataFrame(rows)
    return df.withColumn("ts", F.to_timestamp("ts")).select(
        "event_id", "ts", "source", "details"
    )


RULE = {
    "alert_name": "risky_login",
    "alert_type": "threshold",
    "criteria": "source='onelogin' AND CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80",
    "summary": "risky login by {{metadata.value}}",
    "event_snippet": "",
    "aggregation_key": "details.user_name",
    "threshold": 2,
    "event_sample_count": 2,
}


def _strip_ids(doc):
    doc = dict(doc)
    doc.pop("_id", None)
    return doc


def test_alert_docs_frame_matches_doc_to_row(spark):
    """Distributed doc assembly == driver doc_to_row, field by field
    (parsed-doc equality; raw bytes differ only in JSON cosmetics)."""
    fired = threshold_alerts(_events(spark), RULE)

    driver_rows = [doc_to_row(d) for d in alerts_df_to_docs(fired)]
    dist_rows = [r.asDict() for r in alert_docs_frame(fired).collect()]
    assert len(driver_rows) == len(dist_rows) == 3

    key = lambda r: r["summary"]  # noqa: E731
    for dr, xr in zip(sorted(driver_rows, key=key), sorted(dist_rows, key=key)):
        assert dr["alert_name"] == xr["alert_name"]
        assert dr["utctimestamp"] == xr["utctimestamp"]
        assert dr["utcepoch"] == xr["utcepoch"]
        assert dr["expiration"] == xr["expiration"]
        assert dr["summary"] == xr["summary"]
        assert list(dr["alerted_event_ids"]) == list(xr["alerted_event_ids"])
        d_doc, x_doc = json.loads(dr["doc"]), json.loads(xr["doc"])
        assert _strip_ids(d_doc) == _strip_ids(x_doc)
        # the row _id and the doc-internal _id agree in both writers
        assert x_doc["_id"] == xr["_id"]
        assert d_doc["_id"] == dr["_id"]


def test_append_frame_feeds_next_run_dedup(spark, tmp_path):
    """Documents written by append_frame must carry the flattened
    alerted_event_ids that the next run's F8 anti-join probes."""
    store = DocStore(spark, str(tmp_path / "alerts"))
    fired = threshold_alerts(_events(spark), RULE)
    store.append_frame(fired)

    ids = sorted(r["alerted_event_id"] for r in store.alerted_ids().collect())
    assert ids == [str(i) for i in range(9)]
    # a second identical pass dedups to zero fired groups
    again = threshold_alerts(
        _events(spark), RULE, alerted_ids=store.alerted_ids()
    )
    assert again.count() == 0


def test_upsert_many_set_based_last_wins(spark, tmp_path):
    store = DocStore(spark, str(tmp_path / "state"))
    store.append([{"_id": "a", "alert_name": "x", "summary": "v1"}])
    store.upsert_many(
        [
            {"_id": "a", "alert_name": "x", "summary": "v2"},
            {"_id": "a", "alert_name": "x", "summary": "v3"},  # last wins
            {"_id": "b", "alert_name": "y", "summary": "w"},
        ]
    )
    docs = {d["_id"]: d for d in store.docs()}
    assert set(docs) == {"a", "b"}
    assert docs["a"]["summary"] == "v3"
    assert docs["b"]["summary"] == "w"

    store.delete("a")
    assert [d["_id"] for d in store.docs()] == ["b"]


def test_alert_docs_frame_is_map_only(spark):
    """The emission writer must add NO exchange of its own: document
    assembly (ids, epochs, alerted_event_ids, to_json) is a pure
    projection over the fired frame, so it rides whatever partitioning
    the aggregation already produced."""
    fired = spark.createDataFrame(
        [
            {
                "alert_name": "a",
                "summary": "s",
                "utctimestamp": "2026-01-01T00:00:00+00:00",
                "events": [{"event_id": "1"}, {"event_id": "2"}],
            }
        ]
    )
    plan = (
        alert_docs_frame(fired)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_compact_single_file_same_docs(spark, tmp_path):
    import os

    store = DocStore(spark, str(tmp_path / "alerts"))
    fired = threshold_alerts(_events(spark), RULE)
    store.append_frame(fired)
    store.append([{"alert_name": "x", "summary": "driver-side"}])

    def parquet_files():
        return [
            f for f in os.listdir(store.data_dir()) if f.endswith(".parquet")
        ]

    before = {json.dumps(d, sort_keys=True) for d in store.docs()}
    assert len(parquet_files()) >= 2
    store.compact()
    assert len(parquet_files()) == 1
    after = {json.dumps(d, sort_keys=True) for d in store.docs()}
    assert before == after


def test_alert_docs_frame_null_slots_keep_event_ids(spark):
    """Null-safety of the id flattening: unfilled sequence slots carry
    events=NULL, and F.concat/F.flatten null-poison on any null input —
    a regression here silently disables the next run's F8/F9 dedup."""
    frame = spark.createDataFrame(
        [
            {
                "alert_name": "seq",
                "summary": "s",
                "utctimestamp": "2026-01-01T00:00:00+00:00",
                "events": None,
                "slots": [
                    {"events": [{"event_id": "7"}, {"event_id": "8"}]},
                    {"events": None},  # unfilled slot
                ],
            }
        ],
        schema=(
            "alert_name string, summary string, utctimestamp string, "
            "events array<struct<event_id:string>>, "
            "slots array<struct<events:array<struct<event_id:string>>>>"
        ),
    )
    [row] = alert_docs_frame(frame).collect()
    assert list(row["alerted_event_ids"]) == ["7", "8"]


def test_alert_docs_frame_naive_ts_epoch_is_utc_any_session_tz(spark):
    """doc_to_row treats naive timestamps as UTC; the distributed
    writer must agree even when the session timezone is not UTC."""
    frame = spark.createDataFrame(
        [
            {
                "alert_name": "a",
                "summary": "s",
                "utctimestamp": "2026-01-01T00:05:00",  # naive
                "events": [{"event_id": "1"}],
            }
        ]
    )
    tz_key = "spark.sql.session.timeZone"
    prior = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        [row] = alert_docs_frame(frame).collect()
    finally:
        spark.conf.set(tz_key, prior)
    expected = doc_to_row(
        {
            "alert_name": "a",
            "summary": "s",
            "utctimestamp": "2026-01-01T00:05:00",
            "events": [{"event_id": "1"}],
        }
    )
    assert row["utcepoch"] == expected["utcepoch"]


def test_append_frame_empty_is_noop(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    store = DocStore(spark, str(tmp_path / "alerts"))
    fired = threshold_alerts(_events(spark).where(F.lit(False)), RULE)
    store.append_frame(fired)
    assert store.docs() == []
    # and the table keeps ZERO part files (non-firing rules must not
    # grow the file listing the F8 probe re-reads every pass)
    assert not os.path.isdir(store.path) or not os.listdir(store.path)


def test_alert_docs_frame_epoch_offset_forms_match_driver(spark):
    """Every fromisoformat-parseable offset form must stamp the SAME
    epoch in both writers — including 2-digit offsets ('+05'),
    compact offsets ('+0530'), lowercase 'z', and garbage (which both
    writers coerce to the now-epoch rather than throwing under ANSI)."""
    import time

    forms = [
        "2026-01-01T00:05:00+05",
        "2026-01-01T00:05:00+0530",
        "2026-01-01T00:05:00+05:30",
        "2026-01-01T00:05:00z",
        "2026-01-01T00:05:00Z",
        "2026-01-01T00:05:00",
    ]
    frame = spark.createDataFrame(
        [
            {"alert_name": f"a{i}", "summary": "s", "utctimestamp": ts,
             "events": [{"event_id": "1"}]}
            for i, ts in enumerate(forms)
        ]
    )
    rows = {r["utctimestamp"]: r["utcepoch"] for r in alert_docs_frame(frame).collect()}
    for ts in forms:
        want = doc_to_row(
            {"alert_name": "a", "summary": "s", "utctimestamp": ts,
             "events": [{"event_id": "1"}]}
        )["utcepoch"]
        assert rows[ts] == want, ts

    # garbage: both writers fall back to ~now instead of raising
    g = spark.createDataFrame(
        [{"alert_name": "g", "summary": "s", "utctimestamp": "not a time",
          "events": [{"event_id": "1"}]}]
    )
    [row] = alert_docs_frame(g).collect()
    assert abs(row["utcepoch"] - int(time.time())) < 600


def test_alert_docs_frame_date_only_epoch_is_utc_any_session_tz(spark):
    """A DATE-only utctimestamp ('2026-08-16') must stamp midnight UTC
    in any session timezone: the offset-detection regex used to read
    the trailing '-16' as a timezone offset, skip the +00:00 stamp,
    and let the session-tz cast shift the epoch by the zone offset."""
    doc = {
        "alert_name": "a",
        "summary": "s",
        "utctimestamp": "2026-08-16",
        "events": [{"event_id": "1"}],
    }
    frame = spark.createDataFrame([doc])
    tz_key = "spark.sql.session.timeZone"
    prior = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        [row] = alert_docs_frame(frame).collect()
    finally:
        spark.conf.set(tz_key, prior)
    expected = doc_to_row(dict(doc))
    assert row["utcepoch"] == expected["utcepoch"]
    # and real offsets after a time component still count as offsets
    doc2 = dict(doc, utctimestamp="2026-08-16T10:00:00-04")
    frame2 = spark.createDataFrame([doc2])
    spark.conf.set(tz_key, "Asia/Tokyo")
    try:
        [row2] = alert_docs_frame(frame2).collect()
    finally:
        spark.conf.set(tz_key, prior)
    assert row2["utcepoch"] == doc_to_row(dict(doc2))["utcepoch"]


def test_dedup_history_bound_prunes_old_alerts(spark, tmp_path):
    """The engine's ``dedup_history`` knob bounds the F8 probe to
    recently WRITTEN alert files: a file older than the window no
    longer blocks its event ids (exact under the scan-window model —
    a file written before the window cannot contain an event in the
    current scan), while files inside the window still dedup — in
    particular an alert whose DOCUMENT timestamp is ancient (a
    slow-completing sequence: utcepoch is the sequence START) but
    whose file was just written must still dedup."""
    import json as _json
    import os as _os

    from alerta_spark.engine import Engine
    from alerta_spark.rules import utcnow
    from pyspark.sql import functions as F

    now = int(utcnow().timestamp())

    def alert_doc(name, eid, epoch):
        return {
            "alert_name": name,
            "alert_type": "threshold",
            "utctimestamp": "2026-01-01T00:00:00+00:00",
            "utcepoch": epoch,
            "summary": name,
            "events": [{"event_id": eid}],
        }

    eng = Engine(
        spark, str(tmp_path / "store"), id_col="event_id", ts_col="ts",
        dedup_history="1 hours",
    )
    # file 1: written "10 days ago" (mtime aged), holds event 1
    eng.alerts.append([alert_doc("old", "1", now - 10 * 86400)])
    for root, _dirs, files in _os.walk(eng.alerts.path):
        for f in files:
            p = _os.path.join(root, f)
            _os.utime(p, (now - 10 * 86400, now - 10 * 86400))
    # file 2: fresh write holding a RECENT alert (event 2) and a
    # slow-sequence alert whose utcepoch is 10 days old (event 3) —
    # both must keep deduping (write-time, not document-time, bound)
    eng.alerts.append(
        [
            alert_doc("recent", "2", now - 300),
            alert_doc("slowseq", "3", now - 10 * 86400),
        ]
    )

    data = [
        {"event_id": i, "ts": "2026-01-01 00:00:00", "source": "onelogin",
         "details": _json.dumps({"user_name": f"u{i}"})}
        for i in (1, 2, 3)
    ]
    ev = (
        spark.createDataFrame(data)
        .withColumn("ts", F.to_timestamp("ts"))
        .select("event_id", "ts", "source", "details")
    )
    rule = {
        "alert_name": "probe",
        "alert_type": "threshold",
        "criteria": "source='onelogin'",
        "aggregation_key": "details.user_name",
        "threshold": 1,
    }
    # the bound is a FILE-level prune: with it armed, only the fresh
    # file's ids surface at all (checked BEFORE the pass appends its
    # own alerts), and the parquet scan reads FEWER FILES than exist
    # — the O(window)-vs-O(history) property itself, asserted via the
    # scan node's numFiles metric so a Spark upgrade that demotes
    # _metadata filters to row-level evaluation fails loudly here
    # instead of silently regressing the probe to O(history)
    eng.alerts.dedup_min_epoch = now - 3600
    # AQE wraps every staged plan in QueryStageExec shells that hide
    # the scan's metrics from collectLeaves; disable it for the
    # metric read (the pruning itself is AQE-independent — it happens
    # at file listing, before any physical planning)
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_prior = spark.conf.get(aqe_key)
    try:
        spark.conf.set(aqe_key, "false")
        probe = eng.alerts.alerted_ids()
        ids = {r["alerted_event_id"] for r in probe.collect()}
        assert ids == {"2", "3"}
        n_part_files = sum(
            1
            for _root, _dirs, files in _os.walk(eng.alerts.path)
            for f in files
            if f.endswith(".parquet")
        )
        assert n_part_files >= 2
        leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
        files_read = None
        for i in range(leaves.size()):
            metrics = leaves.apply(i).metrics()
            if metrics.contains("numFiles"):
                files_read = metrics.apply("numFiles").value()
        assert files_read is not None and files_read < n_part_files, (
            files_read, n_part_files
        )
    finally:
        spark.conf.set(aqe_key, aqe_prior)
    eng.alerts.dedup_min_epoch = None

    eng.run_once(ev, [rule])
    fired = {
        d["events"][0]["event_id"]
        for d in eng.alerts.docs()
        if d["alert_name"] == "probe"
    }
    # event 1 re-fires (its FILE aged out of the window); events 2
    # and 3 stay deduped (their file is inside the window — even
    # though alert 3's document timestamp is ancient)
    assert fired == {1}

    # unset (default engine) -> full history probes everything
    eng2 = Engine(spark, str(tmp_path / "store2"), id_col="event_id", ts_col="ts")
    eng2.alerts.append(
        [
            alert_doc("old", "1", now - 10 * 86400),
            alert_doc("recent", "2", now - 300),
            alert_doc("slowseq", "3", now - 10 * 86400),
        ]
    )
    eng2.run_once(ev, [rule])
    assert not any(
        d["alert_name"] == "probe" for d in eng2.alerts.docs()
    )


# --- manifest-versioned store layout (snapshot isolation, crash
# safety, legacy migration) --------------------------------------


def _doc(i):
    return {
        "_id": f"d{i:023d}",
        "alert_name": f"a{i}",
        "summary": "s",
        "utctimestamp": "2026-01-01T00:00:00+00:00",
    }


def _version_dirs(path):
    import os

    return sorted(
        e
        for e in os.listdir(path)
        if e.startswith("v-") and os.path.isdir(os.path.join(path, e))
    )


def test_versioned_overwrite_snapshot_isolation(spark, tmp_path):
    """A frame resolved BEFORE an overwrite keeps serving its version
    directory (one GC generation of grace): concurrent/straggling
    readers of a mutating store must never crash on files deleted out
    from under their plan — the delete-then-rewrite race a plain
    mode('overwrite') of the live directory has, named in VERDICT r9
    as the first real-user hit on a cluster."""
    store = DocStore(spark, str(tmp_path / "alerts"))
    store.append([_doc(1)])
    held = store.frame()  # file listing resolved here, pre-overwrite
    store.overwrite([_doc(2)])
    assert [r["_id"] for r in held.select("_id").collect()] == [
        "d" + "0" * 22 + "1"
    ]
    assert [d["_id"] for d in store.docs()] == ["d" + "0" * 22 + "2"]


def test_versioned_overwrite_crash_before_flip_keeps_old(spark, tmp_path):
    """A writer that dies after materializing its version directory
    but before the manifest flip changes NOTHING: readers stay on the
    complete old version, and the orphan directory is collected by
    the next successful overwrite. (The old two-phase tmp swap could
    crash between deleting the live directory and rewriting it,
    losing the whole table.)"""
    import os

    from alerta_spark.state import DOC_SCHEMA, doc_to_row

    store = DocStore(spark, str(tmp_path / "alerts"))
    store.append([_doc(1)])
    # simulate the crashed writer's unflipped output
    orphan = os.path.join(store.path, "v-0000000099-deadbeef")
    spark.createDataFrame([doc_to_row(_doc(9))], DOC_SCHEMA).coalesce(
        1
    ).write.parquet(orphan)
    assert [d["_id"] for d in store.docs()] == ["d" + "0" * 22 + "1"]
    store.overwrite([_doc(2)])
    assert [d["_id"] for d in store.docs()] == ["d" + "0" * 22 + "2"]
    assert "v-0000000099-deadbeef" not in _version_dirs(store.path)


def test_versioned_migration_from_legacy_layout(spark, tmp_path):
    """A pre-versioning store directory (bare parquet at the root)
    keeps reading and appending in place; its first overwrite
    migrates it — manifest + version dir, same rows, and the
    superseded root files garbage-collected."""
    import os

    from alerta_spark.state import DOC_SCHEMA, doc_to_row

    root = str(tmp_path / "legacy")
    spark.createDataFrame(
        [doc_to_row(_doc(1))], DOC_SCHEMA
    ).coalesce(1).write.parquet(root)
    store = DocStore(spark, root)
    assert [d["_id"] for d in store.docs()] == ["d" + "0" * 22 + "1"]
    store.append([_doc(2)])  # legacy append stays at the root
    assert not _version_dirs(root)
    assert {d["_id"] for d in store.docs()} == {
        "d" + "0" * 22 + "1",
        "d" + "0" * 22 + "2",
    }
    store.upsert(dict(_doc(3)))  # first overwrite migrates
    assert _version_dirs(root)
    assert {d["_id"] for d in store.docs()} == {
        "d" + "0" * 22 + "1",
        "d" + "0" * 22 + "2",
        "d" + "0" * 22 + "3",
    }
    assert not [
        f for f in os.listdir(root) if f.endswith(".parquet")
    ], "superseded legacy root files must be GC'd after migration"


def test_versioned_store_with_hidden_legacy_prefix(spark, tmp_path):
    """A store whose manifest names a version directory with the
    earlier hidden ``_v-`` prefix keeps reading and appending there;
    its next overwrite writes a visible ``v-`` version (Spark warns on
    every read of a ``_``-prefixed path), keeps the ``_v-`` one as the
    grace generation, and the overwrite after that collects it."""
    import os

    from alerta_spark.state import DOC_SCHEMA, doc_to_row

    root = str(tmp_path / "hidden")
    legacy = "_v-0000000001-0badf00d"
    spark.createDataFrame([doc_to_row(_doc(1))], DOC_SCHEMA).coalesce(
        1
    ).write.parquet(os.path.join(root, legacy))
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        f.write(legacy)
    store = DocStore(spark, root)
    assert store.data_dir() == os.path.join(root, legacy)
    store.append([_doc(2)])  # lands inside the current _v- version
    assert store.data_dir() == os.path.join(root, legacy)
    assert {d["_id"] for d in store.docs()} == {
        "d" + "0" * 22 + "1",
        "d" + "0" * 22 + "2",
    }
    store.upsert(_doc(3))
    current = os.path.basename(store.data_dir())
    assert current.startswith("v-0000000002-")
    assert os.path.isdir(os.path.join(root, legacy))  # grace generation
    assert len(store.docs()) == 3
    store.upsert(_doc(4))
    assert not os.path.isdir(os.path.join(root, legacy))
    assert not [e for e in os.listdir(root) if e.startswith("_v-")]
    assert len(store.docs()) == 4


def test_versioned_gc_keeps_exactly_two_generations(spark, tmp_path):
    """Version directories accumulate to exactly {current, previous}:
    unbounded retention would grow the store directory by one full
    table copy per mutation (the in-flight store mutates every
    engine pass), while keeping none would reintroduce the reader
    race the grace generation exists to close. Appends land INSIDE
    the current version (no new generation)."""
    store = DocStore(spark, str(tmp_path / "alerts"))
    store.append([_doc(1)])
    assert len(_version_dirs(store.path)) == 1
    for i in range(2, 6):
        store.upsert(_doc(i))
    assert len(_version_dirs(store.path)) == 2
    store.append([_doc(99)])
    assert len(_version_dirs(store.path)) == 2
    assert len(store.docs()) == 6
    # data_dir resolves to the manifest's (current) version
    assert store.data_dir() != store.path
    assert store.data_dir().startswith(store.path)


def test_versioned_slot_event_store_swap_grace(spark, tmp_path):
    """SlotEventStore shares the protocol: a spill frame held across
    a prune (its plan reads the pre-prune version) still collects."""
    from alerta_spark.state import SlotEventStore

    store = SlotEventStore(spark, str(tmp_path / "slot_events"))
    store.append_frame(
        spark.createDataFrame(
            [("c1", "[]"), ("c2", "[]")],
            "capture_id string, events_json string",
        )
    )
    held = store.frame()
    store.prune(["c1"])
    assert {r["capture_id"] for r in held.collect()} == {"c1", "c2"}
    assert {r["capture_id"] for r in store.frame().collect()} == {"c1"}
