"""Persistent stores for alerts and in-flight sequence state.

The reference externalizes both to MongoDB (save_alert alerta.py:76-89;
save_inflight_alert alerta.py:92-111), which is what makes its cron
driver restartable. Here both are parquet tables with a stable doc
schema:

    _id: string            meteor-style id
    alert_name: string
    utctimestamp: string   ISO-8601
    utcepoch: long
    expiration: string     (in-flight only; ISO-8601)
    summary: string
    alerted_event_ids: array<string>   -- flattened ids for F8/F9 dedup
    doc: string            -- full alert document as JSON

Alerts are append-only (S7). In-flight state is read-modify-write of a
small table (S8-S10) — the state cardinality is one row per (rule ×
correlation value), tiny next to the scan, so an overwrite per
micro-batch is cheap; the streaming engine keeps state in Spark's own
state store instead (streaming/correlator.py).

Mutations are MANIFEST-VERSIONED (the metadata-pointer half of what an
ACID table format provides, built from two filesystem primitives):
a ``_CURRENT`` file inside the table directory names the live version
subdirectory (``v-<counter>-<rand>/``); readers resolve it at plan-
build time, writers materialize a FRESH version directory and then
atomically ``os.replace`` the manifest. Consequences, each pinned in
tests/test_state.py:

- readers get snapshot isolation: a frame held across an overwrite
  keeps reading its (intact) version directory — the previous version
  survives one GC generation — instead of crashing on files deleted
  out from under the plan, which is what a delete-then-write
  ``mode("overwrite")`` of the live directory does;
- a crash anywhere inside an overwrite leaves ``_CURRENT`` pointing
  at the complete old version (the unflipped new directory is orphan
  garbage, collected by the next successful overwrite) — the old
  two-phase tmp swap could crash between deleting the live directory
  and rewriting it, losing the table;
- self-referential plans (frames built FROM this store, written back)
  are safe by construction — input and output directories differ —
  so every overwrite writes the data ONCE (the tmp swap wrote twice);
- concurrent mutators are last-writer-wins (the reference's Mongo
  replace_one gives per-document atomicity; full multi-writer MERGE
  still needs a real ACID format — COVERAGE.md). The engine contract
  stays single-mutator-per-store; what versioning fixes is that
  concurrent/straggling READERS and crashes no longer corrupt or
  lose state.

Version directories are NOT ``_``-prefixed: readers name them
directly, and Spark warns ("All paths were ignored") on every read
of a path its hidden-path filter would skip. Stores written with the
earlier ``_v-`` prefix keep resolving and collecting. The manifest
stays hidden, and a pre-versioning table directory (bare parquet
files at the root) is read at the root only — its subdirectories are
not part of its data — so it keeps reading correctly and migrates in
place at its first overwrite.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alerta_spark.ckpt import checkpoint, materialize
from alerta_spark.rules import generate_meteor_id, utcnow

DOC_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("alert_name", T.StringType()),
        T.StructField("utctimestamp", T.StringType()),
        T.StructField("utcepoch", T.LongType()),
        T.StructField("expiration", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("alerted_event_ids", T.ArrayType(T.StringType())),
        T.StructField("doc", T.StringType()),
    ]
)


def _doc_event_ids(doc: dict[str, Any], id_field: str = "event_id") -> list[str]:
    """Flatten event ids from doc['events'] and doc['slots'][*]['events']
    (the two places the reference's dedup probes look: alerta.py:38-73)."""
    ids: list[str] = []
    for ev in doc.get("events") or []:
        v = ev.get(id_field)
        if v is not None:
            ids.append(str(v))
    for slot in doc.get("slots") or []:
        for ev in (slot or {}).get("events") or []:
            v = ev.get(id_field)
            if v is not None:
                ids.append(str(v))
    return ids


def _epoch(ts: str | None) -> int:
    if not ts:
        return int(utcnow().timestamp())
    try:
        # trailing lowercase 'z' is valid ISO-8601 but rejected by
        # CPython 3.11's fromisoformat; normalize so both writers
        # (this one and the executor-side alert_docs_frame) parse it
        s = str(ts)
        if s.endswith("z"):
            s = s[:-1] + "Z"
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp())
    except ValueError:
        return int(utcnow().timestamp())


def doc_to_row(doc: dict[str, Any]) -> dict[str, Any]:
    doc = dict(doc)
    doc.setdefault("_id", generate_meteor_id())
    ts = doc.get("utctimestamp") or utcnow().isoformat()
    doc["utctimestamp"] = str(ts)
    doc.setdefault("utcepoch", _epoch(str(ts)))
    return {
        "_id": doc["_id"],
        "alert_name": str(doc.get("alert_name", "unnamed")),
        "utctimestamp": str(ts),
        "utcepoch": int(doc["utcepoch"]),
        "expiration": str(doc["expiration"]) if doc.get("expiration") else None,
        "summary": str(doc.get("summary", "")),
        "alerted_event_ids": _doc_event_ids(doc),
        "doc": json.dumps(doc, default=str),
    }


def alert_docs_frame(alerts: DataFrame, id_field: str = "event_id") -> DataFrame:
    """Executor-side :func:`doc_to_row`: turn an (unmaterialized) alert
    frame into DOC_SCHEMA rows WITHOUT collecting — the distributed
    emission path. Fired-group cardinality grows with the corpus
    (one alert per aggregation-key value), so alert documents must be
    assembled and written where they were computed, never on the
    driver; the driver-side twin (``alerts_df_to_docs`` + ``append``)
    remains only for the tiny in-flight sequence state tier.

    Parity with doc_to_row (pytest-pinned in tests/test_state.py):
    the parsed ``doc`` JSON, ``alerted_event_ids``, timestamps and
    epochs are equal; the raw ``doc`` BYTES may differ (Jackson emits
    UTF-8 and compact separators where json.dumps escapes non-ASCII
    and spaces separators) — every consumer parses, none compare
    bytes. Null fields are dropped by both writers (toJSON and
    to_json share Jackson's ignoreNullFields default).
    """
    cols = alerts.columns
    stamped = alerts.withColumn(
        "_id",
        # meteor-style 24-hex id, generated per row on the executor
        # (generate_meteor_id takes uuid4().hex[:24])
        F.lower(
            F.substring(
                F.replace(F.expr("uuid()"), F.lit("-"), F.lit("")), 1, 24
            )
        ),
    )
    now_iso = utcnow().isoformat()
    ts_raw = (
        F.col("utctimestamp").cast("string")
        if "utctimestamp" in cols
        else F.lit(None).cast("string")
    )
    # doc_to_row: empty/missing utctimestamp -> now (falsy-or semantics)
    ts = F.when(
        F.coalesce(ts_raw, F.lit("")) != "", ts_raw
    ).otherwise(F.lit(now_iso))
    stamped = stamped.withColumn("utctimestamp", ts)
    # PLAN-BUILD-time now, deliberately: for malformed timestamps the
    # stamped epoch is the pass's build instant, exactly the clock the
    # driver-side writer (doc_to_row's except-fallback) uses in the
    # same pass — so the two writers agree on garbage. Caveat if this
    # frame were ever cached and re-executed in a LATER pass: the
    # fallback stays frozen at build time (a with-column expression
    # would drift instead; neither is "right" for garbage input, and
    # no engine path caches doc frames across passes).
    epoch_fallback = int(utcnow().timestamp())
    # doc_to_row treats NAIVE timestamps as UTC (datetime.fromisoformat
    # + replace(tzinfo=utc)); a session-tz cast would disagree whenever
    # the session isn't UTC, so stamp an explicit +00:00 onto naive
    # strings before casting — offset-carrying strings cast to the same
    # instant in ANY session timezone. The offset test accepts every
    # form fromisoformat does ('+05', '+0530', '+05:30', Z/z) but
    # REQUIRES a time-of-day before the offset: a bare-suffix test
    # ([+-]\d{2}$) reads the '-16' of a date-only '2026-08-16' as an
    # offset, skips the +00:00 stamp, and the session-tz cast shifts
    # the epoch by the zone offset. Date-only strings get a midnight
    # time AND the offset ('2026-08-16+00:00' alone does not cast).
    # Trailing lowercase 'z' is uppercased because Python parses it
    # and Spark does not. try_cast (not cast): ANSI mode throws on
    # malformed strings where doc_to_row's except-ValueError falls
    # back to the now-epoch — the writers must agree on garbage too
    # (residual divergence, documented: exotic fromisoformat forms
    # with no Spark-castable shape — '2026-08', basic-format
    # '20260816' — fall back to the now-epoch here).
    ts_str = F.regexp_replace(F.col("utctimestamp"), r"z$", "Z")
    ts_utc = (
        F.when(
            ts_str.rlike(r":\d{2}(\.\d+)?([+-]\d{2}(:?\d{2})?|Z)$"), ts_str
        )
        .when(
            ts_str.rlike(r"^\d{4}-\d{2}-\d{2}$"),
            F.concat(ts_str, F.lit(" 00:00:00+00:00")),
        )
        .otherwise(F.concat(ts_str, F.lit("+00:00")))
    )
    stamped = stamped.withColumn(
        "utcepoch",
        F.coalesce(
            F.unix_timestamp(ts_utc.try_cast("timestamp")),
            F.lit(epoch_fallback),
        ).cast("long"),
    )

    # null-safety matters here: F.concat/F.flatten return NULL when ANY
    # input array is null, and sequence docs legitimately carry null
    # events (unfilled slots) — a null-poisoned id list would silently
    # disable the next run's F8/F9 dedup, so every part and every slot
    # coalesces to [] (the `or []` in _doc_event_ids)
    empty = F.array().cast("array<string>")
    id_parts = []
    if "events" in cols:
        id_parts.append(
            F.coalesce(
                F.transform("events", lambda e: e[id_field].cast("string")),
                empty,
            )
        )
    if "slots" in cols:
        id_parts.append(
            F.coalesce(
                F.flatten(
                    F.transform(
                        "slots",
                        lambda s: F.coalesce(
                            F.transform(
                                s["events"],
                                lambda e: e[id_field].cast("string"),
                            ),
                            empty,
                        ),
                    )
                ),
                empty,
            )
        )
    if id_parts:
        ids = id_parts[0]
        for p in id_parts[1:]:
            ids = F.concat(ids, p)
        ids = F.filter(ids, lambda x: x.isNotNull())
    else:
        ids = empty

    doc = F.to_json(F.struct(*[F.col(c) for c in stamped.columns]))
    return stamped.select(
        F.col("_id"),
        (
            F.coalesce(F.col("alert_name").cast("string"), F.lit("unnamed"))
            if "alert_name" in cols
            else F.lit("unnamed")
        ).alias("alert_name"),
        F.col("utctimestamp"),
        F.col("utcepoch"),
        (
            F.col("expiration").cast("string")
            if "expiration" in cols
            else F.lit(None).cast("string")
        ).alias("expiration"),
        (
            F.coalesce(F.col("summary").cast("string"), F.lit(""))
            if "summary" in cols
            else F.lit("")
        ).alias("summary"),
        F.coalesce(ids, F.array().cast("array<string>")).alias(
            "alerted_event_ids"
        ),
        doc.alias("doc"),
    )


_MANIFEST = "_CURRENT"
_VERSION_PREFIX = "v-"
# every prefix a version directory may carry: the current one and the
# hidden one of stores written before it
_VERSION_PREFIXES = (_VERSION_PREFIX, "_v-")


def _current_version(path: str) -> str | None:
    """Version-directory name the manifest points at (None: legacy or
    brand-new store). A just-created-but-not-yet-written manifest reads
    as empty -> None, which resolves to the (empty) legacy root — never
    to a half-initialized version."""
    try:
        with open(os.path.join(path, _MANIFEST)) as f:
            name = f.read().strip()
    except OSError:
        return None
    # refuse traversal-shaped or foreign content: the manifest names a
    # single version child of the table directory, nothing else
    if not name.startswith(_VERSION_PREFIXES) or "/" in name or "\\" in name:
        return None
    return name


def _resolve_data_dir(path: str) -> str:
    """Directory holding the table's CURRENT parquet files: the
    manifest's version dir, or the table root for legacy/new stores."""
    v = _current_version(path)
    return os.path.join(path, v) if v is not None else path


def _next_version_name(current: str | None) -> str:
    """Monotonic counter (for humans debugging a store directory; the
    manifest, not the counter, defines currency) + random suffix so two
    racing writers can never collide on a directory name."""
    n = 0
    if current:
        try:
            n = int(current.split("-")[1])
        except (IndexError, ValueError):
            n = 0
    return f"{_VERSION_PREFIX}{n + 1:010d}-{uuid.uuid4().hex[:8]}"


def _flip_manifest(path: str, new_version: str) -> str | None:
    """Atomically point the manifest at ``new_version`` (write-temp +
    ``os.replace``, the POSIX atomic-publish idiom); returns the
    previously-current version name so the caller's GC can grant it
    one generation of reader grace."""
    old = _current_version(path)
    tmp = os.path.join(path, f".{_MANIFEST}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        f.write(new_version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _MANIFEST))
    return old


def _init_version_dir(path: str) -> str:
    """First-append initialization: create version dir + manifest for a
    brand-new store. An O_EXCL lock file picks exactly one winner among
    concurrent first-appenders; losers wait for the winner's manifest
    and append into ITS directory (both appends survive — parquet part
    file names are job-unique), instead of one append landing in a root
    directory the manifest is about to shadow."""
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, "._init.lock")
    try:
        os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            v = _current_version(path)
            if v is not None:
                return os.path.join(path, v)
            time.sleep(0.01)
        raise RuntimeError(
            f"store init lock {lock!r} held but no manifest appeared; "
            "remove the stale lock if the initializing process died"
        )
    name = _next_version_name(None)
    os.makedirs(os.path.join(path, name), exist_ok=True)
    _flip_manifest(path, name)
    return os.path.join(path, name)


def _append_dir(path: str) -> str:
    """Directory an APPEND should write into: the current version dir
    (initializing one for a brand-new store), or the root while a
    pre-versioning store awaits its migrating first overwrite."""
    v = _current_version(path)
    if v is not None:
        return os.path.join(path, v)
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return path  # legacy layout: keep appending where readers look
    return _init_version_dir(path)


def _gc_versions(path: str, keep: set[str]) -> None:
    """Drop version directories outside ``keep`` (the just-published
    version and its predecessor — one generation of grace for frames
    resolved before the flip) plus, once a manifest exists, the
    superseded legacy root files a migrating overwrite replaced.
    Unflipped orphans from crashed writers collect here too."""
    try:
        entries = os.listdir(path)
    except OSError:
        return
    for entry in entries:
        full = os.path.join(path, entry)
        if (
            entry.startswith(_VERSION_PREFIXES)
            and entry not in keep
            and os.path.isdir(full)
        ):
            shutil.rmtree(full, ignore_errors=True)
        elif entry.endswith(".parquet") and os.path.isfile(full):
            try:
                os.remove(full)
            except OSError:
                pass
        elif entry == "_SUCCESS" and os.path.isfile(full):
            try:
                os.remove(full)
            except OSError:
                pass


def _versioned_overwrite(path: str, df: DataFrame, num_files: int) -> None:
    """The shared overwrite protocol (module docstring): materialize a
    fresh version directory, atomically flip the manifest, GC all but
    {new, previous}. The input plan may read the store's current
    version — that directory is untouched until at least the NEXT
    overwrite, so the write is single-pass and self-referentially
    safe."""
    os.makedirs(path, exist_ok=True)
    name = _next_version_name(_current_version(path))
    df.coalesce(max(1, int(num_files))).write.mode("overwrite").parquet(
        os.path.join(path, name)
    )
    old = _flip_manifest(path, name)
    _gc_versions(path, {name, old} - {None})


class DocStore:
    """A tiny document table over parquet (the Mongo stand-in)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # optional F8 dedup-history bound (epoch seconds), set by the
        # engine per pass when `dedup_history` is configured — see
        # `alerted_ids`. None = full history (exact for arbitrary
        # event frames).
        self.dedup_min_epoch: int | None = None

    def data_dir(self) -> str:
        """Directory currently holding the table's parquet files (the
        manifest's version dir; the root for legacy/new stores) —
        resolved at CALL time, so a frame built from it is a snapshot
        that later overwrites do not disturb. External file-level
        consumers (file-count assertions, mtime aging in the scale
        benches) must look here, not at ``self.path``."""
        return _resolve_data_dir(self.path)

    def _exists(self) -> bool:
        d = self.data_dir()
        return os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        )

    def frame(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], DOC_SCHEMA)
        return self.spark.read.schema(DOC_SCHEMA).parquet(self.data_dir())

    def docs(self, newest_first: bool = True) -> list[dict[str, Any]]:
        """Full scan, newest first (reference sort: alerta.py:213)."""
        df = self.frame()
        if newest_first:
            df = df.orderBy(F.desc("utcepoch"))
        return [json.loads(r["doc"]) for r in df.select("doc", "utcepoch").collect()]

    def append(self, docs: list[dict[str, Any]]) -> None:
        if not docs:
            return
        rows = [doc_to_row(d) for d in docs]
        self.spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(_append_dir(self.path))

    def append_frame(self, alerts: DataFrame, id_field: str = "event_id") -> None:
        """S7 distributed: append an ALERT FRAME without collecting —
        the executor-side twin of ``append(alerts_df_to_docs(...))``.
        Fired groups are assembled into documents and written where
        they were computed; the driver never sees a row, so alert
        cardinality (which grows with the corpus) never lands on
        driver memory. Parquet's job-commit protocol keeps the append
        atomic per call.

        The documents are materialized once (``ckpt.materialize``:
        fired frames are tiny, post-aggregation), which freezes the
        per-row uuid ids and counts the rows in the same job; the
        write then follows :meth:`append_rows`."""
        self.append_rows(*materialize(alert_docs_frame(alerts, id_field)))

    def append_rows(self, rows: DataFrame, count: int | None = None) -> None:
        """Append an already-assembled DOC_SCHEMA frame executor-side
        (the completed-sequence emission path builds its rows inside an
        Arrow UDF; they must reach parquet without a driver hop).

        ``count`` is the row count ``ckpt.materialize`` returned for
        ``rows`` when the caller materialized them already (the
        engine, whose per-rule swallow must see the assembly job);
        otherwise the rows are materialized here. Zero rows skip the
        write entirely: every non-firing rule in every engine pass
        would otherwise add an empty part file that the F8 probe
        re-lists forever."""
        rows = rows.select([f.name for f in DOC_SCHEMA.fields])
        if count is None:
            rows, count = materialize(rows)
        if not count:
            return
        # coalesce the bounded batch to ONE file: the materialized
        # frame inherits the threshold aggregate's full shuffle width,
        # so a bare append emits one near-empty part file per task —
        # ~width files per engine pass that the F8 probe and every
        # readback re-list (small-files tax, twice). One post-
        # checkpoint read task funnels only the fired rows (tiny,
        # post-aggregation — overwrite_frame's num_files=1 argument);
        # assembly keeps its parallelism, and the append-atomic commit
        # + zero-row skip are untouched. compact() remains the remedy
        # for multi-pass accumulation.
        rows.coalesce(1).write.mode("append").parquet(
            _append_dir(self.path)
        )

    def overwrite(self, docs: list[dict[str, Any]]) -> None:
        rows = [doc_to_row(d) for d in docs]
        self.overwrite_frame(self.spark.createDataFrame(rows, DOC_SCHEMA))

    def overwrite_frame(self, df: DataFrame, num_files: int = 1) -> None:
        """Replace the table with a DOC_SCHEMA frame via the manifest-
        versioned protocol (module docstring): ONE write to a fresh
        version directory + an atomic manifest flip — snapshot-
        isolated for concurrent readers, crash-safe (an unflipped
        write leaves the old version current), and self-referentially
        safe because the input plan's version directory is never the
        output directory (and survives until the NEXT overwrite's GC).

        ``num_files=1`` suits the small mutable state tables this
        class mostly backs; :meth:`compact` passes a size-derived
        count so a large alerts table never funnels through one
        task."""
        _versioned_overwrite(
            self.path,
            df.select([f.name for f in DOC_SCHEMA.fields]),
            num_files,
        )

    def upsert(self, doc: dict[str, Any]) -> None:
        """Insert-or-replace by _id (reference: alerta.py:92-111)."""
        self.upsert_many([doc])

    def upsert_many(self, new_docs: list[dict[str, Any]]) -> None:
        """Batch insert-or-replace: ONE read + ONE write for any number
        of state changes (the reference pays a Mongo round-trip per
        upsert; a run that advances N in-flight alerts must not rewrite
        the state table N times). Set-based: existing rows stay
        executor-side (anti-join on ``_id`` against the replacement
        batch) — only the NEW documents pass through the driver, so a
        large state table is never collected to apply a small delta."""
        if not new_docs:
            return
        new_docs = [dict(d) for d in new_docs]
        for d in new_docs:
            d.setdefault("_id", generate_meteor_id())
        # duplicate _ids within a batch: last wins (repeated Mongo
        # replace_one semantics)
        by_id = {d["_id"]: d for d in new_docs}
        rows = [doc_to_row(d) for d in by_id.values()]
        new_df = self.spark.createDataFrame(rows, DOC_SCHEMA)
        kept = self.frame().join(
            F.broadcast(new_df.select("_id")), "_id", "left_anti"
        )
        self.overwrite_frame(kept.unionByName(new_df))

    def upsert_rows(self, rows: DataFrame) -> None:
        """Executor-side :meth:`upsert_many`: insert-or-replace from an
        already-assembled DOC_SCHEMA frame (the frame-native sequence
        tier builds its updated in-flight documents inside Arrow UDFs —
        they must reach the table without a driver hop). The frame is
        materialized first (``ckpt.materialize``: one checkpoint job
        that also counts the rows, so an empty update skips the
        overwrite with no further job) and the anti-join probe and the
        overwrite read those blocks rather than re-running the update
        plan (which itself reads THIS table). Caller contract: one row
        per ``_id`` (the frame paths update each in-flight doc at most
        once per pass)."""
        rows, n = materialize(rows.select([f.name for f in DOC_SCHEMA.fields]))
        if not n:
            return
        kept = self.frame().join(rows.select("_id"), "_id", "left_anti")
        self.overwrite_frame(kept.unionByName(rows))

    def delete(self, _id: str) -> None:
        self.overwrite_frame(self.frame().where(F.col("_id") != _id))

    def compact(self) -> None:
        """Rewrite the table into size-appropriate files. Distributed
        appends (append_frame) add a few files per engine pass; on a
        cron-per-15-minutes cadence that is ~100 files/day on the
        alerts table, which the F8 dedup probe re-reads every pass —
        compact on whatever maintenance cadence the deployment uses
        (overwrite_frame's manifest flip keeps readers consistent;
        the engine calls this automatically every ``compact_every``
        passes). NOT unconditionally coalesce(1): a
        years-deep alerts table must not funnel through one task — the
        target file count derives from the table's on-disk bytes
        (one file while small, ~target_file_bytes files at volume).
        On an ACID table format this is OPTIMIZE."""
        total = 0
        d = self.data_dir()
        if os.path.isdir(d):
            total = sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        target = 128 * 1024 * 1024
        self.overwrite_frame(self.frame(), num_files=-(-total // target) or 1)

    def alerted_ids(self) -> DataFrame:
        """DataFrame[alerted_event_id] for anti-join dedup (F8/F9).

        With ``dedup_min_epoch`` set (the engine's ``dedup_history``
        knob), alert FILES written before the bound are excluded
        before the explode, via the ``_metadata.file_modification_
        time`` hidden column — a file-listing-level prune, so the
        per-pass F8 cost is proportional to RECENT alerts instead of
        the whole append-only history (at a months-long 100 TB
        deployment: an O(window) probe every 15 minutes instead of
        O(history)).

        The bound is WRITE time, deliberately not ``utcepoch``: a
        completed sequence's document timestamp is its sequence START
        (``sequence_shell`` stamps creation; a 7-day sequence's alert
        is 'old' the moment it is emitted), so an epoch bound would
        prune slow-completing sequences' captures immediately and
        re-fire their events. File write time is when the ids became
        visible to dedup, which is the quantity the window argument
        needs.

        Exactness argument (window model, BASELINE.md engine table):
        the reference scans only the current + previous hour of
        events (alerta.py:136-146), and a file written at time T can
        only contain events scanned at or before T. A file written
        before ``scan_window_start - margin`` therefore cannot hold
        ANY event id present in the current scan, so excluding it
        cannot change the anti-join result. The bound is exact
        whenever ``dedup_history >= event scan span + one pass``;
        callers feeding arbitrary (e.g. backfill) event frames should
        leave it unset. Compaction rewrites files and refreshes their
        mtimes — old ids then re-enter the probe window until they
        age out again, which only ever errs conservative (extra
        dedup, never a lost one)."""
        return (
            self.bounded_frame()
            .select(F.explode("alerted_event_ids").alias("alerted_event_id"))
            .distinct()
        )

    def bounded_frame(self) -> DataFrame:
        """``frame()``, mtime-bounded by ``dedup_min_epoch`` when set
        (the file-listing-level prune ``alerted_ids`` documents) —
        for probes that only need RECENTLY WRITTEN rows: the F8 dedup
        ids, and the crash-replay ``_id`` guards, whose matching
        writes are at most one pass old (a replayed completion's
        alert was written by the crashed pass minutes earlier, far
        inside any sane ``dedup_history`` window)."""
        df = self.frame()
        if self.dedup_min_epoch is not None and self._exists():
            df = df.where(
                F.col("_metadata.file_modification_time")
                >= F.lit(int(self.dedup_min_epoch)).cast("timestamp")
            )
        return df


SLOT_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("capture_id", T.StringType()),
        T.StructField("events_json", T.StringType()),
    ]
)


class SlotEventStore:
    """Distributed side table for captured sequence-slot event payloads.

    The batch sequence tier keeps its in-flight state documents on the
    driver (they seed the next pass's templated criteria — reference
    analogue: the state doc, alerta.py:274-317), but the full event
    payloads a slot captures grow with fired-group cardinality, i.e.
    with the corpus. So the driver-resident document keeps only event
    IDS plus the template-referenced events, and the full per-capture
    event array spills HERE, executor-side, keyed by a capture id the
    document carries (``_events_ref``). Completion rehydrates by
    joining this table — the payloads never pass through the driver.

    Rows are (capture_id, events_json) where events_json is the
    ``to_json`` of the capture's ordered events array."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def data_dir(self) -> str:
        """See :meth:`DocStore.data_dir`."""
        return _resolve_data_dir(self.path)

    def _exists(self) -> bool:
        d = self.data_dir()
        return os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        )

    def frame(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], SLOT_EVENTS_SCHEMA)
        return self.spark.read.schema(SLOT_EVENTS_SCHEMA).parquet(
            self.data_dir()
        )

    def append_frame(self, df: DataFrame) -> None:
        """Append (capture_id, events_json) rows; zero-row frames skip
        the write (same small-files discipline as DocStore), read from
        the row count of the one ``ckpt.materialize`` job."""
        out, n = materialize(df.select([f.name for f in SLOT_EVENTS_SCHEMA.fields]))
        if not n:
            return
        # one file per bounded spill batch (DocStore.append_rows's
        # small-files reasoning; prune's rewrite re-compacts anyway)
        out.coalesce(1).write.mode("append").parquet(
            _append_dir(self.path)
        )

    def prune(self, live_ids: list[str]) -> None:
        """Drop rows whose capture id is no longer referenced by any
        in-flight document (called after completion/expiry drops docs).
        Manifest-versioned like DocStore.overwrite_frame, and the
        rewrite doubles as compaction for this table."""
        if not self._exists():
            return
        keep = self.frame()
        if live_ids:
            ids_df = self.spark.createDataFrame(
                [(x,) for x in sorted(set(live_ids))], "capture_id string"
            )
            keep = keep.join(F.broadcast(ids_df), "capture_id", "left_semi")
        else:
            keep = keep.where(F.lit(False))
        self._swap(keep)

    def prune_frame(self, live: DataFrame) -> None:
        """Frame form of :meth:`prune`: the live capture ids arrive as
        DataFrame[capture_id] (derived executor-side from the in-flight
        frame) instead of a driver list — live-ref cardinality tracks
        in-flight cardinality and must never be collected. The id frame
        is checkpointed first: its plan reads the in-flight store,
        whose version directory outlives only ONE later overwrite —
        materializing here keeps the semi-join off that clock."""
        if not self._exists():
            return
        live = checkpoint(
            live.select(F.col(live.columns[0]).alias("capture_id")).distinct(),
            eager=True,
        )
        self._swap(self.frame().join(live, "capture_id", "left_semi"))

    def _swap(self, keep: DataFrame) -> None:
        _versioned_overwrite(
            self.path,
            keep.select([f.name for f in SLOT_EVENTS_SCHEMA.fields]),
            1,
        )
