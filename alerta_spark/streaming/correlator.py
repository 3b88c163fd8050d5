"""Structured Streaming versions of the engine's stateful semantics
(SURVEY.md §2.7 T1-T7).

The reference is a cron micro-batch system: 15-minute trigger
(startup.sh:24-26), 2-hour hop window re-scan with storage-level dedup
(alerta.py:136-146 + 38-73), and a Mongo-persisted sequence state
machine advanced one slot per run (alerta.py:274-317). Structured
Streaming expresses each natively:

- T1 trigger        -> ``trigger(processingTime=...)`` / ``availableNow``
- T2 hop window     -> ``withWatermark + dropDuplicatesWithinWatermark``
  (streaming_dedup; plain dropDuplicates on the batch twin)
- A2 threshold      -> windowed groupBy-count (streaming_threshold_alerts)
- T3-T6 sequence    -> ``applyInPandasWithState`` keyed by the rule's
                       correlation value (sequence_correlator): state =
                       slot index + captured samples; lifespan expiry via
                       state timeout; deadman slots fire on timeout.

Slot criteria are compiled to per-event boolean columns JVM-side
(``matches_{i}``) BEFORE the stateful operator, so the Python state
function never evaluates SQL — it only advances a tiny per-key state
machine over Arrow batches. Cross-slot templated equality
(``...user_name='{{slots.0...user_name}}'``) is satisfied structurally:
the stream is keyed by that correlation value, so within a key group
the equality always holds and only the static residual needs checking
(SURVEY.md §7.4-1).
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from alerta_spark.dialect import trino_to_spark
from alerta_spark.paths import path_col
from alerta_spark.rules import parse_timedelta
from alerta_spark.templates import template_vars

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("correlation_value", T.StringType()),
        T.StructField("alert_name", T.StringType()),
        T.StructField("n_slots", T.IntegerType()),
        T.StructField("slot_counts", T.ArrayType(T.LongType())),
        T.StructField("first_event_ts", T.TimestampType()),
        T.StructField("last_event_ts", T.TimestampType()),
        T.StructField("sample_event_ids", T.ArrayType(T.StringType())),
        T.StructField("expired", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("slot_index", T.IntegerType()),
        T.StructField("slot_counts", T.ArrayType(T.LongType())),
        T.StructField("first_ts_ms", T.LongType()),
        T.StructField("last_ts_ms", T.LongType()),
        T.StructField("deadline_ms", T.LongType()),
        T.StructField("anchor_ms", T.LongType()),
        T.StructField("sample_ids_json", T.StringType()),
    ]
)


def _corr_col(events: DataFrame, key) -> "F.Column":
    """Correlation-value column for one rule: a single dotted path, or
    a list/tuple of paths forming a COMPOSITE key
    (``paths.composite_key_col`` — the batch tier's multi-variable
    probe encoding).

    A rule whose templated slot criteria pin MORE THAN ONE captured
    field must key by the composite of ALL templated event paths —
    keying by just one of them would make ``_static_criteria``'s
    structural-equality assumption false for the others (a group keyed
    by user alone treats an ip equality as always-true)."""
    if isinstance(key, (list, tuple)):
        from alerta_spark.paths import composite_key_col

        return composite_key_col(events, list(key))
    return path_col(events, key).cast("string")


def _static_criteria(slot: dict[str, Any]) -> str:
    """Strip templated equality conjuncts — within a correlation-key
    group they hold by construction (the caller keys by the templated
    path, or by the COMPOSITE of all templated paths — ``_corr_col``).
    Conjuncts are split on top-level AND; a conjunct containing a
    {{...}} template var is dropped."""
    criteria = str(slot.get("criteria", ""))
    if not template_vars(criteria):
        return criteria
    parts = [p.strip() for p in _split_top_and(criteria)]
    kept = [p for p in parts if not template_vars(p)]
    return " AND ".join(kept)


def _split_top_and(sql: str) -> list[str]:
    """Split on top-level AND, string-literal aware: quoted literals
    are masked before scanning so an ``' and '`` or parens INSIDE a
    literal neither splits nor corrupts depth tracking, and the
    returned parts are verbatim slices of the input (no case
    mutation)."""
    from alerta_spark.dialect import _split_literals

    masked = "".join(
        "\x00" * len(chunk) if is_lit else chunk.upper()
        for chunk, is_lit in _split_literals(sql)
    )
    import re

    out, depth, start, i, n = [], 0, 0, 0, len(sql)
    while i < n:
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        # ANY whitespace delimits the AND (a YAML block-scalar rule
        # carries newlines: '...\nAND ...' — a literal-space-only test
        # missed it, the residual collapsed to 'true', and the slot
        # matched EVERY event in the group)
        if depth == 0 and c.isspace():
            m = re.match(r"\s+AND(\s+|(?=\())", masked[i:])
            if m:
                out.append(sql[start:i])
                i += m.end()
                start = i
                continue
        i += 1
    out.append(sql[start:])
    return out


class SlotMachine:
    """The per-key sequence state machine, engine-agnostic so the
    timeout/deadman branches are unit-testable without a streaming
    query. State tuple: (slot_index, counts, first_ms, last_ms,
    deadline_ms, anchor_ms, samples).

    Time semantics (reference parity):

    * **Fixed lifespan expiry** — ``deadline_ms`` is set ONCE when the
      state is created (first event + lifespan) and never slides
      (reference alerta.py:266-268 sets ``expiration = utctimestamp +
      lifespan`` at creation; the reference's expiry reaper,
      alerta.py:240-248, deletes state past it). A chatty correlation key therefore still expires.
    * **Deadman criteria participate** — a deadman slot's matching
      events are counted as evidence AGAINST the absence; when more
      than ``threshold`` matches arrive within the slot's absence
      window the window restarts (``anchor_ms`` resets), mirroring the
      reference's per-cycle re-query where any window containing more
      than ``threshold`` matching events does not fire
      (determine_deadman_trigger alerta.py:358-410: ``count <=
      threshold`` is the trigger). Up to ``threshold`` matches inside
      one window are tolerated, exactly like the reference.
    * ``anchor_ms`` marks when the current slot was entered (or the
      deadman window last restarted); a deadman fires when the clock
      passes ``anchor + window`` with the tolerated-match budget
      unexhausted. A slot without an explicit ``window`` means
      "absence for the remainder of the sequence's life": it fires at
      the fixed deadline unless over-budget matches latched a failure
      (then the sequence expires, mirroring the reference's silent
      expiry deletion).
    """

    def __init__(
        self,
        slot_kinds: list[str],
        slot_thresholds: list[int],
        sample_count: int = 3,
        lifespan_ms: int = 0,
        slot_windows_ms: list[int | None] | None = None,
        strict_event_deadline: bool = False,
    ):
        self.kinds = slot_kinds
        self.thresholds = slot_thresholds
        self.n = len(slot_kinds)
        self.sample_count = sample_count
        self.lifespan_ms = lifespan_ms
        # eventTime mode only: events and the fixed deadline share the
        # DATA clock, so a match whose ts is already past the deadline
        # must not advance the machine — otherwise completion depends
        # on whether the timeout callback ran before the late event's
        # micro-batch (batch-boundary nondeterminism, breaking the
        # mode's replay-determinism promise). processingTime mode keeps
        # the reference's racy semantics (wall-clock reap vs arrival,
        # alerta.py:240-248) — there the bases differ and the check
        # would be meaningless.
        self.strict_event_deadline = strict_event_deadline
        # None window = "absence for the REMAINDER of the sequence's
        # life": fires at the fixed deadline iff the match budget was
        # never exceeded (over-budget latches failure). An explicit
        # window gives the reference's sliding windowed-absence, where
        # an over-budget window restarts rather than latches.
        self.windows = list(slot_windows_ms or [None] * self.n)

    def initial(self, now_ms: int = 0) -> tuple:
        return (0, [0] * self.n, None, None, now_ms + self.lifespan_ms, now_ms, [])

    def on_events(self, state: tuple, events: list[tuple[int, str, list[bool]]]):
        """events: [(ts_ms, event_id, matches_per_slot)] in order.
        -> (state, completed: bool). An event is tested only against the
        CURRENT slot (a captured event can't also satisfy the next slot
        — mirrors the reference's F9 in-flight dedup)."""
        slot_index, counts, first_ms, last_ms, deadline_ms, anchor_ms, samples = state
        counts = list(counts)
        samples = list(samples)
        for ts_ms, eid, matches in events:
            if (
                self.strict_event_deadline
                and self.lifespan_ms
                and first_ms is not None
                and ts_ms >= deadline_ms
            ):
                # >= not >: on_timeout expires at now >= deadline_ms, so
                # an event stamped exactly AT the deadline must also be
                # rejected or the boundary instant would depend on
                # whether the timeout callback ran first — the very
                # batch-boundary nondeterminism this flag removes.
                # past the data-clock deadline: the instance is due to
                # expire; this event belongs to no slot
                continue
            first_ms = first_ms or ts_ms
            last_ms = ts_ms
            if slot_index < self.n and matches[slot_index]:
                kind = self.kinds[slot_index]
                if kind == "threshold":
                    counts[slot_index] += 1
                    if len(samples) < self.sample_count:
                        samples.append(str(eid))
                    if counts[slot_index] >= self.thresholds[slot_index]:
                        slot_index += 1
                        anchor_ms = ts_ms  # next slot's window starts now
                elif kind == "deadman":
                    # evidence against the absence (reference: a window
                    # with count > threshold does not fire). Explicit
                    # window: over-budget restarts the window; None
                    # (until-deadline) window: over-budget latches the
                    # failure via the count itself.
                    counts[slot_index] += 1
                    if (
                        counts[slot_index] > self.thresholds[slot_index]
                        and self.windows[slot_index] is not None
                    ):
                        counts[slot_index] = 0
                        anchor_ms = ts_ms
            if slot_index >= self.n:
                break
        new_state = (
            slot_index, counts, first_ms, last_ms, deadline_ms, anchor_ms, samples
        )
        return new_state, slot_index >= self.n

    def on_timeout(self, state: tuple, now_ms: int):
        """Timeout with no new data at clock ``now_ms`` (same time base
        the state was created with — event-time watermark or wall
        clock). Deadman slots whose absence window has elapsed advance
        (cascading through consecutive deadman slots); then, if the
        sequence is still incomplete past its FIXED deadline, it
        expires (T5). -> (state, completed, expired). Neither completed
        nor expired means a deadman window restarted later than the
        armed timer — re-arm and keep waiting."""
        slot_index, counts, first_ms, last_ms, deadline_ms, anchor_ms, samples = state
        counts = list(counts)
        while (
            slot_index < self.n
            and self.kinds[slot_index] == "deadman"
            and now_ms
            >= (
                anchor_ms + self.windows[slot_index]
                if self.windows[slot_index] is not None
                else deadline_ms
            )
            and counts[slot_index] <= self.thresholds[slot_index]
        ):
            slot_index += 1
            anchor_ms = now_ms
        state = (
            slot_index, counts, first_ms, last_ms, deadline_ms, anchor_ms,
            list(samples),
        )
        if slot_index >= self.n:
            return state, True, False
        if now_ms >= deadline_ms:
            return state, False, True
        return state, False, False

    def next_wakeup(self, state: tuple) -> int:
        """Earliest clock value at which this state can change without
        new data: the deadman window edge if one is pending, else the
        fixed expiry deadline."""
        slot_index, _counts, _f, _l, deadline_ms, anchor_ms, _s = state
        if (
            slot_index < self.n
            and self.kinds[slot_index] == "deadman"
            and self.windows[slot_index] is not None
        ):
            return min(deadline_ms, anchor_ms + self.windows[slot_index])
        return deadline_ms


def sequence_correlator(
    events: DataFrame,
    rule: dict[str, Any] | list[dict[str, Any]],
    correlation_key: str | list[str],
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    sample_count: int = 3,
    time_mode: str = "processingTime",
) -> DataFrame:
    """T3-T5: distributed sequence correlation over a stream.

    Keyed by the rule's correlation value; state advances through the
    slot vector as matching events arrive; emits one row per completed
    (or expired) sequence. Threshold slots advance when their running
    count reaches the slot threshold; deadman slots advance when the
    state times out with no matching events (absence confirmed).

    FUSED ACROSS RULES (round 5): pass a LIST of rules (and a matching
    list of correlation keys, or one shared key) and all of them run
    in ONE streaming query with ONE state store — every rule's slot
    predicates evaluate in a single projection, each event explodes
    into one slim row per rule, and state keys by (rule_idx,
    correlation value). N sequence rules cost one stream scan instead
    of N queries; per-(rule, key) semantics are identical to N
    single-rule correlators (pytest-pinned).

    CHECKPOINT COMPATIBILITY: the fused form keys state by
    ``(_ri, _corr)`` for every caller — including single-rule ones —
    where pre-fusion checkpoints keyed by ``(_corr)`` alone. A restart
    of an existing query against an old checkpoint fails with a state
    key schema mismatch: discard the checkpoint (replay the backlog —
    semantics are deterministic in eventTime mode) before upgrading a
    live correlator.

    ``time_mode='eventTime'`` drives timeouts from the WATERMARK
    instead of the wall clock: a deadman slot fires when the data's
    own clock passes last_event + lifespan — replayable and
    deterministic (a backfill re-produces identical alerts). In this
    mode null-correlation rows are NOT pre-filtered (a filter would be
    pushed below the EventTimeWatermark node and stall the clock —
    same hazard as streaming_threshold_alerts); they are dropped
    inside the state function instead.

    Works on both streaming and batch frames (batch: timeouts do not
    fire, so deadman slots never advance — streaming is the real mode;
    the batch engine covers deadman separately).

    MULTI-VARIABLE rules (round 10): a slot whose templated criteria
    pin more than one captured field must key by the COMPOSITE of all
    templated event paths (``_corr_col`` renders it as the same
    JSON-array string the batch tier's composite probe uses). Keying
    by a single one of the paths would silently treat the other
    equalities as always-true within the group. Pass the composite as
    a TUPLE of paths (single-rule callers may also pass a list —
    it is read as that one rule's composite); in the FUSED form a
    top-level LIST is always the per-rule key list, whose entries may
    themselves be tuples. ``correlation_value`` in the output carries
    the JSON-array rendering.
    """
    from alerta_spark._ship import ensure_shipped

    ensure_shipped(events.sparkSession)

    rules = rule if isinstance(rule, list) else [rule]
    # Key forms: str = one shared single-path key; TUPLE = one shared
    # COMPOSITE key (see _corr_col). A LIST is that rule's composite
    # when `rule` is a single dict (the natural reading of
    # "pass a list of paths as the correlation key"); for FUSED rule
    # lists it is the per-rule key list (entries: path str, or
    # tuple/list of paths = that rule's composite) — so a fused
    # caller wanting one shared composite passes a TUPLE, never a
    # list (a same-length list of paths would silently key each rule
    # by a single component, the always-true-conjunct hazard the
    # composite exists to prevent).
    # Back-compat: only a MULTI-entry all-string list reads as a
    # single-rule composite — that form previously raised a length
    # mismatch, so no working caller changes meaning. [(\"a\",\"b\")]
    # (per-rule list with a composite entry) and [\"path\"] (per-rule
    # list, bare single-path encoding, existing checkpoints keyed on
    # the bare value) keep their original readings.
    if (
        isinstance(correlation_key, list)
        and not isinstance(rule, list)
        and len(correlation_key) > 1
        and all(isinstance(k, str) for k in correlation_key)
    ):
        keys = [tuple(correlation_key)]
    elif isinstance(correlation_key, list):
        keys = correlation_key
    else:
        keys = [correlation_key] * len(rules)
    if len(keys) != len(rules):
        raise ValueError("one correlation key per rule (or a single shared one)")
    event_time = time_mode.lower() == "eventtime"

    # one projection evaluates EVERY rule's correlation value + slot
    # predicates; explode -> one slim row per (event, rule)
    per_rule = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("_ri"),
                _corr_col(events, keys[i]).alias("_corr"),
                F.array(
                    *[
                        F.expr(
                            trino_to_spark(_static_criteria(s)) or "true"
                        ).cast("boolean")
                        for s in r["slots"]
                    ]
                ).alias("_m"),
            )
            for i, r in enumerate(rules)
        ]
    )
    slim = events.select(
        F.col(id_col).cast("string").alias("_eid"),
        F.col(ts_col).alias("_ts"),
        F.explode(per_rule).alias("_r"),
    ).select("_eid", "_ts", "_r._ri", "_r._corr", "_r._m")
    if not event_time:
        slim = slim.where(F.col("_corr").isNotNull())

    is_streaming = slim.isStreaming
    if is_streaming:
        slim = slim.withWatermark("_ts", watermark)

    names = [str(r.get("alert_name", "unnamed")) for r in rules]
    n_slots_by_rule = [len(r["slots"]) for r in rules]
    machines = [
        SlotMachine(
            [str(s.get("alert_type", "threshold")) for s in r["slots"]],
            [int(s.get("threshold", 1)) for s in r["slots"]],
            sample_count,
            int(
                parse_timedelta(
                    str(r.get("lifespan", "3 days"))
                ).total_seconds()
                * 1000
            ),
            [
                int(parse_timedelta(str(s["window"])).total_seconds() * 1000)
                if s.get("window")
                else None
                for s in r["slots"]
            ],
            strict_event_deadline=event_time,
        )
        for r in rules
    ]

    def _emit(ri: int, corr, st, expired: bool) -> pd.DataFrame:
        slot_index, counts, first_ms, last_ms, _deadline, _anchor, samples = st
        return pd.DataFrame(
            {
                "correlation_value": [corr],
                "alert_name": [names[ri]],
                "n_slots": [n_slots_by_rule[ri]],
                "slot_counts": [counts],
                "first_event_ts": [pd.Timestamp(first_ms, unit="ms") if first_ms else None],
                "last_event_ts": [pd.Timestamp(last_ms, unit="ms") if last_ms else None],
                "sample_event_ids": [samples[: machines[ri].sample_count]],
                "expired": [expired],
            }
        )

    def _rows_to_events(rows: pd.DataFrame) -> list[tuple[int, str, list[bool]]]:
        # vectorized column extraction — iterrows() here measured ~4x
        # slower end-to-end on the batch correlator at sf0.1
        rows = rows.sort_values(["_ts", "_eid"])
        ts = (rows["_ts"].astype("int64") // 1_000_000).tolist()
        eids = rows["_eid"].astype(str).tolist()
        flags = rows["_m"].tolist()
        return [
            (ts[j], eids[j], [bool(x) for x in flags[j]])
            for j in range(len(ts))
        ]

    def _arm(state: GroupState, machine: SlotMachine, st) -> None:
        # wake at the earliest state-changing instant: pending deadman
        # window edge or the FIXED expiry deadline (never re-based on
        # activity — reference expiration = creation + lifespan)
        nxt = machine.next_wakeup(st)
        if event_time:
            # always strictly ahead of the current watermark (Spark
            # rejects timestamps at/behind it)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(nxt, wm + 1))
        else:
            import time as _time

            state.setTimeoutDuration(max(nxt - int(_time.time() * 1000), 1))

    def fn(
        key_: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ri, corr = int(key_[0]), key_[1]
        machine = machines[ri]
        if corr is None:
            # eventTime mode lets null-correlation rows through to keep
            # the watermark honest; they carry no state
            if state.exists:
                state.remove()
            return

        def _unpack():
            (si, counts, f_ms, l_ms, dl_ms, an_ms, samples_json) = state.get
            return (si, list(counts), f_ms, l_ms, dl_ms, an_ms, json.loads(samples_json))

        def _pack(st):
            return (st[0], st[1], st[2], st[3], st[4], st[5], json.dumps(st[6]))

        if state.hasTimedOut:
            st = _unpack()
            if event_time:
                now = state.getCurrentWatermarkMs()
            else:
                import time as _time

                now = int(_time.time() * 1000)
            st, completed, expired = machine.on_timeout(st, now)
            if completed or expired:
                state.remove()
                yield _emit(ri, corr, st, expired)
            else:
                state.update(_pack(st))
                _arm(state, machine, st)
            return

        # materialize BEFORE the emptiness check — an iterator is
        # always truthy, so `if pdfs` never guarded pd.concat([])
        chunks = list(pdfs)
        rows = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        if state.exists:
            st = _unpack()
        else:
            # clock origin for the FIXED deadline: the data clock (first
            # event) in eventTime mode, the wall clock otherwise
            if event_time and len(rows):
                now = int(rows["_ts"].min().value // 1_000_000)
            elif event_time:
                now = max(state.getCurrentWatermarkMs(), 0)
            else:
                import time as _time

                now = int(_time.time() * 1000)
            st = machine.initial(now)
        completed = False
        if len(rows):
            st, completed = machine.on_events(st, _rows_to_events(rows))
        if completed:
            state.remove()
            yield _emit(ri, corr, st, False)
            return
        state.update(_pack(st))
        _arm(state, machine, st)

    if is_streaming:
        return slim.groupBy("_ri", "_corr").applyInPandasWithState(
            fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout
            if event_time
            else GroupStateTimeout.ProcessingTimeTimeout,
        )

    # batch fallback: applyInPandasWithState is streaming-only; with the
    # whole history in hand one pass per key gives identical
    # completions. Shape: repartition+sort by key, then ONE Python call
    # per partition (mapInPandas) with pandas groupby doing the
    # per-key slicing in C — Spark's per-group applyInPandas invocation
    # overhead dominates at ~10k keys (measured ~2x slower at sf0.1).
    def _run_group(g: pd.DataFrame):
        corr = g["_corr"].iloc[0]
        if corr is None:
            return None
        ri = int(g["_ri"].iloc[0])
        machine = machines[ri]
        t0 = int(g["_ts"].min().value // 1_000_000)
        st, completed = machine.on_events(machine.initial(t0), _rows_to_events(g))
        return _emit(ri, corr, st, False) if completed else None

    def partition_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: list[pd.DataFrame] = []
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # rows are sorted by key within the partition, but the LAST
            # key may continue in the next Arrow batch — hold it back
            last_key = pdf["_corr"].iloc[-1]
            last_ri = pdf["_ri"].iloc[-1]
            if last_key is None:
                tail_mask = pdf["_corr"].isna() & (pdf["_ri"] == last_ri)
            else:
                tail_mask = (pdf["_corr"] == last_key) & (
                    pdf["_ri"] == last_ri
                )
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            for _, g in head.groupby(["_ri", "_corr"], sort=False, dropna=True):
                r = _run_group(g)
                if r is not None:
                    out.append(r)
        if carry is not None and len(carry):
            r = _run_group(carry)
            if r is not None:
                out.append(r)
        if out:
            yield pd.concat(out, ignore_index=True)

    return (
        slim.repartition("_ri", "_corr")
        .sortWithinPartitions("_ri", "_corr", "_ts", "_eid")
        .mapInPandas(partition_fn, OUTPUT_SCHEMA)
    )


def sequence_correlator_tws(
    events: DataFrame,
    rule: dict[str, Any],
    correlation_key: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    sample_count: int = 3,
    time_mode: str = "processingTime",
) -> DataFrame:
    """T3-T5 on the Spark 4 arbitrary-state v2 API
    (``transformWithStateInPandas`` + ``StatefulProcessor``): same
    SlotMachine semantics as :func:`sequence_correlator`, but state and
    lifespan live in a typed ValueState plus explicit timers — the
    engine owns state encoding/expiry (RocksDB-backed at scale) instead
    of the legacy flatMapGroupsWithState timeout channel.

    ``time_mode='eventTime'`` registers watermark-driven timers, so the
    deadman/expiry clock follows the data, not the wall clock.
    Streaming-only (use sequence_correlator for batch frames).

    Requires the ``protobuf`` package (the transformWithState Python
    state-server protocol is protobuf-framed); raises ImportError with
    a clear message where it is unavailable — sequence_correlator
    (applyInPandasWithState) is the dependency-free fallback. Also
    requires a column-family-capable state store::

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")

    (the default HDFS-backed provider rejects transformWithState; the
    RocksDB provider is bundled with Spark 4 and is the store this API
    is designed for at scale). In the dev sandbox, protobuf is served
    by tools/pyshim/sitecustomize.py — see its docstring.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package; "
            "use sequence_correlator (applyInPandasWithState) instead"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from alerta_spark._ship import ensure_shipped

    ensure_shipped(events.sparkSession)

    slots = rule["slots"]
    lifespan_ms = int(
        parse_timedelta(str(rule.get("lifespan", "3 days"))).total_seconds() * 1000
    )
    # composite (tuple/list) keys supported as in sequence_correlator
    key = _corr_col(events, correlation_key).alias("_corr")
    match_cols = [
        F.expr(trino_to_spark(_static_criteria(s)) or "true").alias(f"_m{i}")
        for i, s in enumerate(slots)
    ]
    n_slots = len(slots)
    alert_name = str(rule.get("alert_name", "unnamed"))
    event_time = time_mode.lower() == "eventtime"
    # null-correlation rows are dropped ABOVE the watermark node, not
    # below it: every event must reach EventTimeWatermark or the
    # event-time clock stalls whenever non-null-corr events are sparse
    # and registered timers (deadman advancement, lifespan expiry)
    # never fire — the same stall hazard sequence_correlator documents
    slim = (
        events.select(
            key,
            F.col(id_col).cast("string").alias("_eid"),
            F.col(ts_col).alias("_ts"),
            *match_cols,
        )
        .withWatermark("_ts", watermark)
        .where(F.col("_corr").isNotNull())
    )

    machine = SlotMachine(
        [str(s.get("alert_type", "threshold")) for s in slots],
        [int(s.get("threshold", 1)) for s in slots],
        sample_count,
        lifespan_ms,
        [
            int(parse_timedelta(str(s["window"])).total_seconds() * 1000)
            if s.get("window")
            else None
            for s in slots
        ],
        # same machine semantics as sequence_correlator: in eventTime
        # mode a match stamped at/after the fixed deadline must not
        # advance the machine (batch-boundary determinism)
        strict_event_deadline=event_time,
    )

    class _SequenceProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._state = handle.getValueState("seq", STATE_SCHEMA)

        def _load(self, now_ms: int):
            if self._state.exists():
                (si, counts, f_ms, l_ms, dl_ms, an_ms, samples_json) = self._state.get()
                return (si, list(counts), f_ms, l_ms, dl_ms, an_ms, json.loads(samples_json))
            return machine.initial(now_ms)

        def _store(self, st) -> None:
            self._state.update(
                (st[0], st[1], st[2], st[3], st[4], st[5], json.dumps(st[6]))
            )

        def _now(self, timer_values) -> int:
            if event_time:
                return max(timer_values.getCurrentWatermarkInMs(), 0)
            return timer_values.getCurrentProcessingTimeInMs()

        def _arm_timer(self, timer_values, st) -> None:
            # earliest state-changing instant: pending deadman window
            # edge or the FIXED expiry deadline (never slides)
            nxt = machine.next_wakeup(st)
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(max(nxt, self._now(timer_values) + 1))

        def _emit_pdf(self, corr, st, expired: bool) -> pd.DataFrame:
            slot_index, counts, first_ms, last_ms, _dl, _an, samples = st
            return pd.DataFrame(
                {
                    "correlation_value": [corr],
                    "alert_name": [alert_name],
                    "n_slots": [n_slots],
                    "slot_counts": [counts],
                    "first_event_ts": [pd.Timestamp(first_ms, unit="ms") if first_ms else None],
                    "last_event_ts": [pd.Timestamp(last_ms, unit="ms") if last_ms else None],
                    "sample_event_ids": [samples[: machine.sample_count]],
                    "expired": [expired],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            # param names must match the StatefulProcessor ABC exactly:
            # the runtime invokes these hooks with KEYWORD arguments
            corr = key[0]
            pdfs = [p for p in rows if len(p)]
            ev_rows = (
                pd.concat(pdfs, ignore_index=True) if pdfs else pd.DataFrame()
            )
            if len(ev_rows):
                # the tws Arrow path can deliver POSITIONAL column names
                # (_0.._N, observed on Spark 4.1 when the grouping key is
                # re-projected). Rebind only when the real names are
                # absent (their order is the slim projection's); if the
                # names ARE present, reorder by name — an unconditional
                # positional rebind would silently mislabel columns on
                # a runtime that delivers a different order
                expected = ["_corr", "_eid", "_ts"] + [
                    f"_m{i}" for i in range(n_slots)
                ]
                if list(ev_rows.columns) != expected:
                    if set(ev_rows.columns) == set(expected):
                        ev_rows = ev_rows[expected]
                    elif len(ev_rows.columns) == len(expected) and all(
                        re.fullmatch(r"_\d+", str(c)) for c in ev_rows.columns
                    ):
                        # positional names are _0.._N in projection
                        # order by construction — safe to rebind
                        ev_rows = ev_rows.set_axis(expected, axis=1)
                    else:
                        # neither the real names nor the positional
                        # pattern: rebinding would silently mislabel
                        # _corr/_eid/_ts and corrupt correlation keys
                        raise RuntimeError(
                            "tws correlator: unexpected Arrow batch "
                            f"columns {list(ev_rows.columns)!r} "
                            f"(want {expected!r} or _0.._N)"
                        )
            # deadline origin: first event's data-clock in eventTime
            # mode, else the engine's processing clock
            if event_time and len(ev_rows):
                t0 = int(ev_rows["_ts"].min().value // 1_000_000)
            else:
                t0 = self._now(timerValues)
            st = self._load(t0)
            completed = False
            if len(ev_rows):
                ev_rows = ev_rows.sort_values(["_ts", "_eid"])
                ts = (ev_rows["_ts"].astype("int64") // 1_000_000).tolist()
                eids = ev_rows["_eid"].astype(str).tolist()
                m = [
                    ev_rows[f"_m{i}"].fillna(False).astype(bool).tolist()
                    for i in range(n_slots)
                ]
                evs = [
                    (ts[j], eids[j], [m[i][j] for i in range(n_slots)])
                    for j in range(len(ts))
                ]
                st, completed = machine.on_events(st, evs)
            if completed:
                self._state.clear()
                for t in self._handle.listTimers():
                    self._handle.deleteTimer(t)
                yield self._emit_pdf(corr, st, False)
                return
            self._store(st)
            self._arm_timer(timerValues, st)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            corr = key[0]
            now = self._now(timerValues)
            st = self._load(now)
            st, completed, expired = machine.on_timeout(st, now)
            if completed or expired:
                self._state.clear()
                yield self._emit_pdf(corr, st, expired)
            else:
                self._store(st)
                self._arm_timer(timerValues, st)

        def close(self) -> None:
            pass

    return slim.groupBy("_corr").transformWithStateInPandas(
        _SequenceProcessor(),
        OUTPUT_SCHEMA,
        "append",
        "eventTime" if event_time else "processingTime",
    )


def streaming_threshold_alerts(
    events: DataFrame,
    rule: dict[str, Any],
    window: str = "1 hour",
    watermark: str = "2 hours",
    id_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """A2 as a native streaming windowed aggregate: criteria filter →
    watermark → tumbling-window group-count → HAVING. Emits one alert
    row per (window, group) in append mode once the watermark passes."""
    from alerta_spark.operators.threshold import apply_criteria
    from alerta_spark.rules import threshold_shell

    p = threshold_shell(rule)
    # Every event must reach the stateful aggregate, or the event-time
    # clock stalls: Catalyst pushes a criteria filter below the
    # EventTimeWatermark node (the predicate doesn't reference ts), so
    # a filtered stream only advances the watermark on MATCHING events
    # and a sparse-match rule's last windows never finalize. Instead,
    # non-matching rows collapse into one sentinel group per window
    # (O(1) state overhead) and only matches are counted.
    ev = events.withWatermark(ts_col, watermark)
    matched = F.expr(trino_to_spark(p["criteria"]) or "true")
    key = path_col(ev, p["aggregation_key"]).cast("string")
    # The sentinel must be suppressed by the AGGREGATED count alone: a
    # grouping-key predicate (value IS NOT NULL) would be pushed back
    # through the aggregate AND the watermark node by the optimizer,
    # recreating the stall. count counts only matched rows, so the
    # NULL sentinel group always has count 0 and the HAVING (which
    # cannot push below the aggregate) drops it.
    threshold = int(p["threshold"])
    if threshold < 1:
        # The sentinel-group design requires count >= 1: a threshold of
        # 0 would fire the sentinel (count 0) for every window. The
        # batch path fires every group at threshold<=0 (reference
        # determine_threshold_trigger) — refuse loudly rather than
        # silently diverge.
        raise ValueError(
            "streaming_threshold_alerts requires threshold >= 1 "
            f"(got {threshold}); use the batch threshold engine for "
            "fire-on-any-count rules"
        )
    eff_key = F.when(matched & key.isNotNull(), key)  # NULL = sentinel group
    hit = F.when(matched & key.isNotNull(), 1).otherwise(0)
    out = (
        ev.groupBy(F.window(F.col(ts_col), window).alias("win"), eff_key.alias("value"))
        .agg(F.sum(hit).alias("count"))
        .where(F.col("count") >= threshold)
    )
    return out.select(
        F.lit(p["alert_name"]).alias("alert_name"),
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        F.struct("value", "count").alias("metadata"),
    )


def streaming_dedup(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """T2/T7: the reference's overlapping-scan + storage-dedup becomes
    watermark + dropDuplicatesWithinWatermark on the event id —
    exactly-once delivery within the watermark horizon, state
    auto-expired by Spark.

    ``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``): plain
    dropDuplicates evicts dedup state ONLY when the event-time column
    is part of the dedup subset — keyed on the id alone, its state
    grows with every distinct event id forever (the silent
    unbounded-state hazard this function shipped with until round 7;
    plan-guarded against regression in tests/test_streaming.py). The
    WithinWatermark variant dedups on the id and evicts each key once
    the watermark passes its event time, which is exactly the
    documented horizon contract: a duplicate arriving within
    ``watermark`` of the original is dropped, a later replay (which
    the storage-level F8 probe would catch in the batch engine) is
    out of contract. Batch frames (the stream==batch parity twin)
    take plain ``dropDuplicates`` — Spark rejects the WithinWatermark
    form on batch, where global dedup is exact anyway."""
    wm = events.withWatermark(ts_col, watermark)
    if events.isStreaming:
        return wm.dropDuplicatesWithinWatermark([id_col])
    return wm.dropDuplicates([id_col])


def streaming_threshold_alerts_fused(
    events: DataFrame,
    rules: list[dict[str, Any]],
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """N streaming threshold rules over ONE stateful aggregate — the
    streaming face of rule fusion (operators/threshold.
    threshold_alerts_fused): each row emits one (rule_idx, key) struct
    per matching rule and the windowed count groups by
    (window, rule_idx, value), so the whole rule set costs one
    watermarked state store instead of N independent streaming queries.

    Liveness discipline is inherited from streaming_threshold_alerts:
    every row must reach the aggregate or the event-time clock stalls
    on sparse-match rules — a row matching NO rule carries a single
    NULL sentinel struct (O(1) state per window) whose group can never
    fire because only real matches are counted and thresholds are
    required >= 1.

    OVERLAPPING-RULES DIVERGENCE from the batch engine (intentional,
    pytest-pinned in tests/test_streaming.py): when two rules' criteria
    overlap, the BATCH engine's rule-ordered loop has an intra-pass
    F8 interaction — rule k's history probe sees the events rules
    1..k-1 captured this pass, so an event alerts at most once per
    pass. THIS streaming face counts every matching event for EVERY
    rule independently: it equals N single-rule streaming queries (the
    union-of-singles parity pin), not the batch rule-ordered loop.
    Windowed streaming counts consult no alert history (the window IS
    the dedup horizon), so a cross-rule replay has no store to probe;
    deployments needing batch overlap semantics should route
    overlapping rules through the batch engine under
    run_stream/foreachBatch, which executes the full cron body."""
    from alerta_spark.rules import threshold_shell

    shells = [threshold_shell(r) for r in rules]
    for p in shells:
        if int(p["threshold"]) < 1:
            raise ValueError(
                "streaming_threshold_alerts_fused requires threshold >= 1 "
                f"(rule {p['alert_name']!r}); use the batch engine for "
                "fire-on-any-count rules"
            )
    ev = events.withWatermark(ts_col, watermark)
    preds = [
        F.expr(trino_to_spark(p["criteria"]) or "true") if p["criteria"] else F.lit(True)
        for p in shells
    ]
    keys = [path_col(ev, p["aggregation_key"]).cast("string") for p in shells]
    matched = F.filter(
        F.array(
            *[
                F.when(
                    pred & key.isNotNull(),
                    F.struct(
                        F.lit(i).cast("int").alias("rule_idx"),
                        key.alias("value"),
                    ),
                )
                for i, (pred, key) in enumerate(zip(preds, keys))
            ]
        ),
        lambda m: m.isNotNull(),
    )
    sentinel = F.array(
        F.struct(
            F.lit(None).cast("int").alias("rule_idx"),
            F.lit(None).cast("string").alias("value"),
        )
    )
    tagged = ev.select(
        F.col(ts_col),
        F.explode(
            F.when(F.size(matched) > 0, matched).otherwise(sentinel)
        ).alias("m"),
    )
    thresholds = F.array(*[F.lit(int(p["threshold"])) for p in shells])
    names = F.array(*[F.lit(p["alert_name"]) for p in shells])
    hit = F.when(F.col("m.rule_idx").isNotNull(), 1).otherwise(0)
    out = (
        tagged.groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col("m.rule_idx").alias("rule_idx"),
            F.col("m.value").alias("value"),
        )
        .agg(F.sum(hit).alias("count"))
        # The sentinel group must be suppressed by this aggregated
        # predicate ALONE: adding `rule_idx IS NOT NULL` (a grouping-key
        # predicate) would be pushed below the aggregate and the
        # watermark, recreating the sparse-match stall. For the NULL
        # sentinel, element_at(.., NULL+1) is NULL -> comparison NULL ->
        # dropped; real groups always have count >= 1 of actual hits.
        .where(F.col("count") >= F.element_at(thresholds, F.col("rule_idx") + 1))
    )
    return out.select(
        F.element_at(names, F.col("rule_idx") + 1).alias("alert_name"),
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        F.struct("value", "count").alias("metadata"),
    )
