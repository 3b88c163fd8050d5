"""Sequence correlation — the reference's flagship stateful operator,
batch mode (T3-T5 in SURVEY.md §2.7; reference alerta.py:210-317).

Semantics per micro-batch run:

1. resume every in-flight alert: find its first slot without
   ``triggered``; render the slot's criteria against the alert state
   (cross-slot templating like
   ``...='{{slots.0.events.0.details.user_name}}'``); evaluate the
   slot as a threshold (with F8/F9 dedup) or deadman trigger; on fire,
   write the filled slot back and upsert state.
2. start rules with a fresh shell the same way.
3. completed sequences (every slot has events) emit an alert and drop
   state; expired state (past ``expiration``) is reaped.

Scale notes. The heavy work — the slot scan + trigger — is a Spark
plan per (rule, slot); state documents are one per correlation value
and SLIM: a filled slot keeps the captured event IDS (F9 dedup) and
the template-referenced events only (cross-slot criteria rendering),
while the full captured event arrays spill executor-side to the
:class:`~alerta_spark.state.SlotEventStore` keyed by a capture ref the
document carries. Completion joins the spill table back and assembles
the emitted documents inside an Arrow UDF — full event payloads never
transit the driver, so driver memory scales with in-flight COUNT (a
few hundred bytes per document), not with captured-event volume.
The fan-out optimization for many in-flight alerts of the same rule:
alerts waiting on the same slot differ only in their templated values,
so one scan with an IN-set/semi-join serves all of them
(:func:`process_sequence_slot_batched`). The engine's sequence tier
goes further — N rules in one conditional-aggregate scan AND the state
kept executor-side end to end — in operators/sequence_frames.py; this
module holds the faithful driver-side paths (per-document advance and
the batched per-group form) that the frame tier falls back to for
unfusable shapes, plus the helpers both share. The fully distributed
streaming version (state in Spark's state store, no driver loop) is
streaming/correlator.py.
"""

from __future__ import annotations

import json
from copy import deepcopy
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame

from alerta_spark.ckpt import checkpoint
from alerta_spark.operators.deadman import deadman_alerts
from alerta_spark.operators.threshold import threshold_alerts
from alerta_spark.rules import (
    deadman_shell,
    generate_meteor_id,
    sequence_shell,
    threshold_shell,
    utcnow,
)
from alerta_spark.state import DocStore, SlotEventStore
from alerta_spark.templates import render_py, template_vars


def first_unfilled_slot(doc: dict[str, Any]) -> tuple[int | None, dict | None]:
    """First slot lacking 'triggered' (reference: utils/helpers.py:96-113
    via alerta.py:283-285)."""
    for i, slot in enumerate(doc.get("slots") or []):
        if "triggered" not in slot:
            return i, slot
    return None, None


def alerts_df_to_docs(alerts: DataFrame) -> list[dict[str, Any]]:
    """Collect an alert DataFrame as JSON documents (events included).

    Only called on *alert* frames — already aggregated, one row per
    fired group — never on raw event scans. The sequence state tier
    prefers :func:`slim_captures` (event payloads stay executor-side);
    this full collect remains for templates whose event references
    cannot be slimmed (``keep_full`` shapes) and for direct callers.
    """
    return [json.loads(s) for s in alerts.toJSON().collect()]


def _referenced_event_indices(
    doc: dict[str, Any], slot_index: int
) -> tuple[set[int], bool]:
    """Which event indices of slot ``slot_index`` the rule's templates
    (every slot criteria + the completion summary) reference, as
    ``(indices, keep_full)``. ``keep_full=True`` means a template
    addresses the slot's events in a way index-slimming can't serve
    (dynamic/negative slot index, non-indexed or whole-event
    reference) and the caller must keep full event payloads in the
    driver document."""
    tmpls = [
        str(s.get("criteria", ""))
        for s in (doc.get("slots") or [])
        if isinstance(s, dict)
    ]
    tmpls.append(str(doc.get("summary", "")))
    refs: set[int] = set()
    keep_full = False
    for t in tmpls:
        for var in template_vars(t):
            parts = [x for x in var.split(".") if x]
            if len(parts) < 3 or parts[0] != "slots":
                continue
            if not parts[1].lstrip("-").isdigit():
                keep_full = True
                continue
            i = int(parts[1])
            if parts[2] != "events":
                continue  # metadata/value paths survive slimming
            if i < 0:
                keep_full = True  # negative slot index could be this slot
                continue
            if i != slot_index:
                continue
            # len 3 = whole events ARRAY ({{slots.N.events}}), len 4 =
            # whole event object at an index — both need full payloads
            # (len(parts) < 5, not ==4: the 3-part form used to fall
            # through to parts[3] and raise IndexError, aborting the
            # whole pass)
            if len(parts) < 5 or not parts[3].lstrip("-").isdigit():
                keep_full = True  # whole-event or non-indexed reference
                continue
            refs.add(int(parts[3]))
    return refs, keep_full


def _slot_doc_from_row(
    p: dict[str, Any], row, idx_sorted: list[int], id_col: str
) -> dict[str, Any]:
    """Rebuild the fired-slot document from a SLIM collected row: the
    same fields (same key order) ``alerts_df_to_docs`` would yield from
    :func:`~alerta_spark.operators.threshold.assemble_alerts` output,
    except ``events`` holds id-only stubs plus the full event objects
    only at template-referenced indices, and ``_events_ref`` points at
    the full payload in the :class:`~alerta_spark.state.SlotEventStore`."""
    ids = list(row["_ids"] or [])
    n = len(ids)
    placed: dict[int, dict] = {}
    for k, j in enumerate(idx_sorted):
        ej = row[f"_ej{k}"]
        pos = j if j >= 0 else n + j
        if ej is not None and 0 <= pos < n:
            placed[pos] = json.loads(ej)
    events = [placed.get(i, {id_col: eid}) for i, eid in enumerate(ids)]
    return {
        "alert_name": p["alert_name"],
        "alert_type": p["alert_type"],
        "severity": p.get("severity", "INFO"),
        "category": p.get("category", "general"),
        "tags": [str(t) for t in (p.get("tags") or [])],
        "criteria": str(p.get("criteria", "")),
        "aggregation_key": str(p.get("aggregation_key", "")),
        "threshold": int(p.get("threshold", 1)),
        "triggered": True,
        "metadata": {"value": row["_v"], "count": row["_c"]},
        "events": events,
        "utctimestamp": str(p.get("utctimestamp", "")),
        "summary": row["_s"],
        "_events_ref": row["_ref"],
    }


def slim_captures(
    fired: DataFrame,
    p: dict[str, Any],
    ref_indices: set[int],
    id_col: str,
    nonce: str,
) -> tuple[list[dict[str, Any]], DataFrame | None]:
    """Collect the DRIVER-SAFE view of a fired alert frame.

    The round-6 state tier collected full alert documents
    (``alerts_df_to_docs``) to seed in-flight sequence state — ~44 KB
    of event payload per document, and in-flight cardinality grows
    with the corpus (one document per fired group). This collects only
    what later passes actually consume driver-side: the captured
    value + count (routing and metadata), the rendered summary, the
    event IDS (F9 dedup), and the full event objects at the indices
    the rule's templates reference (cross-slot criteria rendering,
    reference alerta.py:291) — typically one event. The full ordered
    event array is returned as a (capture_id, events_json) SPILL frame
    for the :class:`~alerta_spark.state.SlotEventStore`; completion
    rehydrates from it so emitted documents are unchanged.

    Returns ``(slot_docs, spill_frame)``; spill_frame is None when
    nothing fired. The frame is localCheckpoint'd (tiny,
    post-aggregation) so the slim collect and the spill write share
    one computation and agree on capture ids."""
    from pyspark.sql import functions as F

    cap = F.md5(F.concat_ws("\x1f", F.lit(str(nonce)), F.col("metadata.value")))
    with_ref = checkpoint(fired.withColumn("_ref", cap), eager=True)
    idx_sorted = sorted(ref_indices)
    sel = [
        F.col("metadata.value").alias("_v"),
        F.col("metadata.count").alias("_c"),
        F.col("summary").alias("_s"),
        F.transform("events", lambda e: e[id_col].cast("string")).alias("_ids"),
        F.col("_ref"),
    ]
    for k, j in enumerate(idx_sorted):
        sel.append(
            F.to_json(
                F.try_element_at(F.col("events"), F.lit(j + 1 if j >= 0 else j))
            ).alias(f"_ej{k}")
        )
    rows = with_ref.select(*sel).collect()
    if not rows:
        return [], None
    docs = [_slot_doc_from_row(p, r, idx_sorted, id_col) for r in rows]
    spill = with_ref.select(
        F.col("_ref").alias("capture_id"),
        F.to_json("events").alias("events_json"),
    )
    return docs, spill


def process_sequence_alert(
    events_df: DataFrame,
    doc: dict[str, Any],
    inflight_store: DocStore,
    alert_store: DocStore,
    id_col: str = "event_id",
    ts_col: str = "ts",
    spill_store: SlotEventStore | None = None,
    collect_updates: list[dict[str, Any]] | None = None,
    extra_alerted_ids: set[str] | None = None,
    extras_memo: list | None = None,
    now: datetime | None = None,
) -> None:
    """Advance one in-flight (or fresh) sequence alert by at most one
    slot (reference: alerta.py:274-317).

    With ``spill_store`` the captured slot state is SLIM: the driver
    document keeps event ids + template-referenced events only, full
    payloads spill executor-side (:func:`slim_captures`); without it
    (direct callers, compatibility) full events live in the document
    as the reference does (alerta.py:274-317).

    ``collect_updates`` (engine use) DEFERS the state write, exactly
    like :func:`process_sequence_slot_batched`'s form: the updated
    documents append to the caller's list for ONE upsert covering the
    whole singles loop — the self-upserting form pays a full
    state-table swap PER DOCUMENT (the dominant cost of the fallback
    path, ~8s/doc measured on engine_sequence_pass_unfused). The
    sequential loop's intra-pass F9 interaction (a later document's
    history probe sees earlier documents' captures from THIS pass,
    which the self-upserting form gets from re-reading the store) is
    replayed through ``extra_alerted_ids``: captured ids accumulate in
    the caller's set and union into this document's dedup anti-join.

    A fired slot is stamped with ``now`` (the engine's pass instant;
    default: the wall clock)."""
    doc = sequence_shell(doc)
    index, slot = first_unfilled_slot(doc)
    if slot is None:
        return

    # cross-slot templating: values captured by earlier slots become
    # literals in this slot's criteria (alerta.py:291)
    criteria = render_py(str(slot.get("criteria", "")), doc)
    stamp = (now or utcnow()).isoformat()
    params = dict(slot, criteria=criteria, utctimestamp=stamp)

    fired = None
    p: dict[str, Any] | None = None
    if slot.get("alert_type", "threshold") == "threshold":
        # F9 then F8 dedup, mirroring alerta.py:300-301
        p = threshold_shell(params)
        dedup_ids = inflight_store.alerted_ids().unionByName(
            alert_store.alerted_ids()
        )
        if extra_alerted_ids:
            # deferred-upsert form: ids captured earlier THIS pass are
            # not in the store yet. ``extras_memo`` is a caller-owned,
            # PER-PASS one-slot holder: within a pass ids only
            # accumulate, so an unchanged length means an unchanged
            # set, and a singles loop where most documents fire
            # nothing must not re-sort + re-serialize the whole id set
            # per document. Because the holder's lifetime is the pass
            # (the engine creates a fresh list per _resume_inflight),
            # a later pass can never be served a stale frame — the
            # failure mode of the removed process-global id()-keyed
            # memo, where CPython address reuse could alias two
            # same-length sets across passes.
            extra = None
            if extras_memo and extras_memo[0][0] == len(extra_alerted_ids):
                extra = extras_memo[0][1]
            if extra is None:
                extra = events_df.sparkSession.createDataFrame(
                    [(x,) for x in sorted(extra_alerted_ids)],
                    "alerted_event_id string",
                )
                if extras_memo is not None:
                    extras_memo[:] = [(len(extra_alerted_ids), extra)]
            dedup_ids = dedup_ids.unionByName(extra)
        fired = threshold_alerts(
            events_df, p, alerted_ids=dedup_ids, id_col=id_col, ts_col=ts_col
        )
    elif slot.get("alert_type") == "deadman":
        p = deadman_shell(params)
        fired = deadman_alerts(events_df, p, id_col=id_col, ts_col=ts_col)
    if fired is None:
        return

    spill = None
    if spill_store is None:
        fired_docs = alerts_df_to_docs(fired)
    else:
        refs, keep_full = _referenced_event_indices(doc, index)
        if keep_full:
            fired_docs = alerts_df_to_docs(fired)
        else:
            fired_docs, spill = slim_captures(
                fired, p, refs, id_col, generate_meteor_id()
            )
    if spill is not None:
        spill_store.append_frame(spill)

    # per-group fan-out: a FRESH rule (no _id) spawns one in-flight doc
    # per fired group; a RESUMED doc keeps its _id, so multiple fired
    # groups replace the same doc and the last one wins (reference
    # behavior: save_inflight_alert per group on the same _id,
    # alerta.py:304-316)
    updates = []
    for fired_doc in fired_docs:
        inflight = deepcopy(doc)
        inflight["slots"][index] = fired_doc
        updates.append(inflight)
        if extra_alerted_ids is not None:
            for evd in fired_doc.get("events") or []:
                eid = evd.get(id_col)
                if eid is not None:
                    extra_alerted_ids.add(str(eid))
    if collect_updates is not None:
        collect_updates.extend(updates)
    else:
        inflight_store.upsert_many(updates)


def _assemble_completed_udf():
    """The completion-emission Arrow UDF of the frame-native tier
    (operators/sequence_frames.py): rehydrate slots from the joined
    spill fills, render the summary (render_py is pure Python),
    assemble the DOC_SCHEMA row with the same doc_to_row the driver
    writer uses — documents are identical to a driver-side write."""
    from alerta_spark.state import DOC_SCHEMA, doc_to_row

    cols = [f.name for f in DOC_SCHEMA.fields]

    def assemble(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_json, fills in zip(pdf["doc"], pdf["fills"]):
                doc = json.loads(doc_json)
                by_idx: dict[int, list] = {}
                for f in list(fills) if fills is not None else []:
                    si, ej = f.get("si"), f.get("events_json")
                    if si is not None and ej is not None:
                        by_idx[int(si)] = json.loads(ej)
                for i, s in enumerate(doc.get("slots") or []):
                    if isinstance(s, dict):
                        if i in by_idx:
                            s["events"] = by_idx[i]
                        s.pop("_events_ref", None)
                doc["summary"] = render_py(str(doc.get("summary", "")), doc)
                out.append(doc_to_row(doc))
            yield pd.DataFrame(out, columns=cols)

    return assemble


def _is_expired(doc: dict[str, Any], now: datetime) -> bool:
    """Expiration test of the finalize routing (reference:
    alerta.py:240-248); unparseable expirations never expire."""
    exp = doc.get("expiration")
    try:
        # trailing lowercase 'z' is valid ISO-8601 but rejected by
        # CPython 3.11's fromisoformat (state._epoch normalizes the
        # same form); without this a doc stamped '...00z' would never
        # expire — a permanent in-flight state and spill-table leak
        s = str(exp)
        if s.endswith("z"):
            s = s[:-1] + "Z"
        exp_dt = datetime.fromisoformat(s) if exp else None
        if exp_dt is not None and exp_dt.tzinfo is None:
            exp_dt = exp_dt.replace(tzinfo=timezone.utc)
    except ValueError:
        exp_dt = None
    return exp_dt is not None and exp_dt < now


import re as _re

# Above this many captured values, a Column `.isin` probe (an In
# expression with one literal per value) bloats the logical plan —
# Catalyst carries every literal through analysis, optimization and
# codegen, so a 100k-value IN costs more to PLAN than to run. The
# batched path switches to a broadcast semi-join on the same compiled
# key.
ISIN_PROBE_MAX = 4096

# templated equality conjunct shapes we can turn into a join key
# (each also accepted with the operands REVERSED — SQL equality is
# symmetric and rule authors write both orders):
#   json_extract_scalar(col,'$.path') = '{{tmpl}}'
#   CAST(col AS STRING) = '{{tmpl}}'
#   col = '{{tmpl}}'
_TMPL_EQ = [
    (
        _re.compile(
            r"^\s*json_extract_scalar\(\s*(\w+)\s*,\s*'\$\.([\w.]+)'\s*\)\s*=\s*'\{\{([^{}]+)\}\}'\s*$",
            _re.IGNORECASE,
        ),
        lambda m: (f"{m.group(1)}.{m.group(2)}", m.group(3).strip()),
    ),
    (
        _re.compile(
            r"^\s*'\{\{([^{}]+)\}\}'\s*=\s*json_extract_scalar\(\s*(\w+)\s*,\s*'\$\.([\w.]+)'\s*\)\s*$",
            _re.IGNORECASE,
        ),
        lambda m: (f"{m.group(2)}.{m.group(3)}", m.group(1).strip()),
    ),
    (
        _re.compile(
            r"^\s*CAST\(\s*(\w+)\s+AS\s+\w+\s*\)\s*=\s*'\{\{([^{}]+)\}\}'\s*$",
            _re.IGNORECASE,
        ),
        lambda m: (m.group(1), m.group(2).strip()),
    ),
    (
        _re.compile(
            r"^\s*'\{\{([^{}]+)\}\}'\s*=\s*CAST\(\s*(\w+)\s+AS\s+\w+\s*\)\s*$",
            _re.IGNORECASE,
        ),
        lambda m: (m.group(2), m.group(1).strip()),
    ),
    (
        _re.compile(r"^\s*(\w+)\s*=\s*'\{\{([^{}]+)\}\}'\s*$"),
        lambda m: (m.group(1), m.group(2).strip()),
    ),
    (
        _re.compile(r"^\s*'\{\{([^{}]+)\}\}'\s*=\s*(\w+)\s*$"),
        lambda m: (m.group(2), m.group(1).strip()),
    ),
]


def compile_templated_criteria(criteria: str) -> tuple[str, str, str] | None:
    """Split a slot criteria into (static_conjuncts, event_key_path,
    state_template_path) when exactly one conjunct is a templated
    equality of a supported shape; None -> caller falls back to
    per-document rendering (SURVEY.md §7.4-1)."""
    multi = compile_templated_criteria_multi(criteria)
    if multi is None or len(multi[1]) != 1:
        return None
    static, key_paths, tmpl_paths = multi
    return static, key_paths[0], tmpl_paths[0]


def compile_templated_criteria_multi(
    criteria: str,
) -> tuple[str, list[str], list[str]] | None:
    """N-variable generalization of :func:`compile_templated_criteria`
    (frame-tier use): split a slot criteria into (static_conjuncts,
    [event_key_paths], [state_template_paths]) when EVERY templated
    conjunct is an equality of a supported shape, in criteria text
    order — so component k of the compiled lists corresponds to the
    k-th ``{{...}}`` occurrence in the text (each supported conjunct
    carries exactly one variable, and ``_split_top_and`` preserves
    order). None -> caller falls back to per-document rendering; the
    only remaining None shapes are non-equality / multi-variable-per-
    conjunct templates."""
    from alerta_spark.streaming.correlator import _split_top_and
    from alerta_spark.templates import template_vars

    if not template_vars(criteria):
        return None
    conjuncts = [c.strip() for c in _split_top_and(criteria)]
    key_paths: list[str] = []
    tmpl_paths: list[str] = []
    for c in conjuncts:
        if not template_vars(c):
            continue
        for rx, extract in _TMPL_EQ:
            m = rx.match(c)
            if m:
                key_path, tmpl_path = extract(m)
                key_paths.append(key_path)
                tmpl_paths.append(tmpl_path)
                break
        else:
            return None
    static = " AND ".join(c for c in conjuncts if not template_vars(c))
    return static, key_paths, tmpl_paths


def key_paths_resolve(events_df: DataFrame, key_paths: list[str]) -> bool:
    """True when every compiled event key path's HEAD names a real
    column of ``events_df``. ``path_col`` is NULL-on-miss, so an
    unresolvable key (a typo'd column — or a numeric/boolean literal
    the ``\\w+`` equality patterns also match, e.g. ``1='{{x}}'``)
    would null the probe key for EVERY event and a fused group would
    silently never fire; the per-document fallback renders working
    SQL for those shapes, so callers must route them there. Deeper
    path segments descend into JSON strings at runtime and cannot be
    checked statically — the head check is exactly ``path_col``'s
    static resolution step."""
    names = {f.name for f in events_df.schema.fields}
    for kp in key_paths:
        parts = [p for p in kp.split(".") if p]
        if not parts or parts[0] not in names:
            return False
    return True


def criteria_segments(criteria: str, n_vars: int) -> list[str] | None:
    """The N+1 static text segments around a criteria's N template
    variables, in text order — ``render_py(criteria, doc)`` equals
    ``segs[0] + v0 + segs[1] + ... + v(n-1) + segs[n]`` where ``vk``
    is the k-th variable's rendered value. Used by the fused resume
    faces to reconstruct the per-document path's RENDERED criteria
    inside the update UDF. None when the variable count disagrees
    with ``n_vars`` (caller routes the group unfused)."""
    from alerta_spark.templates import template_parts

    parts = template_parts(criteria)
    segs: list[str] = []
    cur: list[str] = []
    seen = 0
    for kind, text in parts:
        if kind == "var":
            segs.append("".join(cur))
            cur = []
            seen += 1
        else:
            cur.append(text)
    segs.append("".join(cur))
    if seen != n_vars:
        return None
    return segs


def process_sequence_slot_batched(
    events_df: DataFrame,
    docs: list[dict[str, Any]],
    slot_index: int,
    inflight_store: DocStore,
    alert_store: DocStore,
    id_col: str = "event_id",
    ts_col: str = "ts",
    spill_store: SlotEventStore | None = None,
    extra_alerted_ids: set[str] | None = None,
    collect_updates: list[dict[str, Any]] | None = None,
    now: datetime | None = None,
) -> list[dict[str, Any]] | None:
    """Advance MANY in-flight alerts waiting on the same slot with ONE
    Spark job: the templated equality becomes a semi-join of the slot
    scan against the captured state values, and fired groups route back
    to their documents by value. Returns the docs it could not batch
    (caller processes those per-document), or None when the slot shape
    is not batchable at all.

    Requires the slot's aggregation_key to equal the equality's event
    key path (true for the reference corpus: both key on the templated
    field), so one grouped aggregate serves every document.

    ``collect_updates`` (engine use) DEFERS the state write: updates
    append to the caller's list for ONE upsert covering every group of
    the pass — otherwise N groups cost N state-table swaps. The
    sequential loop's intra-pass F9 interaction (a later group must
    not re-capture events an earlier group captured THIS pass, which
    the self-upserting form gets from re-reading the store) is
    replayed through ``extra_alerted_ids``: captured ids accumulate in
    the caller's set and AND into this group's dedup anti-join. Fired
    slots are stamped with ``now`` (default: the wall clock)."""
    from pyspark.sql import functions as F

    from alerta_spark.paths import path_col
    from alerta_spark.templates import _lookup

    slot = docs[0]["slots"][slot_index]
    if slot.get("alert_type", "threshold") != "threshold":
        return None
    compiled = compile_templated_criteria(str(slot.get("criteria", "")))
    if compiled is None:
        return None
    static, key_path, tmpl_path = compiled
    if str(slot.get("aggregation_key", "")) != key_path:
        return None

    value_to_doc: dict[str, dict] = {}
    leftover: list[dict] = []
    for doc in docs:
        v = _lookup(doc, [p for p in tmpl_path.split(".") if p])
        if v is None or str(v) in value_to_doc:
            # duplicate captured value: the batch can only route a
            # fired group to ONE document, so the first doc (the
            # caller iterates newest-first, like the sequential loop)
            # wins the batch and the duplicate goes through the
            # per-document path — which runs AFTER the batch upsert,
            # so its store-based F9 probe sees the winner's captures
            # and replays the sequential contention exactly (a dict
            # overwrite used to drop the loser silently: never
            # scanned, never advanced, stuck until expiry)
            leftover.append(doc)
        else:
            value_to_doc[str(v)] = doc

    if not value_to_doc:
        return leftover

    key = path_col(events_df, key_path).cast("string")
    if len(value_to_doc) <= ISIN_PROBE_MAX:
        candidates = events_df.where(key.isin(list(value_to_doc)))
    else:
        # many captured values: an IN with N literals bloats the plan
        # (Catalyst carries every literal through analysis/codegen), so
        # probe via a broadcast semi-join on the SAME compiled key —
        # still Column-built end to end, so backslashes/quotes in
        # captured values never meet the SQL parser
        from pyspark.sql import functions as F

        vals = events_df.sparkSession.createDataFrame(
            [(v,) for v in sorted(value_to_doc)], "_probe_value string"
        )
        candidates = events_df.join(
            F.broadcast(vals), key == F.col("_probe_value"), "left_semi"
        )
    dedup_ids = inflight_store.alerted_ids().unionByName(alert_store.alerted_ids())
    if extra_alerted_ids:
        # intra-pass F9 replay for the deferred-upsert form: ids
        # captured by earlier groups this pass are not in the store yet
        extra = events_df.sparkSession.createDataFrame(
            [(x,) for x in sorted(extra_alerted_ids)],
            "alerted_event_id string",
        )
        dedup_ids = dedup_ids.unionByName(extra)
    p = threshold_shell(
        dict(slot, criteria=static, utctimestamp=(now or utcnow()).isoformat())
    )
    fired = threshold_alerts(
        candidates, p, alerted_ids=dedup_ids, id_col=id_col, ts_col=ts_col
    )

    spill = None
    if spill_store is None:
        fired_docs = alerts_df_to_docs(fired)
    else:
        refs, keep_full = _referenced_event_indices(docs[0], slot_index)
        if keep_full:
            fired_docs = alerts_df_to_docs(fired)
        else:
            fired_docs, spill = slim_captures(
                fired, p, refs, id_col, generate_meteor_id()
            )
    if spill is not None:
        spill_store.append_frame(spill)

    updates = []
    for fired_doc in fired_docs:
        doc = value_to_doc.get(str(fired_doc["metadata"]["value"]))
        if doc is None:
            continue
        inflight = deepcopy(sequence_shell(doc))
        inflight["slots"][slot_index] = fired_doc
        updates.append(inflight)
        if extra_alerted_ids is not None:
            for evd in fired_doc.get("events") or []:
                eid = evd.get(id_col)
                if eid is not None:
                    extra_alerted_ids.add(str(eid))
    if collect_updates is not None:
        collect_updates.extend(updates)
    else:
        inflight_store.upsert_many(updates)
    return leftover


def _filter_slice_events_frame(
    slice_, ids_df, thr: int, id_col: str, hint_broadcast: bool = False
):
    """Intra-pass F8/F9 replay of the frame tier's starts and resume
    passes: drop events captured by EARLIER rules/groups this pass from the
    collected sample, recompute the count exactly whenever the
    collection cap was not hit, re-apply the threshold.

    Shape: explode the (fired-groups-only, tiny) slice, anti-join on
    event id, regroup preserving the original (ts, id) array order via
    the carried position — a literal-array membership test is
    O(|captured ids|) PER EVENT and dominated the fused pass once one
    rule captured ~100k events; the hash anti-join makes it O(1).
    The captured ids arrive as DataFrame[alerted_event_id], built as a
    plan over persisted fired frames (emission never collects, so
    there is no driver set anywhere on these paths).

    ``hint_broadcast`` is for callers whose id frame is known tiny; a
    plan-derived id frame is bounded by (fired groups x event cap) —
    unbounded in corpus size — so its join strategy stays AQE's call
    by default."""
    from pyspark.sql import functions as F

    ex = slice_.select(
        "value",
        "count",
        F.size("events").alias("_n0"),
        F.posexplode("events").alias("_pos", "_e"),
    )
    probe = F.broadcast(ids_df) if hint_broadcast else ids_df
    kept = ex.join(
        probe,
        ex["_e"][id_col].cast("string") == ids_df["alerted_event_id"],
        "left_anti",
    )
    regrouped = kept.groupBy("value", "count", "_n0").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_pos").alias("p"), F.col("_e").alias("e"))
                )
            ),
            lambda x: x["e"],
        ).alias("events")
    )
    return regrouped.select(
        "value",
        F.when(
            F.col("count") == F.col("_n0"),
            F.size("events").cast("long"),
        )
        .otherwise(F.col("count"))
        .alias("count"),
        "events",
    ).where((F.col("count") >= thr) & (F.size("events") > 0))
