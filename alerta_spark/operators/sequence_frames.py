"""Frame-native fused sequence tier — in-flight state stays executor-side.

Driver-side sequence state handling round-trips every in-flight
document through driver Python each pass: collecting
``DocStore.docs()`` to build resume groups, collecting the fired slim
rows, re-serializing deepcopied dicts through ``createDataFrame``, and
collecting the whole table again to complete and expire. The docs are
slim (~1.5 KB stubs), but 50k in-flight groups still cost ~50k JSON
parses + dict copies + re-serializations on the driver per pass —
measured as driver max-RSS growing 207→782 MB across 5k→50k in-flight
groups while the documents themselves were only 73 MB.

This module keeps the in-flight table AS A DATAFRAME end to end
(reference analogue: the state scan feeding the correlator loop,
alerta.py:210-215, re-expressed as joins):

- per-doc routing (next unfilled slot, captured template value,
  completion/expiry flags) is computed in Arrow-batched UDFs over the
  store frame — the driver never parses a state document;
- the driver materializes only per-(rule, slot) GROUP metadata — one
  representative document per group, bounded by rule count × slot
  count, independent of in-flight cardinality;
- the captured-value probe is a broadcast semi-join of the exploded
  scan against the winners frame (``fused_grouped(probe=...)``) — no
  IN literals, no plan-size cap, no collected value set;
- fired groups join back to their documents by captured value and the
  updated documents (slot fill + ``doc_to_row``) are assembled inside
  Arrow UDFs, reaching the store via ``DocStore.upsert_rows`` /
  ``append_rows`` without a driver hop;
- completion + expiry flag the frame, emit through the same
  spill-join/assemble UDF, and overwrite the kept rows from the frame.

Deadman (absence) resume slots fuse too (round 9): the captured
values probe one raw-events aggregate (NO F8/F9 anti-joins — the
deadman path has no dedup, reference parity alerta.py:413-425), a
value with count <= threshold advances with its real group, and a
value with NO matching events advances with the reference's
synthesized (aggregation_key, 0, []) row — broadcast as a 1-row
constant onto the absent members. The fired slot's rendered criteria
is reconstructed per document (prefix + captured value + suffix).

Unfusable shapes (multi-templated criteria, key ≠ aggregation key,
criteria that fail to parse, non-threshold/deadman slot types) and
duplicate-value strays are the ONLY documents ever collected — they
route to the faithful driver-side paths, preserving their exact
semantics.

Ordering note: the driver loop processes groups in newest-first
document-scan order; this tier orders fusable groups by (max group
utcepoch desc, alert_name, slot idx) and picks per-value winners by
(utcepoch desc, _id) — identical wherever epochs differ, deterministic
(where the collect order was not) on ties. Same accepted divergence
class as the fused/sequential boundary already documents.
"""

from __future__ import annotations

import json
from copy import deepcopy
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alerta_spark.ckpt import checkpoint
from alerta_spark.operators.sequence import (
    _is_expired,
    _referenced_event_indices,
    _slot_doc_from_row,
    first_unfilled_slot,
)
from alerta_spark.rules import (
    generate_meteor_id,
    sequence_shell,
    threshold_shell,
    utcnow,
)
from alerta_spark.state import (
    DOC_SCHEMA,
    SLOT_EVENTS_SCHEMA,
    DocStore,
    SlotEventStore,
    doc_to_row,
)
from alerta_spark.templates import _lookup

_DOC_COLS = [f.name for f in DOC_SCHEMA.fields]

_ROUTE_SCHEMA = T.StructType(
    list(DOC_SCHEMA.fields)
    + [
        T.StructField("g_name", T.StringType()),
        T.StructField("next_idx", T.IntegerType()),
    ]
)

_FLAG_SCHEMA = T.StructType(
    list(DOC_SCHEMA.fields)
    + [
        T.StructField("complete", T.BooleanType()),
        T.StructField("expired", T.BooleanType()),
        T.StructField("slot_idx", T.ArrayType(T.IntegerType())),
        T.StructField("refs", T.ArrayType(T.StringType())),
    ]
)


def _passthrough(pdf, extra: dict):
    import pandas as pd

    out = pdf.copy()
    for k, v in extra.items():
        out[k] = pd.Series(v, index=pdf.index, dtype="object")
    return out


def route_inflight(inf: DataFrame) -> DataFrame:
    """Per-document resume routing, executor-side: the doc's own rule
    copy names its next unfilled slot (first_unfilled_slot — reference
    utils/helpers.py:96-113) and its group key. ``next_idx`` is -1 for
    documents with no unfilled slot (complete — finalize's business)."""

    def fn(batches):
        for pdf in batches:
            names, idxs = [], []
            for doc_json in pdf["doc"]:
                doc = json.loads(doc_json)
                idx, slot = first_unfilled_slot(doc)
                names.append(str(doc.get("alert_name", "")))
                idxs.append(-1 if slot is None else int(idx))
            yield _passthrough(pdf, {"g_name": names, "next_idx": idxs})

    return inf.mapInPandas(fn, schema=_ROUTE_SCHEMA)


_JSON_SHORT_ESCAPES = {
    '"': '\\"', "\\": "\\\\", "\b": "\\b", "\t": "\\t",
    "\n": "\\n", "\f": "\\f", "\r": "\\r",
}


def _composite_value(values: list[str]) -> str:
    """The doc-side rendering of a multi-variable captured composite:
    the JSON array string of the components — byte-identical to the
    event side's ``to_json(array(...))`` (``fused_grouped``'s
    ``composite_keys``; parity pinned incl. quotes/backslashes/
    control chars in tests).

    Hand-rolled rather than ``json.dumps``: Jackson (Spark's writer)
    emits UPPERCASE hex in ``\\uXXXX`` control-char escapes where
    Python emits lowercase, so ``json.dumps`` silently breaks the
    composite join for any captured value containing U+000B, U+000E-
    U+000F, or U+001A-U+001F (the control chars whose hex carries a
    letter — the shortcuts ``\\b \\t \\n \\f \\r`` and digit-only
    codes agree between the two). Jackson's escape set is exactly:
    quote, backslash, the five shortcuts, and ``\\u00XX`` uppercase
    for the remaining chars below 0x20; nothing else (non-ASCII and
    DEL pass through raw — probed live against Spark 4)."""
    parts = []
    for v in values:
        buf = ['"']
        for ch in v:
            esc = _JSON_SHORT_ESCAPES.get(ch)
            if esc is not None:
                buf.append(esc)
            elif ord(ch) < 0x20:
                buf.append("\\u%04X" % ord(ch))
            else:
                buf.append(ch)
        buf.append('"')
        parts.append("".join(buf))
    return "[" + ",".join(parts) + "]"


def _annotate_tmpl_values(
    routed: DataFrame, paths: dict[tuple[str, int], list[list[str]]]
) -> DataFrame:
    """Add ``tmpl_value`` — the captured state value(s) the group's
    compiled template paths name, looked up with the exact Python
    semantics of the driver loop (``templates._lookup``: dict walk,
    JSON-string descent, str() rendering). Single-variable groups
    carry the raw rendered value; multi-variable groups carry the
    composite JSON array string (``_composite_value``). NULL when ANY
    component misses — those documents fall back per-document, where
    ``render_py`` handles the miss."""
    schema = T.StructType(
        list(_ROUTE_SCHEMA.fields) + [T.StructField("tmpl_value", T.StringType())]
    )

    def fn(batches):
        for pdf in batches:
            vals = []
            for doc_json, name, idx in zip(
                pdf["doc"], pdf["g_name"], pdf["next_idx"]
            ):
                parts_lists = paths.get((str(name), int(idx)))
                if parts_lists is None:
                    vals.append(None)
                    continue
                doc = json.loads(doc_json)
                comps = [_lookup(doc, parts) for parts in parts_lists]
                if any(c is None for c in comps):
                    vals.append(None)
                elif len(comps) == 1:
                    vals.append(str(comps[0]))
                else:
                    vals.append(_composite_value([str(c) for c in comps]))
            yield _passthrough(pdf, {"tmpl_value": vals})

    return routed.mapInPandas(fn, schema=schema)


class _GroupMeta:
    """Driver-side metadata for ONE fusable (rule, slot) group — the
    only thing the driver keeps per group: the representative doc's
    compiled slot shape, never the member documents.

    ``crit_parts`` (deadman groups, and multi-variable threshold
    groups) is the list of N+1 static segments of the slot's
    TEMPLATED criteria text around its N template variables
    (``criteria_segments``): the per-document path records the
    RENDERED criteria in the fired slot (``render_py`` at
    sequence.py:298), so the frame face reconstructs it as
    segs[0] + v0 + segs[1] + ... inside the update UDF —
    byte-identical to the driver path. Single-variable threshold
    groups leave it None (their faithful twin is the BATCHED driver
    path, which records the static criteria).

    ``tmpl_parts`` is a list of dotted-path component lists (one per
    template variable); ``key_paths`` the matching event-side paths;
    ``agg_idx`` the component whose event path equals the slot's
    aggregation_key (the fired group's ``metadata.value``)."""

    __slots__ = (
        "name", "idx", "p_asm", "static", "tmpl_parts",
        "refs", "keep_full", "max_epoch", "crit_parts",
        "key_paths", "agg_idx",
    )

    def __init__(self, name, idx, p_asm, static, tmpl_parts, refs,
                 keep_full, max_epoch, crit_parts=None,
                 key_paths=None, agg_idx=0):
        self.name = name
        self.idx = idx
        self.p_asm = p_asm
        self.static = static
        self.tmpl_parts = tmpl_parts
        self.refs = refs
        self.keep_full = keep_full
        self.max_epoch = max_epoch
        self.crit_parts = crit_parts
        self.key_paths = key_paths
        self.agg_idx = agg_idx

    @property
    def n_vars(self) -> int:
        return len(self.tmpl_parts)


def _coerce_slim_row(pdf, i: int, n_ej: int) -> dict[str, Any]:
    """Arrow->Python coercion for one slim fired row: the driver path
    reads these fields off a collected Row (Python int/str/list); the
    pandas batch carries numpy scalars and arrays, which json.dumps
    would mangle (np.int64 hits default=str and renders as a STRING
    count)."""
    ids = pdf["_ids"].iloc[i]
    row = {
        "_v": pdf["_v"].iloc[i],
        "_c": int(pdf["_c"].iloc[i]),
        "_s": pdf["_s"].iloc[i],
        "_ids": list(ids) if ids is not None else [],
        "_ref": pdf["_ref"].iloc[i] if "_ref" in pdf.columns else None,
    }
    for k in range(n_ej):
        v = pdf[f"_ej{k}"].iloc[i]
        row[f"_ej{k}"] = None if v is None else str(v)
    return row


def _rendered_criteria(crit_parts, tmpl_value: str, composite: bool) -> str:
    """Reconstruct ``render_py(criteria, doc)`` from the group's
    static segments + the doc's captured value(s): segs[0] + v0 +
    segs[1] + ... — the composite form decodes its components from
    the JSON array ``tmpl_value``."""
    comps = json.loads(tmpl_value) if composite else [tmpl_value]
    out = [str(crit_parts[0])]
    for c, seg in zip(comps, crit_parts[1:]):
        out.append(str(c))
        out.append(str(seg))
    return "".join(out)


def _mk_resume_slim_udf(p_asm, slot_index: int, idx_sorted, id_col: str,
                        crit_parts=None, composite: bool = False):
    """Arrow UDF: (in-flight doc JSON) x (slim fired columns) -> the
    updated DOC_SCHEMA row — exactly the driver loop's
    ``inflight = deepcopy(sequence_shell(doc)); slots[i] = fired_doc;
    doc_to_row(...)`` (same helpers, so written documents are
    byte-compatible).

    ``crit_parts`` (deadman + multi-variable faces): the fired slot
    additionally records the RENDERED criteria — the static segments
    interleaved with the doc's captured value(s) (``tmpl_value``
    column), the per-document path's ``render_py`` output.

    ``composite``: ``tmpl_value`` carries the JSON-array composite
    (decoded for criteria rendering); the slim row's ``_v`` —
    the slot's ``metadata.value`` — is already the aggregation-key
    COMPONENT (``_slim_projection`` keeps the join key separate as
    ``_jv``), so no value patch is needed."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                fired = _slot_doc_from_row(
                    p_asm, _coerce_slim_row(pdf, i, len(idx_sorted)),
                    idx_sorted, id_col,
                )
                if crit_parts is not None:
                    fired["criteria"] = _rendered_criteria(
                        crit_parts, pdf["tmpl_value"].iloc[i], composite
                    )
                doc = sequence_shell(json.loads(pdf["doc"].iloc[i]))
                doc["slots"][slot_index] = fired
                out.append(doc_to_row(doc))
            yield pd.DataFrame(out, columns=_DOC_COLS)

    return fn


def _mk_resume_full_udf(slot_index: int, crit_parts=None,
                        composite: bool = False):
    """keep_full groups: the fired alert row arrives as its whole-row
    JSON (``to_json(struct(*))`` — the executor-side twin of
    ``alerts_df_to_docs``) and lands in the document verbatim. Even
    full payloads never transit the driver on this path.

    ``crit_parts`` (deadman + multi-variable faces): patch the fired
    slot's criteria to the per-document RENDERED form — needed
    because for the ABSENT/synthesized case the fired row's metadata
    value is the aggregation_key literal, not the doc's captured
    value. (``metadata.value`` itself needs no patch here: the
    assembled frame already carries the aggregation-key component.)"""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                doc = sequence_shell(json.loads(pdf["doc"].iloc[i]))
                fired = json.loads(pdf["_fired_json"].iloc[i])
                if crit_parts is not None:
                    fired["criteria"] = _rendered_criteria(
                        crit_parts, pdf["tmpl_value"].iloc[i], composite
                    )
                doc["slots"][slot_index] = fired
                out.append(doc_to_row(doc))
            yield pd.DataFrame(out, columns=_DOC_COLS)

    return fn


def _mk_start_slim_udf(template_json: str, p_asm, slot_index: int,
                       idx_sorted, id_col: str):
    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                fired = _slot_doc_from_row(
                    p_asm, _coerce_slim_row(pdf, i, len(idx_sorted)),
                    idx_sorted, id_col,
                )
                doc = json.loads(template_json)
                doc["slots"][slot_index] = fired
                doc.setdefault("_id", generate_meteor_id())
                out.append(doc_to_row(doc))
            yield pd.DataFrame(out, columns=_DOC_COLS)

    return fn


def _mk_start_full_udf(template_json: str, slot_index: int):
    def fn(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for fired_json in pdf["_fired_json"]:
                doc = json.loads(template_json)
                doc["slots"][slot_index] = json.loads(fired_json)
                doc.setdefault("_id", generate_meteor_id())
                out.append(doc_to_row(doc))
            yield pd.DataFrame(out, columns=_DOC_COLS)

    return fn


def _slim_projection(assembled: DataFrame, idx_sorted, id_col: str,
                     with_ref: bool, join_col: str | None = None):
    """The executor-side twin of ``slim_captures``'s collect
    projection: value/count/summary/ids (+ per-referenced-index event
    JSON) as plain columns the update UDF consumes.

    ``join_col`` (multi-variable groups): the composite join key
    column, kept SEPARATE from ``_v`` as ``_jv`` — ``_v`` stays the
    slot document's ``metadata.value`` (the aggregation-key
    component) while the member join runs on the composite."""
    sel = [
        F.col("metadata.value").alias("_v"),
        F.col("metadata.count").alias("_c"),
        F.col("summary").alias("_s"),
        F.transform("events", lambda e: e[id_col].cast("string")).alias("_ids"),
    ]
    if join_col is not None:
        sel.append(F.col(join_col).alias("_jv"))
    if with_ref:
        sel.append(F.col("_ref"))
    for k, j in enumerate(idx_sorted):
        sel.append(
            F.to_json(
                F.try_element_at(F.col("events"), F.lit(j + 1 if j >= 0 else j))
            ).alias(f"_ej{k}")
        )
    return assembled.select(*sel)


def _assemble_fired(slice_, g, events_schema) -> DataFrame:
    """Assemble a fired slice into alert documents, composite-aware:
    for a multi-variable group the grouped "value" is the JSON-array
    composite — the slot document's ``metadata.value`` becomes the
    aggregation-key COMPONENT (per-document parity) while the
    composite rides along as the ``_cv`` carry for the member join /
    spill ref (see ``_advance_members``)."""
    from alerta_spark.operators.threshold import assemble_alerts

    if g.n_vars > 1:
        slice_ = slice_.select(
            F.from_json(F.col("value"), "array<string>")[g.agg_idx].alias(
                "value"
            ),
            "count",
            "events",
            F.col("value").alias("_cv"),
        )
        return assemble_alerts(slice_, g.p_asm, events_schema, carry=("_cv",))
    return assemble_alerts(slice_, g.p_asm, events_schema)


def _advance_members(assembled, members, g, id_col: str, spill_store,
                     upd_frames, spill_frames) -> None:
    """Shared fired→document advance of the resume faces (threshold
    AND deadman-present): join the assembled fired groups back to the
    member documents by captured value and append the update plan —
    full-payload form when there is no spill store or the rule's
    templates need whole events, slim + executor-side spill otherwise.
    ``g.crit_parts`` (set on deadman and multi-variable groups)
    patches the rendered criteria inside the UDF.

    Multi-variable groups (``g.n_vars > 1``): ``assembled`` carries
    the composite join key as the ``_cv`` passthrough column
    (``assemble_alerts(..., carry=('_cv',))``) — the member join and
    the spill ref key on the COMPOSITE (``metadata.value`` is only
    the aggregation-key component, shared between composites, so
    keying the ref on it would collide two groups' spill payloads),
    and ``_cv`` is excluded from the serialized document."""
    composite = g.n_vars > 1
    join_src = "_cv" if composite else "metadata.value"
    if spill_store is None or g.keep_full:
        fired_j = assembled.select(
            F.col(join_src).alias("_v"),
            F.to_json(
                F.struct(
                    *[F.col(c) for c in assembled.columns if c != "_cv"]
                )
            ).alias("_fired_json"),
        )
        joined = members.join(
            fired_j, members["tmpl_value"] == fired_j["_v"]
        ).select("doc", "tmpl_value", "_fired_json")
        upd_frames.append(
            joined.mapInPandas(
                _mk_resume_full_udf(g.idx, g.crit_parts, composite),
                schema=DOC_SCHEMA,
            )
        )
    else:
        nonce = generate_meteor_id()
        with_ref = checkpoint(
            assembled.withColumn(
                "_ref",
                F.md5(F.concat_ws("\x1f", F.lit(nonce), F.col(join_src))),
            ),
            eager=True,
        )
        spill_frames.append(
            with_ref.select(
                F.col("_ref").alias("capture_id"),
                F.to_json("events").alias("events_json"),
            )
        )
        slim = _slim_projection(
            with_ref, g.refs, id_col, with_ref=True,
            join_col="_cv" if composite else None,
        )
        join_key = slim["_jv"] if composite else slim["_v"]
        joined = members.join(slim, members["tmpl_value"] == join_key)
        upd_frames.append(
            joined.mapInPandas(
                _mk_resume_slim_udf(
                    g.p_asm, g.idx, g.refs, id_col, g.crit_parts, composite
                ),
                schema=DOC_SCHEMA,
            )
        )


def resume_fused_frames(
    events_df: DataFrame,
    inflight_store: DocStore,
    alert_store: DocStore,
    id_col: str = "event_id",
    ts_col: str = "ts",
    spill_store: SlotEventStore | None = None,
    now: datetime | None = None,
) -> tuple[list[tuple[tuple[str, int], list[dict]]], list[dict]]:
    """Advance every fusable in-flight (rule, slot) group with ONE
    events scan and ZERO per-document driver materialization — the
    frame-native resume. Returns ``(unfused_groups, stray_docs)``
    for the caller's batched/per-document fallbacks; only THOSE
    documents are ever collected.

    F9 intra-pass replay: captured event ids chain between group
    slices as FRAMES (``_filter_slice_events_frame`` — the same
    mechanism the starts pass uses), never as driver sets.
    The captured-value probe is a broadcast semi-join inside the
    shared scan, so group size has no plan-size cap (the driver
    ``ISIN_PROBE_MAX`` detour does not exist here). Fired slots are
    stamped with ``now`` (default: the wall clock)."""
    from alerta_spark.dialect import trino_to_spark
    from alerta_spark.operators.dedup import (
        alerted_event_ids,
        remove_previously_alerted,
    )
    from alerta_spark.operators.sequence import _filter_slice_events_frame
    from alerta_spark.operators.threshold import assemble_alerts, fused_grouped

    spark = events_df.sparkSession
    if not inflight_store._exists():
        return [], []
    stamp = (now or utcnow()).isoformat()
    routed = route_inflight(inflight_store.frame())
    resumable = routed.where(F.col("next_idx") >= 0).persist()
    try:
        meta_rows = (
            resumable.groupBy("g_name", "next_idx")
            .agg(
                F.max("utcepoch").alias("max_epoch"),
                F.max_by(
                    "doc", F.struct(F.col("utcepoch"), F.col("_id"))
                ).alias("rep_doc"),
            )
            .collect()
        )
        if not meta_rows:
            return [], []

        from alerta_spark.operators.sequence import (
            compile_templated_criteria_multi,
            criteria_segments,
            key_paths_resolve,
        )
        from alerta_spark.rules import deadman_shell

        fusable: list[_GroupMeta] = []
        dm_groups: list[_GroupMeta] = []
        unfused_meta: list[tuple[int, str, int]] = []
        for r in meta_rows:
            name, idx = str(r["g_name"]), int(r["next_idx"])
            rep = json.loads(r["rep_doc"])
            slot = rep["slots"][idx]
            crit = str(slot.get("criteria", ""))
            a_type = str(slot.get("alert_type", "threshold"))
            compiled = compile_templated_criteria_multi(crit)
            if (
                a_type not in ("threshold", "deadman")
                or compiled is None
                or str(slot.get("aggregation_key", "")) not in compiled[1]
                # an unresolvable event key path would NULL the probe
                # key for every event (silent never-fire); the
                # per-document path renders working SQL for it
                or not key_paths_resolve(events_df, compiled[1])
            ):
                unfused_meta.append((int(r["max_epoch"]), name, idx))
                continue
            static, key_paths, tmpl_paths = compiled
            n_vars = len(key_paths)
            agg_idx = key_paths.index(str(slot.get("aggregation_key", "")))
            crit_parts = None
            if a_type == "deadman" or n_vars > 1:
                # these faces' faithful twin is the PER-DOCUMENT path,
                # which records the RENDERED criteria in the fired slot
                # — reconstructed in-UDF from the static segments
                # around the template variables (single-variable
                # threshold's twin is the batched path: static only)
                crit_parts = criteria_segments(crit, n_vars)
                if crit_parts is None:
                    unfused_meta.append((int(r["max_epoch"]), name, idx))
                    continue
            try:
                shell = deadman_shell if a_type == "deadman" else threshold_shell
                p_asm = shell(dict(slot, criteria=static, utctimestamp=stamp))
                if static:
                    # plan-time parse + resolve check; no job runs
                    events_df.where(F.expr(trino_to_spark(static))).schema
            except Exception:
                unfused_meta.append((int(r["max_epoch"]), name, idx))
                continue
            refs, keep_full = _referenced_event_indices(rep, idx)
            meta = _GroupMeta(
                name, idx, p_asm, static,
                [[p for p in tp.split(".") if p] for tp in tmpl_paths],
                sorted(refs), keep_full, int(r["max_epoch"]), crit_parts,
                key_paths=key_paths, agg_idx=agg_idx,
            )
            (dm_groups if a_type == "deadman" else fusable).append(meta)
        # ONE collect serves every unfusable group (a sorted collect
        # per group would cost one Spark job per group); the global
        # (utcepoch desc, _id) sort makes each group's slice arrive in
        # the driver loop's newest-first order. Groups themselves run
        # newest-first (max_epoch desc, then name, idx) — mirroring
        # fusable.sort below — so intra-pass F9 contention between
        # overlapping unfused captures resolves the same way every run
        # (meta_rows collect order is nondeterministic groupBy output).
        unfused_meta.sort(key=lambda t: (-t[0], t[1], t[2]))
        unfused_keys: list[tuple[str, int]] = [
            (n, i) for _, n, i in unfused_meta
        ]
        unfused: list[tuple[tuple[str, int], list[dict]]] = []
        if unfused_keys:
            keys_df = spark.createDataFrame(
                unfused_keys, "g_name string, next_idx int"
            )
            rows = (
                resumable.join(
                    F.broadcast(keys_df), ["g_name", "next_idx"], "left_semi"
                )
                .orderBy(F.desc("utcepoch"), F.asc("_id"))
                .select("g_name", "next_idx", "doc")
                .collect()
            )
            by_key: dict[tuple[str, int], list[dict]] = {
                k: [] for k in unfused_keys
            }
            for r in rows:
                by_key[(str(r["g_name"]), int(r["next_idx"]))].append(
                    json.loads(r["doc"])
                )
            unfused = [(k, by_key[k]) for k in unfused_keys]
            if len(rows) > 1000:
                # the fallback is per-DOCUMENT driver work (Spark jobs
                # per doc) — regression to pre-frame-tier cost must be
                # observable, not silent; measured curve:
                # engine_sequence_pass_unfused in SCALE_BENCH.json
                import logging

                logging.getLogger(__name__).warning(
                    "resume_fused_frames: %d in-flight documents across "
                    "%d groups fall back to the per-document driver path "
                    "(unfusable next-slot shapes: non-equality template "
                    "conjuncts, aggregation_key outside the templated "
                    "paths, or unparseable criteria) — expect roughly "
                    "linear pass time in that document count",
                    len(rows),
                    len(unfused_keys),
                )
        if not fusable and not dm_groups:
            return unfused, []
        # driver-loop order: newest group first (see module docstring)
        fusable.sort(key=lambda g: (-g.max_epoch, g.name, g.idx))
        dm_groups.sort(key=lambda g: (-g.max_epoch, g.name, g.idx))

        valued = _annotate_tmpl_values(
            resumable,
            {(g.name, g.idx): g.tmpl_parts for g in fusable + dm_groups},
        )
        stray: list[dict] = []
        upd_frames: list[DataFrame] = []
        spill_frames: list[DataFrame] = []
        to_unpersist: list[DataFrame] = []
        try:
            if fusable:
                fus_keys = spark.createDataFrame(
                    [(g.name, g.idx, i) for i, g in enumerate(fusable)],
                    "g_name string, next_idx int, rule_idx int",
                )
                members = valued.join(
                    F.broadcast(fus_keys), ["g_name", "next_idx"]
                )
                w = Window.partitionBy("rule_idx", "tmpl_value").orderBy(
                    F.desc("utcepoch"), F.asc("_id")
                )
                ranked = members.withColumn(
                    "_rn", F.row_number().over(w)
                ).persist()
                to_unpersist.append(ranked)
                winners = ranked.where(
                    F.col("tmpl_value").isNotNull() & (F.col("_rn") == 1)
                )
                stray_rows = (
                    ranked.where(
                        F.col("tmpl_value").isNull() | (F.col("_rn") > 1)
                    )
                    .orderBy(F.desc("utcepoch"), F.asc("_id"))
                    .select("doc")
                    .collect()
                )
                stray.extend(json.loads(r["doc"]) for r in stray_rows)
                probe = winners.select(
                    "rule_idx", F.col("tmpl_value").alias("value")
                )
                dedup_ids = inflight_store.alerted_ids().unionByName(
                    alert_store.alerted_ids()
                )
                ev = remove_previously_alerted(
                    events_df, dedup_ids, id_col=id_col
                )
                grouped = fused_grouped(
                    ev, [g.p_asm for g in fusable], id_col, ts_col,
                    probe=probe,
                    composite_keys=[
                        g.key_paths if g.n_vars > 1 else None
                        for g in fusable
                    ],
                ).persist()
                to_unpersist.append(grouped)
                captured = None
                multi = len(fusable) > 1
                for i, g in enumerate(fusable):
                    thr = int(g.p_asm["threshold"])
                    slice_ = grouped.where(
                        (F.col("rule_idx") == i) & (F.col("count") >= thr)
                    ).select("value", "count", "events")
                    if captured is not None:
                        slice_ = _filter_slice_events_frame(
                            slice_, captured, thr, id_col
                        )
                    slice_ = checkpoint(slice_, eager=True)
                    if multi:
                        ids_k = alerted_event_ids(slice_, id_field=id_col)
                        captured = (
                            ids_k
                            if captured is None
                            else captured.unionByName(ids_k)
                        )
                    assembled = _assemble_fired(slice_, g, ev.schema)
                    win_g = winners.where(F.col("rule_idx") == i).select(
                        "doc", "tmpl_value"
                    )
                    _advance_members(
                        assembled, win_g, g, id_col, spill_store,
                        upd_frames, spill_frames,
                    )
            if dm_groups:
                # DEADMAN face (absence slots): each group's captured
                # value fires when its event count is <= threshold —
                # including zero (the reference's empty-input synthesis,
                # alerta.py:413-425: a (aggregation_key, 0) row with no
                # events). Runs on the RAW events frame with no F8/F9
                # anti-joins (no dedup on the deadman path — reference
                # parity, alerta.py:413-425) and AFTER the threshold
                # face, mirroring the driver loop (batched threshold
                # groups first, per-document singles after). ALL members
                # of a value advance (the per-document path processes
                # duplicates individually and each fires identically),
                # so there is no winner cut and no duplicate-value
                # strays here — only null captured values fall back.
                dm_keys = spark.createDataFrame(
                    [(g.name, g.idx, j) for j, g in enumerate(dm_groups)],
                    "g_name string, next_idx int, rule_idx int",
                )
                dm_members = valued.join(
                    F.broadcast(dm_keys), ["g_name", "next_idx"]
                ).persist()
                to_unpersist.append(dm_members)
                dm_stray_rows = (
                    dm_members.where(F.col("tmpl_value").isNull())
                    .orderBy(F.desc("utcepoch"), F.asc("_id"))
                    .select("doc")
                    .collect()
                )
                stray.extend(json.loads(r["doc"]) for r in dm_stray_rows)
                dm_ok = dm_members.where(F.col("tmpl_value").isNotNull())
                # no .distinct() here: fused_grouped distincts its
                # probe internally before broadcasting
                dm_probe = dm_ok.select(
                    "rule_idx", F.col("tmpl_value").alias("value")
                )
                dm_grouped = fused_grouped(
                    events_df, [g.p_asm for g in dm_groups], id_col,
                    ts_col, probe=dm_probe,
                    composite_keys=[
                        g.key_paths if g.n_vars > 1 else None
                        for g in dm_groups
                    ],
                ).persist()
                to_unpersist.append(dm_grouped)
                events_type = dm_grouped.schema["events"].dataType
                for j, g in enumerate(dm_groups):
                    thr = int(g.p_asm["threshold"])
                    # the FULL per-value aggregate (not just fired):
                    # values present with count > threshold must block
                    # both the fired join and the absent anti-join
                    slice_all = checkpoint(
                        dm_grouped.where(F.col("rule_idx") == j).select(
                            "value", "count", "events"
                        ),
                        eager=True,
                    )
                    mem_g = dm_ok.where(F.col("rule_idx") == j).select(
                        "doc", "tmpl_value"
                    )
                    # ABSENT: the captured value matched nothing — the
                    # synthesized (aggregation_key, 0, []) row fires;
                    # its constant 1-row assembled form broadcasts onto
                    # every absent member (the only crossJoin shape the
                    # repo allows: broadcast of a 1-row frame)
                    synth = spark.range(1).select(
                        F.lit(str(g.p_asm["aggregation_key"])).alias(
                            "value"
                        ),
                        F.lit(0).cast("long").alias("count"),
                        F.array().cast(events_type).alias("events"),
                    )
                    synth_a = assemble_alerts(
                        synth, g.p_asm, events_df.schema
                    )
                    synth_j = synth_a.select(
                        F.to_json(
                            F.struct(*[F.col(c) for c in synth_a.columns])
                        ).alias("_fired_json")
                    )
                    absent = mem_g.join(
                        slice_all.select(F.col("value").alias("_v2")),
                        mem_g["tmpl_value"] == F.col("_v2"),
                        "left_anti",
                    )
                    upd_frames.append(
                        absent.crossJoin(F.broadcast(synth_j)).mapInPandas(
                            _mk_resume_full_udf(
                                g.idx, g.crit_parts, g.n_vars > 1
                            ),
                            schema=DOC_SCHEMA,
                        )
                    )
                    # PRESENT with 1 <= count <= threshold: fires with
                    # the real captured group (same full/slim split as
                    # the threshold face, via the shared helper)
                    fired = slice_all.where(F.col("count") <= thr)
                    assembled = _assemble_fired(fired, g, events_df.schema)
                    _advance_members(
                        assembled, mem_g, g, id_col, spill_store,
                        upd_frames, spill_frames,
                    )
            # ONE spill append + ONE state write for the whole pass,
            # spill first so a crash leaves orphan spill rows (pruned
            # on the compaction cadence) rather than dangling refs
            if spill_frames:
                out = spill_frames[0]
                for s in spill_frames[1:]:
                    out = out.unionByName(s)
                spill_store.append_frame(out)
            if upd_frames:
                out = upd_frames[0]
                for u in upd_frames[1:]:
                    out = out.unionByName(u)
                inflight_store.upsert_rows(out)
        finally:
            for df_ in to_unpersist:
                df_.unpersist()
        return unfused, stray
    finally:
        resumable.unpersist()


def starts_fused_frames(
    events_df: DataFrame,
    rules: list[dict[str, Any]],
    inflight_store: DocStore,
    alert_store: DocStore,
    id_col: str = "event_id",
    ts_col: str = "ts",
    spill_store: SlotEventStore | None = None,
    now: datetime | None = None,
) -> list[dict[str, Any]]:
    """Start N fresh sequence rules with ONE events scan AND zero
    per-group driver materialization; returns the rules it could not
    fuse, for the caller's per-rule loop. Each fired group spawns its
    in-flight document inside an Arrow UDF from the rule's
    (driver-computed, constant) shell; fresh documents append to the
    state table executor-side. Fired slot-0 documents are stamped with
    ``now`` (default: the wall clock)."""
    from alerta_spark.dialect import trino_to_spark
    from alerta_spark.operators.dedup import (
        alerted_event_ids,
        remove_previously_alerted,
    )
    from alerta_spark.operators.sequence import _filter_slice_events_frame
    from alerta_spark.operators.threshold import assemble_alerts, fused_grouped
    from alerta_spark.paths import path_col
    from alerta_spark.templates import template_vars

    stamp = (now or utcnow()).isoformat()
    fusable: list[tuple[dict, int, dict]] = []
    leftover: list[dict] = []
    for rule in rules:
        doc = sequence_shell(deepcopy(rule))
        idx, slot = first_unfilled_slot(doc)
        if slot is None:
            continue
        crit = str(slot.get("criteria", ""))
        if (
            slot.get("alert_type", "threshold") != "threshold"
            or template_vars(crit)
            # a rule dict carrying an explicit _id makes every spawned
            # document share it; the driver path's upsert_many keeps
            # last-wins ONE, while this path's append would keep them
            # all — route the degenerate shape to the faithful loop
            or "_id" in rule
        ):
            leftover.append(rule)
            continue
        try:
            p = threshold_shell(dict(slot, utctimestamp=stamp))
            if p["criteria"]:
                # plan-time parse + resolve check; no job runs
                events_df.where(F.expr(trino_to_spark(p["criteria"]))).schema
            path_col(events_df, p["aggregation_key"])
        except Exception:
            leftover.append(rule)
            continue
        fusable.append((doc, idx, p))
    if not fusable:
        return leftover

    dedup_ids = inflight_store.alerted_ids().unionByName(
        alert_store.alerted_ids()
    )
    ev = remove_previously_alerted(events_df, dedup_ids, id_col=id_col)
    grouped = fused_grouped(
        ev, [p for _, _, p in fusable], id_col, ts_col
    ).persist()
    try:
        captured = None
        upd_frames: list[DataFrame] = []
        spill_frames: list[DataFrame] = []
        multi = len(fusable) > 1
        for i, (doc, idx, p) in enumerate(fusable):
            thr = int(p["threshold"])
            slice_ = grouped.where(
                (F.col("rule_idx") == i) & (F.col("count") >= thr)
            ).select("value", "count", "events")
            if captured is not None:
                slice_ = _filter_slice_events_frame(
                    slice_, captured, thr, id_col
                )
            slice_ = checkpoint(slice_, eager=True)
            if multi:
                ids_k = alerted_event_ids(slice_, id_field=id_col)
                captured = (
                    ids_k if captured is None else captured.unionByName(ids_k)
                )
            assembled = assemble_alerts(slice_, p, ev.schema)
            template_json = json.dumps(doc, default=str)
            refs, keep_full = _referenced_event_indices(doc, idx)
            idx_sorted = sorted(refs)
            if spill_store is None or keep_full:
                fired_j = assembled.select(
                    F.to_json(
                        F.struct(*[F.col(c) for c in assembled.columns])
                    ).alias("_fired_json")
                )
                upd_frames.append(
                    fired_j.mapInPandas(
                        _mk_start_full_udf(template_json, idx),
                        schema=DOC_SCHEMA,
                    )
                )
            else:
                nonce = generate_meteor_id()
                with_ref = checkpoint(
                    assembled.withColumn(
                        "_ref",
                        F.md5(
                            F.concat_ws(
                                "\x1f", F.lit(nonce), F.col("metadata.value")
                            )
                        ),
                    ),
                    eager=True,
                )
                spill_frames.append(
                    with_ref.select(
                        F.col("_ref").alias("capture_id"),
                        F.to_json("events").alias("events_json"),
                    )
                )
                slim = _slim_projection(with_ref, idx_sorted, id_col, True)
                upd_frames.append(
                    slim.mapInPandas(
                        _mk_start_slim_udf(
                            template_json, p, idx, idx_sorted, id_col
                        ),
                        schema=DOC_SCHEMA,
                    )
                )
        if spill_frames:
            out = spill_frames[0]
            for s in spill_frames[1:]:
                out = out.unionByName(s)
            spill_store.append_frame(out)
        if upd_frames:
            out = upd_frames[0]
            for u in upd_frames[1:]:
                out = out.unionByName(u)
            # fresh documents carry fresh ids: append, no upsert probe
            inflight_store.append_rows(out)
    finally:
        grouped.unpersist()
    return leftover


def flag_inflight(inf: DataFrame, now: datetime) -> DataFrame:
    """Completion/expiry flags + spill refs per document, executor-side
    (the finalize routing). Exact driver semantics: complete =
    every slot has events; expired checked only when NOT complete (a
    document that is both EMITS — create ran before expire in the
    reference loop, alerta.py:489-495)."""

    def fn(batches):
        for pdf in batches:
            comp, exp, sidx, refs = [], [], [], []
            for doc_json in pdf["doc"]:
                doc = json.loads(doc_json)
                slots = doc.get("slots") or []
                c = bool(slots) and all("events" in s for s in slots)
                comp.append(c)
                exp.append(bool((not c) and _is_expired(doc, now)))
                pairs = [
                    (i, s["_events_ref"])
                    for i, s in enumerate(slots)
                    if isinstance(s, dict) and s.get("_events_ref")
                ]
                sidx.append([i for i, _ in pairs])
                refs.append([r for _, r in pairs])
            yield _passthrough(
                pdf,
                {"complete": comp, "expired": exp, "slot_idx": sidx,
                 "refs": refs},
            )

    return inf.mapInPandas(fn, schema=_FLAG_SCHEMA)


def live_refs_frame(inflight_store: DocStore) -> DataFrame:
    """DataFrame[capture_id] of spill refs still referenced by any
    in-flight document, for ``SlotEventStore.prune_frame`` (live-ref
    cardinality tracks in-flight cardinality; never collect it)."""
    flagged = flag_inflight(inflight_store.frame(), utcnow())
    return (
        flagged.select(F.explode("refs").alias("capture_id")).distinct()
    )


def finalize_sequences_frames(
    inflight_store: DocStore,
    alert_store: DocStore,
    spill_store: SlotEventStore | None = None,
    now: datetime | None = None,
    prune: bool = True,
) -> tuple[int, int]:
    """Completion + expiry as ONE state read and ONE overwrite, with
    no per-document driver materialization; returns (completed,
    expired). A document that is both complete and past expiration
    EMITS (create ran before expire in the reference loop,
    alerta.py:489-495). Completed documents emit
    through the shared spill-join/assemble UDF; kept rows overwrite
    the table straight from the frame."""
    now = now or utcnow()
    if not inflight_store._exists():
        return 0, 0
    flagged = flag_inflight(inflight_store.frame(), now).persist()
    try:
        counts = flagged.agg(
            F.coalesce(
                F.sum(F.col("complete").cast("long")), F.lit(0)
            ).alias("c"),
            F.coalesce(
                F.sum(F.col("expired").cast("long")), F.lit(0)
            ).alias("e"),
        ).collect()[0]
        n_completed, n_expired = int(counts["c"]), int(counts["e"])
        if not n_completed and not n_expired:
            return 0, 0
        if n_completed:
            # crash-replay guard: the emitted alert keeps the in-flight
            # document's _id, so a pass that died between the alerts
            # append and the state overwrite leaves the completed doc
            # in-flight WITH its alert already written — the rerun must
            # drop the state without double-firing. Anti-join on _id
            # makes the replay emission an exact no-op (reference
            # analogue: the cron rerun + storage-level dedup contract,
            # SURVEY §1.4-5). bounded_frame: a replayed alert was
            # written minutes ago by the crashed pass, so the armed
            # dedup-history mtime bound keeps this guard O(window).
            _emit_completed_frame(
                flagged.where(F.col("complete"))
                .join(
                    alert_store.bounded_frame().select("_id"),
                    "_id",
                    "left_anti",
                )
                .select("doc", "slot_idx", "refs"),
                alert_store,
                spill_store,
            )
        kept = flagged.where(
            ~F.col("complete") & ~F.col("expired")
        )
        inflight_store.overwrite_frame(kept.select(*_DOC_COLS))
        if spill_store is not None and prune:
            spill_store.prune_frame(
                kept.select(F.explode("refs").alias("capture_id")).distinct()
            )
        return n_completed, n_expired
    finally:
        flagged.unpersist()


def _emit_completed_frame(
    slim: DataFrame,
    alert_store: DocStore,
    spill_store: SlotEventStore | None,
) -> None:
    """Frame-fed distributed completion emission: rehydrate each
    completed document's slots from the spill table by capture ref,
    render the summary, assemble the DOC_SCHEMA row — all inside the
    Arrow UDF, then append executor-side."""
    from alerta_spark.operators.sequence import _assemble_completed_udf

    spark = alert_store.spark
    spill = (
        spill_store.frame()
        if spill_store is not None
        else spark.createDataFrame([], SLOT_EVENTS_SCHEMA)
    )
    ex = slim.select(
        "doc", F.explode_outer(F.arrays_zip("slot_idx", "refs")).alias("z")
    ).select(
        "doc",
        F.col("z.slot_idx").alias("si"),
        F.col("z.refs").alias("ref"),
    )
    joined = ex.join(spill, ex["ref"] == spill["capture_id"], "left").select(
        "doc", "si", "events_json"
    )
    grouped = joined.groupBy("doc").agg(
        F.collect_list(F.struct("si", "events_json")).alias("fills")
    )
    alert_store.append_rows(
        grouped.mapInPandas(_assemble_completed_udf(), schema=DOC_SCHEMA)
    )
