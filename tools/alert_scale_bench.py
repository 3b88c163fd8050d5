"""Measure the ALERT-CARDINALITY axis of the engine (the one axis the
corpus-replication scale bench cannot see): wall time, emitted-alert
count, in-flight-state count, and DRIVER max-RSS as the number of
FIRED GROUPS grows 1x/3x/10x at a fixed rule count.

Why this axis: one alert per aggregation-key value (reference fan-out,
SURVEY.md §1.4-3) means fired-group cardinality grows with the corpus.
The round-5 verdict flagged driver-side alert-document assembly as the
remaining 100x bottleneck; round 6 moved threshold/deadman emission to
the executor-side writer (DocStore.append_frame) and made state
upserts set-based. This bench is the instrument that proves it: the
emission tiers must show time exponent ~<1 in fired groups and a
driver RSS that does not scale with alert cardinality (in-flight
sequence SLOT STATE is the documented driver-side remainder — its
growth is measured, not hidden).

Usage:  python tools/alert_scale_bench.py [--groups 500,1500,5000]
            [--label=<name>] [--skip-payload] [--axes=threshold,sequence]
Merges results into SCALE_BENCH.json under engine_* keys and prints
one line per (scale, phase). --label suffixes the result keys with
'@<name>' so one-off axes (e.g. an extreme-scale probe) coexist with
the canonical 500/1500/5000 rows instead of replacing them;
--skip-payload omits the events-per-group payload axis.

--axes=rules measures the RULE-COUNT axis instead of a group axis: one
threshold pass, and one deadman pass, over 10 and over 40 disjoint
rules at 400 fired groups, recording wall time and the Spark jobs the
pass ran (read from ``statusTracker`` under the pass's own job group).
``jobs_per_rule`` is the slope between the two rule counts — the
per-rule job term an engine pass pays.
"""

from __future__ import annotations

import json
import math
import resource
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent
N_RULES = 10
EVENTS_PER_GROUP = 3
# rule-count axis (--axes=rules): rule counts at a fixed fired-group count
RULE_COUNTS = (10, 40)
RULE_AXIS_GROUPS = 400


def _mk_rules(kind: str, n_rules: int = N_RULES):
    """``n_rules`` DISJOINT rules: rule i serves the users whose bucket
    is i (bucket = user % n_rules, stamped into the payload). Disjoint
    criteria keep every rule genuinely firing under the engine's
    intra-pass F8 replay (identical rules would collapse to one — in
    the reference's sequential loop, rule k dedups the events rules
    1..k-1 captured this pass), so alert cardinality == fired groups
    at every engine version and the axis measures emission, not
    overlap semantics."""

    def slot(i):
        return {
            "alert_type": "threshold",
            "criteria": (
                "source='onelogin' AND "
                "CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80"
                f" AND json_extract_scalar(details,'$.bucket')='{i}'"
            ),
            "summary": "risky login by {{events.0.details.user_name}}",
            "event_snippet": "",
            "aggregation_key": "details.user_name",
            "threshold": 1,
            "event_sample_count": 2,
        }

    if kind == "threshold":
        return [
            dict(slot(i), alert_name=f"thr_{i}", summary="hit {{metadata.value}}")
            for i in range(n_rules)
        ]
    if kind == "deadman":
        # deadman twins of the threshold rules: every user sends
        # EVENTS_PER_GROUP events, so `count <= EVENTS_PER_GROUP` fires
        # every group and the alert count matches the threshold axis
        return [
            dict(
                slot(i),
                alert_name=f"dm_{i}",
                alert_type="deadman",
                threshold=EVENTS_PER_GROUP,
                summary="quiet {{metadata.value}}",
            )
            for i in range(n_rules)
        ]
    if kind == "sequence_deadman":
        # threshold -> DEADMAN sequences: the resume slot is an absence
        # check on the captured user — the shape the frame tier's
        # deadman face fuses (round 9); pre-round-9 this was the
        # dominant unfusable shape (per-document driver fallback)
        return [
            {
                "alert_name": f"dmseq_{i}",
                "alert_type": "sequence",
                "lifespan": "7 days",
                "summary": "quiet {{slots.0.events.0.details.user_name}}",
                "slots": [
                    dict(slot(i), alert_name=f"dmseq_{i}_s0"),
                    {
                        "alert_name": f"dmseq_{i}_s1",
                        "alert_type": "deadman",
                        "criteria": (
                            "source='onelogin' AND "
                            f"json_extract_scalar(details,'$.bucket')='{i}'"
                            " AND json_extract_scalar(details,"
                            "'$.user_name')="
                            "'{{slots.0.events.0.details.user_name}}'"
                        ),
                        "summary": "user went quiet",
                        "aggregation_key": "details.user_name",
                        "threshold": 0,
                        "event_sample_count": 0,
                    },
                ],
            }
            for i in range(N_RULES)
        ]
    if kind == "sequence_multivar":
        # resume slot with TWO templated conjuncts: round 10 compiles
        # this into the frame tier (composite-value probe), so the
        # axis now measures the fused MULTI-VARIABLE face — pre-round-
        # 10 this exact shape was the per-document fallback's
        # dominant population
        return [
            {
                "alert_name": f"mvseq_{i}",
                "alert_type": "sequence",
                "lifespan": "7 days",
                "summary": "seq for {{slots.0.events.0.details.user_name}}",
                "slots": [
                    dict(slot(i), alert_name=f"mvseq_{i}_s0"),
                    dict(
                        slot(i),
                        alert_name=f"mvseq_{i}_s1",
                        criteria=(
                            "source='onelogin' AND json_extract_scalar("
                            "details,'$.user_name')="
                            "'{{slots.0.events.0.details.user_name}}'"
                            " AND json_extract_scalar(details,"
                            "'$.risk_score')="
                            "'{{slots.0.events.0.details.risk_score}}'"
                        ),
                    ),
                ],
            }
            for i in range(N_RULES)
        ]
    if kind == "sequence_unfused":
        # resume slot whose templated conjunct is NOT a supported
        # equality shape (template inside a function call):
        # uncompilable by compile_templated_criteria_multi — reversed
        # operands now compile (round 10), so the residual fallback
        # population is genuinely non-equality shapes like this one.
        # Every in-flight group routes through the per-document driver
        # fallback — the axis that makes the fallback's cost visible
        # (it runs Spark jobs PER DOCUMENT: expect ~linear time in
        # groups with a large constant; measure at SMALL group counts
        # only). concat(tmpl,'') renders to an exact equality, so
        # alert counts stay comparable across axes.
        return [
            {
                "alert_name": f"useq_{i}",
                "alert_type": "sequence",
                "lifespan": "7 days",
                "summary": "seq for {{slots.0.events.0.details.user_name}}",
                "slots": [
                    dict(slot(i), alert_name=f"useq_{i}_s0"),
                    dict(
                        slot(i),
                        alert_name=f"useq_{i}_s1",
                        criteria=(
                            "source='onelogin' AND "
                            "concat('{{slots.0.events.0.details"
                            ".user_name}}','')"
                            "=json_extract_scalar("
                            "details,'$.user_name')"
                        ),
                    ),
                ],
            }
            for i in range(N_RULES)
        ]
    return [
        {
            "alert_name": f"seq_{i}",
            "alert_type": "sequence",
            "lifespan": "7 days",
            "summary": "seq for {{slots.0.events.0.details.user_name}}",
            "slots": [
                dict(slot(i), alert_name=f"seq_{i}_s0"),
                dict(
                    slot(i),
                    alert_name=f"seq_{i}_s1",
                    criteria=(
                        f"source='onelogin' AND json_extract_scalar(details,'$.bucket')='{i}'"
                        " AND json_extract_scalar(details,'$.user_name')"
                        "='{{slots.0.events.0.details.user_name}}'"
                    ),
                ),
            ],
        }
        for i in range(N_RULES)
    ]


def _events(
    spark,
    groups: int,
    id_offset: int,
    epg: int = EVENTS_PER_GROUP,
    payload_bytes: int = 0,
    buckets: int = N_RULES,
):
    """groups x epg onelogin events, one distinct user per group,
    generated DISTRIBUTED (spark.range — no driver list).
    ``payload_bytes`` pads each event's details with a filler field —
    the payload axis measures where captured event BYTES live."""
    from pyspark.sql import functions as F

    n = groups * epg
    fields = [
        F.concat(F.lit("u"), (F.col("id") % groups).cast("string")).alias(
            "user_name"
        ),
        F.lit("95").alias("risk_score"),
        ((F.col("id") % groups) % buckets).cast("string").alias("bucket"),
    ]
    if payload_bytes > 0:
        fields.append(F.lit("x" * payload_bytes).alias("blob"))
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("event_id"),
        F.expr(
            "timestamp'2026-01-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, 0, 0, id)"
        ).alias("ts"),
        F.lit("onelogin").alias("source"),
        F.to_json(F.struct(*fields)).alias("details"),
    )


def _rss_mb() -> float:
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def _state_bytes(eng) -> tuple[int, int]:
    """(driver-resident in-flight doc bytes, executor-spilled captured
    event bytes): the instrument that shows WHERE captured payloads
    live. The doc column is exactly what DocStore.docs() collects to
    the driver each pass; events_json never transits the driver."""
    from pyspark.sql import functions as F

    doc_b = (
        eng.inflight.frame()
        .select(F.coalesce(F.sum(F.length("doc")), F.lit(0)))
        .collect()[0][0]
    )
    spill_b = (
        eng.slot_events.frame()
        .select(F.coalesce(F.sum(F.length("events_json")), F.lit(0)))
        .collect()[0][0]
    )
    return int(doc_b), int(spill_b)


FAMILIES = (
    "engine_threshold_emission",
    "engine_threshold_rules",
    "engine_deadman_rules",
    "engine_sequence_pass",
    "engine_sequence_payload_axis",
    # round-9/10 axes (opt-in via --axes): the fused deadman resume
    # face, the fused multi-variable (composite probe) face, the
    # per-document fallback's honest cost curve, and the F8
    # history-bound probe (pass cost vs ALERT HISTORY size)
    "engine_sequence_pass_deadman",
    "engine_sequence_pass_multivar",
    "engine_sequence_pass_unfused",
    "engine_dedup_history",
    # owned by tools/streaming_scale_bench.py — listed here so this
    # tool's engine_* prune never deletes the sibling's rows
    "engine_streaming_correlator",
    "engine_streaming_correlator_composite",
)


def _rule_axis(spark, kind: str, cpus: int) -> dict:
    """One ``kind`` pass over each of RULE_COUNTS disjoint rules at
    RULE_AXIS_GROUPS fired groups: wall time and the pass's Spark jobs."""
    from alerta_spark.engine import Engine

    sc = spark.sparkContext
    rows = {}
    for n in RULE_COUNTS:
        ev = _events(spark, RULE_AXIS_GROUPS, 0, buckets=n).cache()
        ev.count()
        eng = Engine(spark, tempfile.mkdtemp(prefix=f"ab_rules_{kind}_{n}_"))
        group = f"alert-scale-rules-{kind}-{n}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            eng.run_once(ev, _mk_rules(kind, n))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        dt = round(time.perf_counter() - t0, 3)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        n_alerts = eng.alerts.frame().count()
        rows[str(n)] = {
            "sec": dt,
            "jobs": jobs,
            "alerts": n_alerts,
            "driver_rss_mb": _rss_mb(),
        }
        print(f"rules={n:<4} {kind:<10} {dt:>8.2f}s jobs={jobs} alerts={n_alerts}")
        ev.unpersist()
    lo_n, hi_n = RULE_COUNTS[0], RULE_COUNTS[-1]
    per_rule = (rows[str(hi_n)]["jobs"] - rows[str(lo_n)]["jobs"]) / (hi_n - lo_n)
    return {
        "groups": RULE_AXIS_GROUPS,
        "cpus": cpus,
        "rules": rows,
        "jobs_per_rule": round(per_rule, 2),
        "jobs_fixed": round(rows[str(lo_n)]["jobs"] - per_rule * lo_n, 2),
    }


def main() -> None:
    group_scales = [500, 1500, 5000]
    label = ""  # '@label' suffix: one-off axes coexist with canonical
    skip_payload = False
    axes = {"threshold", "sequence"}
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a.startswith("--groups="):
            group_scales = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a == "--groups" and i + 1 < len(args):
            group_scales = [int(x) for x in args[i + 1].split(",")]
        elif a.startswith("--label="):
            label = "@" + a.split("=", 1)[1]
        elif a == "--skip-payload":
            skip_payload = True
        elif a.startswith("--axes="):
            # e.g. --axes=deadman / --axes=unfused / --axes=threshold,sequence
            axes = set(a.split("=", 1)[1].split(","))

    from alerta_spark.engine import Engine
    from alerta_spark.session import get_spark

    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "") or str(os.cpu_count() or 8)
    spark = get_spark(
        "alerta-alert-scale-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    k_thr = "engine_threshold_emission" + label
    k_rules = {
        kind: f"engine_{kind}_rules{label}" for kind in ("threshold", "deadman")
    }
    k_seq = "engine_sequence_pass" + label
    k_pay = "engine_sequence_payload_axis" + label
    k_dm = "engine_sequence_pass_deadman" + label
    k_mv = "engine_sequence_pass_multivar" + label
    k_unf = "engine_sequence_pass_unfused" + label
    k_hist = "engine_dedup_history" + label
    results: dict[str, dict] = {}
    for ax, key in (
        ("threshold", k_thr),
        ("sequence", k_seq),
        ("deadman", k_dm),
        ("multivar", k_mv),
        ("unfused", k_unf),
        ("history", k_hist),
    ):
        if ax in axes:
            results[key] = {}
    # warm: JVM, parquet writer, python workers
    warm = Engine(spark, tempfile.mkdtemp(prefix="ab_warm_"))
    warm.run_once(_events(spark, 50, 0), _mk_rules("threshold")[:2])

    # --- RULE-COUNT axis: one threshold pass and one deadman pass at a
    # fixed fired-group count over 10 and 40 disjoint rules; the pass's
    # Spark jobs are counted under its own job group (host-independent),
    # wall time alongside
    if "rules" in axes:
        for kind, key in k_rules.items():
            results[key] = _rule_axis(spark, kind, int(cpus))

    for g in group_scales:
        ev1 = _events(spark, g, 0).cache()
        ev1.count()

        # --- THRESHOLD pass (one scan per rule): N_RULES x g fired
        # groups, all emission through the distributed writer
        if "threshold" in axes:
            eng = Engine(spark, tempfile.mkdtemp(prefix=f"ab_thr_{g}_"))
            t0 = time.perf_counter()
            eng.run_once(ev1, _mk_rules("threshold"))
            dt = round(time.perf_counter() - t0, 3)
            n_alerts = eng.alerts.frame().count()
            results[k_thr][str(g)] = {
                "sec": dt,
                "alerts": n_alerts,
                "driver_rss_mb": _rss_mb(),
            }
            print(f"g={g:<6} threshold  {dt:>8.2f}s alerts={n_alerts} rss={_rss_mb()}MB")

        # --- fused threshold->DEADMAN sequences (round 9): pass 1
        # captures g in-flight groups; pass 2 sees NO matching events,
        # so every group's absence slot fires through the frame tier's
        # deadman face and the whole cohort completes + emits. The
        # done-criterion mirrors the fused threshold tier: time
        # exponent ~<1 in groups, flat driver RSS.
        if "deadman" in axes:
            engd = Engine(spark, tempfile.mkdtemp(prefix=f"ab_dm_{g}_"))
            rules_dm = _mk_rules("sequence_deadman")
            t0 = time.perf_counter()
            engd.run_once(ev1, rules_dm)
            t_s = round(time.perf_counter() - t0, 3)
            n_inf = engd.inflight.frame().count()
            t0 = time.perf_counter()
            engd.run_once(ev1.limit(0), rules_dm)
            t_r = round(time.perf_counter() - t0, 3)
            n_al = engd.alerts.frame().count()
            results[k_dm][str(g)] = {
                "sec": round(t_s + t_r, 3),
                "sec_start": t_s,
                "sec_resume": t_r,
                "inflight_after_start": n_inf,
                "alerts": n_al,
                "driver_rss_mb": _rss_mb(),
            }
            print(
                f"g={g:<6} deadman    start={t_s:.2f}s resume={t_r:.2f}s "
                f"alerts={n_al} inflight={n_inf} rss={_rss_mb()}MB"
            )

        # --- fused MULTI-VARIABLE face (round 10): a resume slot
        # pinning TWO captured values advances through the frame tier
        # on a composite-value probe — the done-criterion mirrors the
        # other fused faces: sublinear time in groups, flat RSS.
        if "multivar" in axes:
            engm = Engine(spark, tempfile.mkdtemp(prefix=f"ab_mv_{g}_"))
            rules_m = _mk_rules("sequence_multivar")
            t0 = time.perf_counter()
            engm.run_once(ev1, rules_m)
            t_s = round(time.perf_counter() - t0, 3)
            n_inf = engm.inflight.frame().count()
            ev2m = _events(spark, g, 30_000_000).cache()
            ev2m.count()
            t0 = time.perf_counter()
            engm.run_once(ev2m, rules_m)
            t_r = round(time.perf_counter() - t0, 3)
            n_al = engm.alerts.frame().count()
            results[k_mv][str(g)] = {
                "sec": round(t_s + t_r, 3),
                "sec_start": t_s,
                "sec_resume": t_r,
                "inflight_after_start": n_inf,
                "alerts": n_al,
                "driver_rss_mb": _rss_mb(),
            }
            print(
                f"g={g:<6} multivar   start={t_s:.2f}s resume={t_r:.2f}s "
                f"alerts={n_al} inflight={n_inf} rss={_rss_mb()}MB"
            )
            ev2m.unpersist()

        # --- UNFUSED fallback (rounds 9-10): a resume slot whose
        # templated conjunct is not a supported equality is
        # uncompilable, so every in-flight group takes the
        # per-document driver path — Spark jobs PER DOCUMENT. This
        # axis records that cost honestly; run it at SMALL group
        # counts (--axes=unfused --groups=20,60,200).
        if "unfused" in axes:
            engu = Engine(spark, tempfile.mkdtemp(prefix=f"ab_unf_{g}_"))
            rules_u = _mk_rules("sequence_unfused")
            t0 = time.perf_counter()
            engu.run_once(ev1, rules_u)
            t_s = round(time.perf_counter() - t0, 3)
            n_inf = engu.inflight.frame().count()
            ev2u = _events(spark, g, 20_000_000).cache()
            ev2u.count()
            t0 = time.perf_counter()
            engu.run_once(ev2u, rules_u)
            t_r = round(time.perf_counter() - t0, 3)
            n_al = engu.alerts.frame().count()
            results[k_unf][str(g)] = {
                "sec": round(t_s + t_r, 3),
                "sec_start": t_s,
                "sec_resume": t_r,
                "inflight_after_start": n_inf,
                "alerts": n_al,
                "driver_rss_mb": _rss_mb(),
            }
            print(
                f"g={g:<6} unfused    start={t_s:.2f}s resume={t_r:.2f}s "
                f"alerts={n_al} inflight={n_inf} rss={_rss_mb()}MB"
            )
            ev2u.unpersist()

        # --- F8 HISTORY axis (round 10): pass cost vs ALERT-HISTORY
        # size, with and without the Engine(dedup_history=...) bound.
        # `g` is the number of historical alert documents, written as
        # 32 chunks whose FILE MTIMES are aged over 30 days (the
        # bound prunes on _metadata.file_modification_time at the
        # file-listing level, so aged files skip entirely). The
        # events under test are a small FIXED frame; the variable is
        # history. Done-criterion: sec_bounded flat in `g`,
        # sec_unbounded growing.
        if "history" in axes:
            import os as _os

            from pyspark.sql import functions as F

            now_s = int(time.time())
            ev_h = _events(spark, 200, 40_000_000).cache()
            ev_h.count()
            hist_times = {}
            for tag, window in (("unbounded", None), ("bounded", "1 hours")):
                engh = Engine(
                    spark,
                    tempfile.mkdtemp(prefix=f"ab_hist_{tag}_{g}_"),
                    dedup_history=window,
                )
                n_chunks = 32
                per = max(1, g // n_chunks)
                stamped: set[str] = set()
                for c in range(n_chunks):
                    epoch = now_s - (c + 1) * (30 * 86400 // n_chunks)
                    chunk = spark.range(per).select(
                        F.concat(F.lit(f"h{c}_"), F.col("id").cast("string")).alias("_id"),
                        F.lit("hist").alias("alert_name"),
                        F.lit("2026-01-01T00:00:00+00:00").alias("utctimestamp"),
                        F.lit(epoch).cast("long").alias("utcepoch"),
                        F.lit(None).cast("string").alias("expiration"),
                        F.lit("hist").alias("summary"),
                        F.array(
                            F.concat(
                                F.lit(f"x{c}_"), F.col("id").cast("string")
                            )
                        ).cast("array<string>").alias("alerted_event_ids"),
                        F.lit("{}").alias("doc"),
                    )
                    chunk.coalesce(1).write.mode("append").parquet(
                        engh.alerts.data_dir()
                    )
                    # the dedup_history bound keys on FILE WRITE TIME
                    # (_metadata.file_modification_time): age each
                    # chunk's new files to its historical epoch so
                    # the bound has something to prune
                    for root, _dirs, files in _os.walk(engh.alerts.path):
                        for fn in files:
                            p = _os.path.join(root, fn)
                            if p not in stamped:
                                _os.utime(p, (epoch, epoch))
                                stamped.add(p)
                t0 = time.perf_counter()
                engh.run_once(ev_h, _mk_rules("threshold"))
                hist_times[f"sec_{tag}"] = round(time.perf_counter() - t0, 3)
                # the bare F8 probe, isolated from the pass's fixed
                # overhead (the signal the full-pass timing buries in
                # host noise at local scale): explode + anti-join,
                # warm
                from alerta_spark.operators.dedup import (
                    remove_previously_alerted,
                )

                t0 = time.perf_counter()
                remove_previously_alerted(
                    ev_h, engh.alerts.alerted_ids(), id_col="event_id"
                ).count()
                hist_times[f"probe_sec_{tag}"] = round(
                    time.perf_counter() - t0, 3
                )
            results[k_hist][str(g)] = {
                # "sec" mirrors the unbounded pass so the generic
                # exponent fit names the UNBOUNDED growth; the bounded
                # exponent is added separately below. alerts=0 skips
                # the rows fit (alert count is not this axis's output)
                "sec": hist_times["sec_unbounded"],
                **hist_times,
                "history_docs": g,
                "alerts": 0,
                "driver_rss_mb": _rss_mb(),
            }
            print(
                f"g={g:<6} history    unbounded={hist_times['sec_unbounded']:.2f}s "
                f"bounded={hist_times['sec_bounded']:.2f}s rss={_rss_mb()}MB"
            )
            ev_h.unpersist()

        if "sequence" not in axes:
            ev1.unpersist()
            continue
        # --- SEQUENCE starts + resume: in-flight slot state is
        # the documented driver-side tier — measure its growth honestly
        eng2 = Engine(spark, tempfile.mkdtemp(prefix=f"ab_seq_{g}_"))
        t0 = time.perf_counter()
        eng2.run_once(ev1, _mk_rules("sequence"))
        t_start = round(time.perf_counter() - t0, 3)
        n_inflight = eng2.inflight.frame().count()
        doc_b, spill_b = _state_bytes(eng2)
        ev2 = _events(spark, g, 10_000_000).cache()
        ev2.count()
        t0 = time.perf_counter()
        eng2.run_once(ev2, _mk_rules("sequence"))
        t_resume = round(time.perf_counter() - t0, 3)
        n_alerts2 = eng2.alerts.frame().count()
        results[k_seq][str(g)] = {
            "sec": round(t_start + t_resume, 3),
            "sec_start": t_start,
            "sec_resume": t_resume,
            "inflight_after_start": n_inflight,
            "alerts": n_alerts2,
            "driver_rss_mb": _rss_mb(),
            "inflight_doc_bytes": doc_b,
            "spilled_event_bytes": spill_b,
        }
        print(
            f"g={g:<6} sequence   start={t_start:.2f}s resume={t_resume:.2f}s "
            f"alerts={n_alerts2} inflight={n_inflight} rss={_rss_mb()}MB"
        )
        ev1.unpersist()
        ev2.unpersist()

    # --- PAYLOAD axis: fixed group count, growing EVENTS PER GROUP
    # with ~0.5 KB of details per event. This is the axis the slim
    # state tier exists for: captured event BYTES must land in the
    # executor-side spill table (spilled_event_bytes), while the
    # driver-resident documents stay id-sized (inflight_doc_bytes) —
    # pre-slimming, every spilled byte lived in the driver docs.
    if "sequence" in axes and not skip_payload:
        results[k_pay] = {}
    gp = 1000
    for epg in (3, 30, 100) if "sequence" in axes and not skip_payload else ():
        ev = _events(spark, gp, 0, epg=epg, payload_bytes=400).cache()
        ev.count()
        eng3 = Engine(spark, tempfile.mkdtemp(prefix=f"ab_pay_{epg}_"))
        t0 = time.perf_counter()
        eng3.run_once(ev, _mk_rules("sequence"))
        dt = round(time.perf_counter() - t0, 3)
        doc_b, spill_b = _state_bytes(eng3)
        n_inf = eng3.inflight.frame().count()
        results[k_pay][str(epg)] = {
            "sec": dt,
            "inflight": n_inf,
            "inflight_doc_bytes": doc_b,
            "spilled_event_bytes": spill_b,
            "doc_bytes_per_inflight": round(doc_b / max(n_inf, 1)),
            "driver_rss_mb": _rss_mb(),
        }
        print(
            f"epg={epg:<4} payload    {dt:>8.2f}s inflight={n_inf} "
            f"doc_b/doc={round(doc_b / max(n_inf, 1))} "
            f"spill_mb={round(spill_b / 1e6, 1)} rss={_rss_mb()}MB"
        )
        ev.unpersist()
    pay = results.get(k_pay, {})
    if "3" in pay and "100" in pay and pay["3"]["inflight_doc_bytes"] > 0:
        for metric in ("inflight_doc_bytes", "spilled_event_bytes"):
            pay[f"{metric}_exponent"] = round(
                math.log(max(pay["100"][metric], 1) / pay["3"][metric])
                / math.log(100 / 3),
                2,
            )

    lo, hi = str(group_scales[0]), str(group_scales[-1])
    hist = results.get(k_hist, {})
    if lo != hi and lo in hist and hi in hist:
        for metric in ("sec_bounded", "probe_sec_unbounded", "probe_sec_bounded"):
            if hist[lo].get(metric, 0) > 0:
                hist[f"{metric}_exponent"] = round(
                    math.log(hist[hi][metric] / hist[lo][metric])
                    / math.log(int(hi) / int(lo)),
                    2,
                )
    for name, r in results.items():
        if lo != hi and lo in r and hi in r and r[lo]["sec"] > 0:
            ratio = r[hi]["sec"] / r[lo]["sec"]
            r["time_exponent"] = round(
                math.log(ratio) / math.log(int(hi) / int(lo)), 2
            )
            if r[lo]["alerts"] > 0:
                r["rows_exponent"] = round(
                    math.log(max(r[hi]["alerts"], 1) / r[lo]["alerts"])
                    / math.log(int(hi) / int(lo)),
                    2,
                )

    import datetime as _dt

    stamp = _dt.datetime.now(_dt.timezone.utc).isoformat(timespec="seconds")
    for r in results.values():
        r["measured_at"] = stamp
    out_path = REPO / "SCALE_BENCH.json"
    record = {"base": "synthetic alert-cardinality corpus", "results": {}}
    if out_path.exists():
        record = json.loads(out_path.read_text())
        record.setdefault("results", {})
    # prune engine_* keys whose base family (ignoring any '@label'
    # one-off suffix) this tool no longer measures — a renamed/removed
    # family must not misrepresent the current tree; labeled one-off
    # axes and the canonical ones coexist
    record["results"] = {
        k: v
        for k, v in record["results"].items()
        if not k.startswith("engine_") or k.split("@", 1)[0] in FAMILIES
    }
    record["results"].update(results)
    out_path.write_text(json.dumps(record, indent=1))
    print(f"wrote {out_path}")
    for name, r in results.items():
        print(
            f"{name:<28} time_exp={r.get('time_exponent')} "
            f"rows_exp={r.get('rows_exponent')}"
        )


if __name__ == "__main__":
    main()
