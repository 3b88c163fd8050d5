"""Engine driver: one micro-batch run over a rule set.

Mirrors the reference's ``main()`` loop (alerta.py:481-515): for each
rule file — threshold rules fire and append alerts; deadman rules fire
on absence; sequence rules resume in-flight state, then start fresh,
then completed sequences emit and expired state is reaped.

The reference runs this under cron every 15 minutes (startup.sh:24-26);
here ``run_once`` is the batch body, and the streaming engine
(streaming/) gives the same semantics under a Structured Streaming
trigger.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alerta_spark.ckpt import ReliableCheckpointMisconfigured, materialize
from alerta_spark.ckpt import validate as ckpt_validate
from alerta_spark.operators.deadman import deadman_alerts
from alerta_spark.operators.sequence import (
    process_sequence_alert,
    process_sequence_slot_batched,
)
from alerta_spark.operators.sequence_frames import (
    finalize_sequences_frames,
    live_refs_frame,
    resume_fused_frames,
    starts_fused_frames,
)
from alerta_spark.operators.threshold import threshold_alerts
from alerta_spark.rules import parse_timedelta
from alerta_spark.state import DocStore, SlotEventStore, alert_docs_frame


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        id_col: str = "event_id",
        ts_col: str = "ts",
        compact_every: int | None = 32,
        dedup_history: str | None = None,
    ):
        self.spark = spark
        self.alerts = DocStore(spark, os.path.join(store_dir, "alerts"))
        self.inflight = DocStore(spark, os.path.join(store_dir, "inflight_alerts"))
        # full captured-event payloads for in-flight sequence slots live
        # HERE (executor-written parquet), not in the driver documents
        self.slot_events = SlotEventStore(
            spark, os.path.join(store_dir, "slot_events")
        )
        self.id_col = id_col
        self.ts_col = ts_col
        # distributed appends add a few part files per pass; the F8
        # probe re-reads the alerts table every pass, so the engine
        # compacts it every `compact_every` passes (None disables —
        # on an ACID table format this would be a scheduled OPTIMIZE).
        # At the reference's 15-minute cron (startup.sh:24-26) the
        # default keeps the table under ~a day's worth of files.
        self.compact_every = compact_every
        self._passes_since_compact = 0
        # F8 dedup-history bound: alerts older than this interval are
        # excluded from the dedup anti-join probe (exact under the
        # reference's ≤2h scan-window model whenever the interval
        # covers scan span + emission lag — full argument in
        # DocStore.alerted_ids). None = probe the whole history, the
        # right default for arbitrary/backfill event frames; a
        # months-long deployment sets e.g. "2 days" so the per-pass
        # probe reads O(window) alert files, not O(history).
        self._dedup_history_s: int | None = (
            int(parse_timedelta(dedup_history).total_seconds())
            if dedup_history
            else None
        )

    def run_once(
        self,
        events_df: DataFrame,
        rules: list[dict[str, Any]],
        eval_time=None,
    ) -> None:
        """One engine pass (the cron body, alerta.py:481-515).

        Threshold and deadman rules run one scan each, in rule order
        (the reference loop's shape): every rule's scan is isolated, so
        a runtime scan failure is swallowed for that rule alone — a
        threshold rule fires nothing, a deadman rule fires (absence of
        evidence is the alarm, alerta.py:417-420). Each such rule logs
        one INFO line with the number of alert documents it emitted.
        Sequence rules run on the frame-native tier
        (operators/sequence_frames.py) on both phases of the pass: the
        in-flight resume (`resume_fused_frames`) and the fresh starts
        (`starts_fused_frames`) each share one conditional-aggregate
        scan across rules, with state kept executor-side end to end
        and the intra-pass dedup interaction replayed as chained
        id-frame anti-joins. The shapes that tier cannot fuse
        (non-equality templates, key mismatch, criteria that fail to
        parse, deadman or templated slot-0 criteria) fall back to the
        faithful batched/per-document paths.

        ``eval_time`` (default: now) is the pass's one evaluation
        instant: suppression windows, the F8 history bound, the
        ``utctimestamp`` of threshold and deadman alerts and of fired
        sequence slots, the start stamp (hence expiration) of new
        sequences and the expiry check all read it, so a replay at a
        past or future instant behaves as a pass run then."""
        # reliable-checkpoint misconfiguration must abort the PASS, not
        # drown in the per-rule scan swallows (where it would persist
        # zero alerts per tick, or read as a deadman's absence-of-
        # evidence) — validate before any rule executes
        ckpt_validate(events_df.sparkSession)
        from alerta_spark.rules import rule_suppressed, utcnow

        # ONE evaluation instant per pass: the dedup-history bound and
        # the suppression checks below must agree on "now"
        now = eval_time or utcnow()
        if now.tzinfo is None:
            now = now.replace(tzinfo=timezone.utc)
        # arm this pass's F8 history bound BEFORE any dedup probe runs
        # (the resume below probes too); inflight is never bounded —
        # active sequence captures must dedup regardless of age
        if self._dedup_history_s is not None:
            self.alerts.dedup_min_epoch = (
                int(now.timestamp()) - self._dedup_history_s
            )
        self._resume_inflight(events_df, now)
        # maintenance windows: a rule whose `suppress` interval covers
        # this evaluation instant is skipped whole — including deadman
        # rules (a maintenance window is precisely when absence is
        # expected). In-flight sequence state still resumes/expires
        # above/below so suppression never corrupts it.
        # Per-rule failure isolation applies here too: ONE rule with a
        # malformed suppress window must not abort the whole pass (the
        # scan path below already swallows per-rule criteria errors).
        # A rule whose window cannot be parsed is treated as
        # NOT suppressed — failing open matches the reference's
        # log-and-continue posture, and a mis-typed window silently
        # muting a production alert is the worse failure mode.
        import logging

        log = logging.getLogger(__name__)
        active, suppressed = [], []
        for r in rules:
            try:
                (suppressed if rule_suppressed(r, now) else active).append(r)
            except (ValueError, TypeError, KeyError) as exc:
                log.warning(
                    "rule %s: malformed suppress window (%s); treating as "
                    "not suppressed",
                    r.get("alert_name"),
                    exc,
                )
                active.append(r)
        if suppressed:
            log.info(
                "suppressed rules this run: %s",
                [r.get("alert_name") for r in suppressed],
            )
        # threshold/deadman alerts and new sequences are stamped with
        # this pass's instant, not the wall clock of the call (a new
        # sequence's expiration is start + lifespan)
        rules = [
            r if "utctimestamp" in r else dict(r, utctimestamp=now.isoformat())
            for r in active
        ]
        seq = [r for r in rules if r.get("alert_type") == "sequence"]
        if seq:
            # one conditional-aggregate scan starts every fusable
            # sequence rule, with fired-group documents assembled and
            # appended EXECUTOR-side — unfusable ones (deadman slots,
            # templated slot-0 criteria, broken criteria) fall through
            # to the faithful per-rule loop below
            leftover = {
                id(r)
                for r in starts_fused_frames(
                    events_df, seq, self.inflight, self.alerts,
                    self.id_col, self.ts_col, spill_store=self.slot_events,
                    now=now,
                )
            }
            rules = [
                r
                for r in rules
                if r.get("alert_type") != "sequence" or id(r) in leftover
            ]

        for rule in rules:
            kind = rule.get("alert_type", "threshold")
            if rule.get("debug"):
                # reference README:68 `debug` flag: verbose logging
                # only, no engine behavior change
                log.debug(
                    "rule %s (%s): evaluating [debug]",
                    rule.get("alert_name"),
                    kind,
                )
            if kind == "sequence":
                process_sequence_alert(
                    events_df, rule, self.inflight, self.alerts,
                    self.id_col, self.ts_col, spill_store=self.slot_events,
                    now=now,
                )
                continue
            if kind == "threshold":
                # reference swallows scan failures here too
                # (alerta.py:470-473): a broken criteria logs and yields
                # no events -> no alert, the run continues. Emission is
                # DISTRIBUTED: fired-group cardinality grows with the
                # corpus, so alert documents are assembled and written
                # executor-side — the driver never materializes an
                # alert row.
                try:
                    fired = threshold_alerts(
                        events_df,
                        rule,
                        alerted_ids=self.alerts.alerted_ids(),
                        id_col=self.id_col,
                        ts_col=self.ts_col,
                    )
                    # ONE job builds the rule's alert documents: it
                    # surfaces lazy SCAN and document-assembly errors
                    # here, inside the swallow, freezes the per-row
                    # uuid ids, and counts the documents — so the store
                    # write below sits OUTSIDE the swallow (a failing
                    # store propagates instead of silently dropping
                    # alerts) and a rule that fired nothing writes
                    # nothing, with no further job.
                    # NOTE the default localCheckpoint stores
                    # UNREPLICATED executor-local blocks: on a
                    # multi-executor cluster, losing an executor
                    # between here and the store write fails the pass
                    # (recoverable — the next cron tick replays; F8
                    # dedup makes the replay idempotent). Deployments
                    # that cannot tolerate a failed pass set
                    # spark.alerta.reliableCheckpoint=true + a
                    # checkpoint dir and every alerting-tier
                    # truncation (this one included) persists to
                    # fault-tolerant storage instead — see ckpt.py.
                    docs, n = materialize(alert_docs_frame(fired, self.id_col))
                except ReliableCheckpointMisconfigured:
                    raise  # config error, not a broken criteria
                except Exception:
                    log.exception(
                        "threshold scan failed for rule %r", rule.get("alert_name")
                    )
                    continue
            elif kind == "deadman":
                # reference failure semantics (alerta.py:417-420): a scan
                # exception is swallowed and leaves events empty, so a
                # broken criteria / unavailable lake FIRES the deadman
                # (absence of evidence is the alarm condition)
                try:
                    fired = deadman_alerts(
                        events_df, rule, id_col=self.id_col, ts_col=self.ts_col
                    )
                    # scan errors surface HERE, in the one job
                    docs, n = materialize(alert_docs_frame(fired, self.id_col))
                except ReliableCheckpointMisconfigured:
                    raise  # config error — must NOT read as absence
                except Exception:
                    empty = events_df.where(F.lit(False))
                    fired = deadman_alerts(
                        empty, dict(rule, criteria=""), id_col=self.id_col,
                        ts_col=self.ts_col,
                    )
                    docs, n = materialize(alert_docs_frame(fired, self.id_col))
            else:
                continue
            log.info("rule %s (%s): %d alerts", rule.get("alert_name"), kind, n)
            # the store write stays OUTSIDE the scan-failure swallows:
            # a transient store error must propagate, not drop a
            # threshold's alerts or read as a deadman's "absence of
            # evidence" (a FALSE alert on the fallback path)
            self.alerts.append_rows(docs, n)

        # completion + expiry share one state read/overwrite; spill
        # pruning is deferred to the compaction cadence below (a prune
        # rewrites the whole spill table — the captured-payload
        # volume — while rows dropped here are merely unreferenced).
        # Frame-native: completion flags, emission, and the kept-rows
        # overwrite all run executor-side — no pass ever collects the
        # in-flight table to the driver.
        finalize_sequences_frames(
            self.inflight, self.alerts, spill_store=self.slot_events,
            now=now, prune=False,
        )
        self._passes_since_compact += 1
        if self.compact_every and self._passes_since_compact >= self.compact_every:
            self.alerts.compact()
            self.slot_events.prune_frame(live_refs_frame(self.inflight))
            self._passes_since_compact = 0

    def run_stream(
        self,
        events_stream: DataFrame,
        rules: list[dict[str, Any]],
        checkpoint_dir: str,
        trigger: dict[str, Any] | None = None,
    ):
        """T1 as a first-class API: the cron body under a Structured
        Streaming trigger. Each micro-batch executes one full rule pass
        (resume in-flight → fire → create → expire) exactly like a cron
        tick — the reference's 15-minute cron (startup.sh:24-26)
        becomes ``trigger={"processingTime": "15 minutes"}``, and the
        default ``availableNow`` replays a backlog with identical
        semantics. The alert/in-flight DocStores carry state across
        batches AND restarts (S7/S8), so recovery = reference restart.

        Returns the StreamingQuery (caller owns awaitTermination)."""
        if not events_stream.isStreaming:
            raise ValueError("run_stream needs a streaming DataFrame; use run_once")
        trigger = trigger or {"availableNow": True}

        def _batch(batch_df: DataFrame, _batch_id: int) -> None:
            self.run_once(batch_df, rules)

        return (
            events_stream.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def _resume_inflight(self, events_df: DataFrame, now: datetime) -> None:
        """Resume in-flight sequences (alerta.py:491, 210-215).

        ALL fusable (rule, slot) groups share one conditional-aggregate
        scan with a broadcast value-probe, and updated documents are
        assembled executor-side (`sequence_frames.resume_fused_frames`)
        — driver memory scales with GROUP count (rules × slots), not
        in-flight cardinality, and a pass with no in-flight store reads
        nothing. Documents whose slot shape isn't fusable fall back to
        the faithful batched/per-document paths (only those are ever
        collected). A fallback group or document whose scan fails (a
        slot criteria that does not parse) is logged and left in
        flight unchanged, like a failing threshold rule — the rest of
        the pass still runs. Slots fired here are stamped with the
        pass's instant ``now``."""
        import logging

        log = logging.getLogger(__name__)
        group_items, singles = resume_fused_frames(
            events_df, self.inflight, self.alerts,
            self.id_col, self.ts_col, spill_store=self.slot_events, now=now,
        )

        # deferred-upsert form: every batched group's updates land in
        # ONE state write (N groups used to cost N table swaps); the
        # intra-pass F9 interaction rides `captured` instead of
        # store re-reads (equivalence pytest-pinned)
        captured: set[str] = set()
        pending: list[dict] = []
        for (_, idx), docs in group_items:
            # a failing group adds nothing to `pending` or `captured`
            # (both are extended only after its scan has run)
            try:
                leftover = process_sequence_slot_batched(
                    events_df, docs, idx, self.inflight, self.alerts,
                    self.id_col, self.ts_col, spill_store=self.slot_events,
                    extra_alerted_ids=captured, collect_updates=pending,
                    now=now,
                )
            except ReliableCheckpointMisconfigured:
                raise
            except Exception:
                log.exception(
                    "sequence resume failed for rule %r slot %d",
                    docs[0].get("alert_name"), idx,
                )
                continue
            singles.extend(docs if leftover is None else leftover)
        self.inflight.upsert_many(pending)

        # deferred-upsert form for the per-document fallback too: the
        # self-upserting call paid a full state-table swap PER DOCUMENT
        # (~8s/doc measured, engine_sequence_pass_unfused); captured
        # ids thread through `captured` so a later document's F9 probe
        # still sees earlier documents' captures from this pass
        pending_singles: list[dict] = []
        extras_memo: list = []  # per-pass: dies with this call frame
        for doc in singles:
            try:
                process_sequence_alert(
                    events_df, doc, self.inflight, self.alerts,
                    self.id_col, self.ts_col, spill_store=self.slot_events,
                    collect_updates=pending_singles,
                    extra_alerted_ids=captured, extras_memo=extras_memo,
                    now=now,
                )
            except ReliableCheckpointMisconfigured:
                raise
            except Exception:
                log.exception(
                    "sequence resume failed for rule %r", doc.get("alert_name")
                )
        self.inflight.upsert_many(pending_singles)
