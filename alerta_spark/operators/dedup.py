"""Alert-history / in-flight dedup as hash anti-joins.

The reference suppresses re-alerting by probing Mongo once per
candidate event (``remove_previously_alerted`` alerta.py:38-57,
``remove_inflight_events`` alerta.py:60-73) — O(N) network round
trips. The Spark-native design is a single ``left_anti`` equi-join
against the already-alerted event ids; AQE broadcasts them at runtime
while they are small, without a hard-coded hint (the history is
unbounded by construction — see remove_previously_alerted).

A left-anti join needs no distinct build side, so the engine's store
probe (``state.DocStore.alerted_ids``) is not deduplicated: an id
captured by several documents repeats, and the planner broadcasts the
small store scan with no aggregate or shuffle under the join.
``alerted_event_ids`` below (the catalog's ``f8_dedup_antijoin``)
still returns distinct ids.

Alerted ids live in two places in an alert document: ``events[]`` and
``slots[].events[]`` (sequence alerts) — both are covered, mirroring
the reference's ``$or``/``$elemMatch`` Mongo query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def alerted_event_ids(alerts: DataFrame, id_field: str = "event_id") -> DataFrame:
    """Distinct event ids captured in prior alerts.

    -> DataFrame[alerted_event_id: string]
    """
    parts = []
    cols = set(alerts.columns)
    if "events" in cols:
        parts.append(
            alerts.select(F.explode(F.col(f"events.{id_field}")).alias("_id")).select(
                F.col("_id").cast("string").alias("alerted_event_id")
            )
        )
    if "slots" in cols:
        # coalesce each slot's id array BEFORE flatten: Spark's
        # flatten returns NULL for the WHOLE row if any nested array
        # is NULL, so one unfilled slot (events=NULL) would erase
        # every captured id on the document and already-captured
        # events would re-fire
        parts.append(
            alerts.select(
                F.explode(
                    F.flatten(
                        F.transform(
                            "slots",
                            lambda s: F.coalesce(
                                s["events"][id_field].cast("array<string>"),
                                F.array().cast("array<string>"),
                            ),
                        )
                    )
                ).alias("_id")
            ).select(F.col("_id").cast("string").alias("alerted_event_id"))
        )
    if not parts:
        raise ValueError("alerts frame has neither 'events' nor 'slots'")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.where(F.col("alerted_event_id").isNotNull()).distinct()


def remove_previously_alerted(
    events: DataFrame, alerted_ids: DataFrame, id_col: str = "event_id"
) -> DataFrame:
    """Drop events already captured by an alert (hash anti-join).

    NO broadcast hint on the history side: the reference probes ALL
    prior alerts (alerta.py:38-57), so this frame is unbounded by
    construction — alert history grows without bound over months, and
    a forced ``F.broadcast`` would turn "history grew past the
    broadcast limit" into a hard OOM failure. AQE picks broadcast at
    runtime while the id set is actually small (it is, for years of
    alerts) and degrades to a shuffled hash join beyond that —
    plan-guarded in tests/test_dedup.py (no mandatory
    BroadcastExchange hint on the history frame)."""
    ids = alerted_ids.select(F.col("alerted_event_id"))
    return events.join(
        ids, events[id_col].cast("string") == ids["alerted_event_id"], "left_anti"
    )
