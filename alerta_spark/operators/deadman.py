"""Deadman (absence) alert trigger.

Rebuild of ``determine_deadman_trigger`` (alerta.py:358-410): fire when
a group's event count is <= threshold, INCLUDING when the scan returns
nothing at all — the empty-input case synthesizes a zero-count group
``(aggregation_key, 0)`` (alerta.py:384-386) so the alert still fires.

Spark shape: the same grouped aggregate as threshold, HAVING count <=
T. The synthesized row (:func:`absent_alert`) is a literal, and
"no group at all" can be decided two ways:

- lazily, in one frame (``deadman_alerts`` without ``groups``; the
  catalog's ``a3_deadman_trigger`` and the sequence tier's deadman
  slots): the row is unioned in, left-anti-joined against the
  aggregate's first row. Column pruning makes that marker a second
  plan of the aggregate, so the events are scanned and shuffled twice.
- from an observed count (``deadman_alerts(..., groups=obs)``; the
  engine): an ``Observation`` counts the aggregate's groups on the job
  that already materializes the fired documents, and the engine writes
  :func:`absent_alert` when that count is 0 — one scan, no extra job.

Note the reference's synthesized meta-event (alerta.py:372-382) never
reaches ``alert["events"]`` because its details lack the aggregation
key, so the faithful output is an empty events array.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alerta_spark.operators.threshold import (
    apply_criteria,
    assemble_alerts,
    grouped_events,
)
from alerta_spark.rules import deadman_shell


def _absent_group(df: DataFrame, aggregation_key: str) -> DataFrame:
    """The one literal ``(aggregation_key, 0, [])`` group, typed like
    ``grouped_events(df, ...)`` output; it reads nothing."""
    events_type = T.ArrayType(T.StructType(df.schema.fields), containsNull=False)
    return df.sparkSession.range(1).select(
        F.lit(str(aggregation_key)).alias("value"),
        F.lit(0).cast("long").alias("count"),
        F.array().cast(events_type).alias("events"),
    )


def absent_alert(df: DataFrame, params: dict[str, Any]) -> DataFrame:
    """The synthesized zero-count alert a deadman rule fires when its
    scan yields no group at all (or cannot run): exactly one row. The
    criteria is never evaluated, so a rule whose criteria does not
    parse still gets its alert."""
    p = deadman_shell(params)
    return assemble_alerts(_absent_group(df, p["aggregation_key"]), p, df.schema)


def deadman_alerts(
    df: DataFrame,
    params: dict[str, Any],
    id_col: str = "event_id",
    ts_col: str = "ts",
    max_events: int = 1000,
    groups: Observation | None = None,
) -> DataFrame:
    """One alert row per group with count <= threshold.

    Without ``groups``, a synthesized (aggregation_key, 0) row also
    fires when no group exists at all. With ``groups``, that row is left
    out: ``groups`` observes the aggregate's group count as the metric
    ``groups`` (read after the frame's first action), and the caller
    adds :func:`absent_alert` when it is 0.

    No dedup on the deadman path (reference parity, alerta.py:413-425).
    """
    p = deadman_shell(params)
    ev = apply_criteria(df, p["criteria"])
    grouped = grouped_events(ev, p["aggregation_key"], id_col, ts_col, max_events)
    fires = F.col("count") <= int(p["threshold"])
    if groups is not None:
        fired = grouped.observe(
            groups, F.count(F.lit(1)).alias("groups")
        ).where(fires)
    else:
        # keep the synthesized row only when the aggregate produced nothing
        marker = grouped.select(F.lit(1).alias("_one")).limit(1)
        fired = grouped.where(fires).unionByName(
            _absent_group(df, p["aggregation_key"]).join(
                marker, F.lit(True), "left_anti"
            )
        )
    return assemble_alerts(fired, p, ev.schema)
