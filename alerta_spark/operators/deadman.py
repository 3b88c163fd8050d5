"""Deadman (absence) alert trigger.

Rebuild of ``determine_deadman_trigger`` (alerta.py:358-410): fire when
a group's event count is <= threshold, INCLUDING when the scan returns
nothing at all — the empty-input case synthesizes a zero-count group
``(aggregation_key, 0)`` (alerta.py:384-386) so the alert still fires.

Spark shape: the same grouped aggregate as threshold, HAVING count <=
T, unioned with a literal default row that survives only when the
aggregate is empty (left_anti against the aggregate's first row — a
tiny driver-free existence check; the aggregate output is bounded by
group cardinality, not scan size).

Note the reference's synthesized meta-event (alerta.py:372-382) never
reaches ``alert["events"]`` because its details lack the aggregation
key, so the faithful output is an empty events array.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alerta_spark.operators.threshold import (
    apply_criteria,
    assemble_alerts,
    grouped_events,
)
from alerta_spark.rules import deadman_shell


def deadman_alerts(
    df: DataFrame,
    params: dict[str, Any],
    id_col: str = "event_id",
    ts_col: str = "ts",
    max_events: int = 1000,
) -> DataFrame:
    """One alert row per group with count <= threshold; if no group
    exists at all, a synthesized (aggregation_key, 0) row fires.

    No dedup on the deadman path (reference parity, alerta.py:413-425).
    """
    p = deadman_shell(params)
    ev = apply_criteria(df, p["criteria"])
    grouped = grouped_events(ev, p["aggregation_key"], id_col, ts_col, max_events)

    events_type = grouped.schema["events"].dataType
    spark = df.sparkSession
    synthesized = spark.range(1).select(
        F.lit(str(p["aggregation_key"])).alias("value"),
        F.lit(0).cast("long").alias("count"),
        F.array().cast(events_type).alias("events"),
    )
    # keep the synthesized row only when the aggregate produced nothing
    marker = grouped.select(F.lit(1).alias("_one")).limit(1)
    synthesized = synthesized.join(marker, F.lit(True), "left_anti")

    fired = grouped.where(F.col("count") <= int(p["threshold"])).unionByName(
        synthesized
    )
    return assemble_alerts(fired, p, ev.schema)
