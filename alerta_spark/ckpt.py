"""Checkpoint routing for the alerting tier.

Engine passes truncate lineage on small fired/state frames before
store writes (scan errors must surface inside the per-rule swallow,
store errors outside it — see engine.run_once). :func:`materialize`
is the form every store write uses: ONE eager checkpoint job that
also counts the rows (an ``Observation`` on the checkpointed plan),
so the write's emptiness decision costs no further job.

``localCheckpoint`` is the right default: executor-local blocks, no
configuration, same cost class as a persist. Its documented hazard is
cluster-only — blocks are UNREPLICATED, so losing an executor between
the checkpoint and the store write fails the pass (recoverable: the
next cron tick replays, and F8 dedup makes the replay idempotent).

Deployments that cannot tolerate a failed pass opt into RELIABLE
checkpointing with two standard Spark knobs::

    spark.sparkContext.setCheckpointDir("hdfs://.../alerta-ckpt")
    spark.conf.set("spark.alerta.reliableCheckpoint", "true")

Every alerting-tier truncation then routes through ``DataFrame
.checkpoint`` (persisted to the fault-tolerant checkpoint dir, so the
frame survives executor loss). The conf is read per call — it is
runtime-settable and scoped to the session, so tests and mixed
workloads can flip it without touching process-global state. An
explicit conf (not dir-presence sniffing) because a checkpoint dir
configured for some other consumer must not silently change the
engine's durability/latency trade.

Analytics ops (``ops/dedupe.dup_clusters`` etc.) deliberately stay on
``localCheckpoint``: they are bounded-round batch jobs whose docstrings
document recompute-on-loss as acceptable; durability there buys
nothing a retry doesn't.

Checkpoint-file lifecycle: Spark does NOT delete reliable checkpoint
data unless ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
(a context-start conf — set it when BUILDING the session; it cannot be
flipped at runtime) lets the ContextCleaner reap checkpoint files as
their RDDs are GC'd. A cron-driven engine in reliable mode checkpoints
small frames every pass, so without the cleaner conf (or an external
sweep of aged ``rdd-*`` subdirs) the checkpoint dir grows without
bound — quota exhaustion would then fail passes, the exact outage
reliable mode exists to prevent. ``validate`` warns once per session
when the cleaner conf is off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

RELIABLE_CONF = "spark.alerta.reliableCheckpoint"
CLEANER_CONF = "spark.cleaner.referenceTracking.cleanCheckpoints"

# validate() runs at every engine pass entry; without memoization the
# cleaner warning would repeat per cron tick. Keyed by applicationId
# (same pattern as _ship._SHIPPED_SESSIONS) so a fresh session warns
# again.
_CLEANER_WARNED: set[str] = set()


class ReliableCheckpointMisconfigured(ValueError):
    """reliableCheckpoint=true without a checkpoint directory.

    A CONFIG error, not a data error: the engine's per-rule scan
    swallows re-raise this type so a misconfigured deployment fails
    its pass loudly instead of silently persisting zero alerts per
    tick (threshold) or misreading the error as absence-of-evidence
    (deadman)."""


def _reliable(spark: SparkSession) -> bool:
    return str(spark.conf.get(RELIABLE_CONF, "false")).lower() == "true"


def validate(spark: SparkSession) -> None:
    """Fail fast on reliable-mode misconfiguration. The engine calls
    this at pass entry — BEFORE any per-rule error swallow — so a
    missing checkpoint dir aborts the pass instead of being logged
    away as N per-rule scan failures."""
    if not _reliable(spark):
        return
    if spark.sparkContext.getCheckpointDir() is None:
        raise ReliableCheckpointMisconfigured(
            f"{RELIABLE_CONF}=true requires a checkpoint directory: "
            "call spark.sparkContext.setCheckpointDir(<fault-tolerant "
            "path>) before running the engine"
        )
    if str(spark.conf.get(CLEANER_CONF, "false")).lower() != "true":
        app_id = spark.sparkContext.applicationId
        if app_id in _CLEANER_WARNED:
            return
        _CLEANER_WARNED.add(app_id)
        import logging

        logging.getLogger(__name__).warning(
            "%s=true but %s is not enabled: Spark will never delete "
            "checkpoint files, so the checkpoint dir grows every pass. "
            "Set it when building the session, or sweep aged rdd-* "
            "subdirectories externally.",
            RELIABLE_CONF,
            CLEANER_CONF,
        )


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint()`` when the
    session opts in via ``spark.alerta.reliableCheckpoint=true``,
    ``localCheckpoint()`` otherwise (the local-mode/default path)."""
    spark = df.sparkSession
    if _reliable(spark):
        if spark.sparkContext.getCheckpointDir() is None:
            raise ReliableCheckpointMisconfigured(
                f"{RELIABLE_CONF}=true requires a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir(<fault-tolerant "
                "path>) before running the engine"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly :func:`checkpoint` ``df`` and return it with its row
    count. The count is an observed metric of the checkpoint job
    itself, so it adds no job — callers skip a write on 0 instead of
    running ``isEmpty()`` as a second job. Errors in ``df``'s plan
    raise here, from the checkpoint."""
    obs = Observation()
    out = checkpoint(df.observe(obs, F.count(F.lit(1)).alias("n")), eager=True)
    return out, obs.get["n"]
