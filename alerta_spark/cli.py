"""Config-file entry point — the reference's ``alerta.py -c alerta.yml``
(alerta.py:517-535) for the Spark engine.

The reference config names a Mongo host (state), an Athena
database/table (the lake), and an alert-file mask; here those become a
parquet doc-store directory, a lake directory + events table, and the
same alert-file mask. ``python -m alerta_spark -c config.yml`` runs one
cron body (the reference's 15-minute tick); ``--stream`` runs the same
pass continuously under a Structured Streaming trigger.

Config keys (YAML, flat):

    lake_dir:          directory of parquet tables        (required)
    events_table:      table name                         (default "events")
    store_dir:         alert/in-flight doc-store root     (required)
    alerts_file_mask:  glob of rule YAMLs                 (default "alerts/*.yml")
    master:            Spark master                       (default local[*])
    shuffle_partitions:int                                (default cpu count)
    stream_checkpoint: checkpoint dir (streaming mode)
    trigger:           {"processingTime": "15 minutes"} etc. (streaming mode)
"""

from __future__ import annotations

import argparse
from typing import Any

import yaml


def load_config(path: str) -> dict[str, Any]:
    with open(path) as fd:
        doc = yaml.safe_load(fd) or {}
    for key in ("lake_dir", "store_dir"):
        if key not in doc:
            raise ValueError(f"config missing required key: {key}")
    return doc


def run_from_config(config: dict[str, Any], stream: bool = False):
    """Build session + engine from a config dict and run one cron body
    (or start the streaming query; returns it for the caller to await).
    """
    from alerta_spark.engine import Engine
    from alerta_spark.rules import load_rules
    from alerta_spark.session import get_spark
    from alerta_spark.sources.lake import load_table

    spark = get_spark(
        "alerta-cli",
        master=config.get("master"),
        shuffle_partitions=config.get("shuffle_partitions"),
    )
    rules = load_rules(str(config.get("alerts_file_mask", "alerts/*.yml")))
    engine = Engine(spark, str(config["store_dir"]))
    table = str(config.get("events_table", "events"))
    if not stream:
        events = load_table(spark, str(config["lake_dir"]), table)
        engine.run_once(events, rules)
        return None
    if "stream_checkpoint" not in config:
        # validated HERE (not load_config) because the key is only
        # required in stream mode — but it must fail with the config
        # contract's message, not a raw KeyError after the JVM is up
        raise ValueError(
            "config missing required key: stream_checkpoint (--stream)"
        )
    from alerta_spark.sources.lake import load_table_stream

    # the streaming source needs the RAW parquet schema + the same
    # post-conversions load_table applies — see load_table_stream
    src = load_table_stream(spark, str(config["lake_dir"]), table)
    return engine.run_stream(
        src,
        rules,
        str(config["stream_checkpoint"]),
        trigger=config.get("trigger"),
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="alerta_spark")
    parser.add_argument("-c", "--config", required=True, help="YAML config file")
    parser.add_argument(
        "--stream", action="store_true", help="run continuously (Structured Streaming)"
    )
    args = parser.parse_args(argv)
    q = run_from_config(load_config(args.config), stream=args.stream)
    if q is not None:
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
