"""The workloads. Each one drives the program through its public entry
points in a closed loop (the next tick or sweep starts only after the
previous one has committed) and keeps what it needs to check the
outputs after the timed region. ``round`` runs one round of units and
returns the number of operations it attempted and how many of them
failed.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil
import sys

import pyarrow.parquet as pq
import yaml

from perfbench import gen
from perfbench.models import Rule, check_lake, check_threshold, threshold_model


def _user(e):
    return e[3]["user_name"]


def _host(e):
    return e[3]["host"]


def _write_rules(rules: list[Rule], rules_dir: str) -> str:
    os.makedirs(rules_dir, exist_ok=True)
    for i, r in enumerate(rules):
        with open(os.path.join(rules_dir, f"{i:02d}_{r.name}_alert.yml"), "w") as f:
            yaml.safe_dump(r.spec, f, sort_keys=False)
    return os.path.join(rules_dir, "*_alert.yml")


def _parquet_files(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _docs(files) -> list[dict]:
    out = []
    for f in sorted(files):
        out.extend(json.loads(d) for d in pq.read_table(f, columns=["doc"]).column("doc").to_pylist())
    return out


class _ErrorCount(logging.Handler):
    """Counts the errors a logger reports: ``Engine.run_once`` logs a
    rule whose scan failed and goes on with the next rule."""

    def __init__(self, logger: str):
        super().__init__(logging.ERROR)
        self.n = 0
        logging.getLogger(logger).addHandler(self)

    def emit(self, record) -> None:
        self.n += 1


class ThresholdRuleset:
    """A rule directory of two overlapping threshold rules (the
    intra-pass alert-history replay removes events the first one
    alerted on) and a deadman rule that fires once heartbeats stop.

    Set-up runs the first cron pass (batches 0 and 1) on an empty store.
    Every unit after it is the second pass (batches 1 and 2, the
    reference's previous and current hour) on a fresh copy of that
    store, so each one probes the same alert history and does the same
    work. Each pass is one ``Engine.run_once`` with its defaults; one
    operation is one rule evaluated in a pass."""

    warm_rounds = 1

    def __init__(self, bench, work: str, seed: int):
        from alerta_spark.rules import load_rules

        self.bench, self.work = bench, work
        self.batches, hosts = gen.engine_batches(seed, 3)
        self.lake = os.path.join(work, "lake")
        for k, events in enumerate(self.batches):
            gen.write_events(events, os.path.join(self.lake, f"b{k}", "events.parquet"))
        self.rules = _threshold_rules(hosts[0])
        self.loaded = load_rules(_write_rules(self.rules, os.path.join(work, "rules")))
        self.errors = _ErrorCount("alerta_spark.engine")
        self.base = os.path.join(work, "stores", "base")
        self.first = self._pass("first", self.base, 1)[1]
        self.passes: list[tuple[str, set[str]]] = []

    def _tick(self, store: str, t: int) -> None:
        from alerta_spark.engine import Engine
        from alerta_spark.sources.lake import load_table

        spark = self.bench.spark
        events = load_table(spark, os.path.join(self.lake, f"b{t - 1}"), "events").unionByName(
            load_table(spark, os.path.join(self.lake, f"b{t}"), "events")
        )
        Engine(spark, store).run_once(events, self.loaded)

    def _pass(self, label: str, store: str, t: int) -> tuple[int, set[str]]:
        """Run pass ``t`` on ``store`` as one unit; returns (rules that
        failed, alert files it added)."""
        alerts_dir = os.path.join(store, "alerts")
        before = _parquet_files(alerts_dir)
        errors = self.errors.n
        try:
            self.bench.run_unit(label, self._tick, store, t)
        except Exception as exc:  # the whole pass failed: every rule did
            print(f"pass {label} failed: {exc!r}", file=sys.stderr)
            return len(self.rules), set()
        return self.errors.n - errors, _parquet_files(alerts_dir) - before

    def round(self, tag: str) -> tuple[int, int]:
        store = os.path.join(self.work, "stores", tag)
        shutil.copytree(self.base, store)
        self.store = store
        failed, files = self._pass("pass", store, 2)
        if not failed:
            self.passes.append((tag, files))
        return len(self.rules), failed

    def check(self) -> list[str]:
        ticks = [self.batches[t - 1] + self.batches[t] for t in (1, 2)]
        model = threshold_model(ticks, self.rules)
        thresholds = {r.name: (r.kind, r.threshold) for r in self.rules}
        first = _docs(self.first)
        problems = []
        for tag, files in self.passes:
            problems += [
                f"{tag}: {p}" for p in check_threshold(model, [first, _docs(files)], thresholds)
            ]
        return problems


def _threshold_rules(h0: str) -> list[Rule]:
    def rule(name, kind, criteria, pred, key_path, key, threshold):
        spec = {
            "alert_name": name,
            "alert_type": kind,
            "criteria": criteria,
            "aggregation_key": key_path,
            "threshold": threshold,
            "severity": "WARNING",
            "summary": "{{metadata.count}} " + name + " for {{metadata.value}}",
            "event_snippet": "{{source}} at {{ts}}",
            "event_sample_count": 2,
        }
        return Rule(name, kind, threshold, pred, key, key_path, spec)

    return [
        rule("login_burst", "threshold", "source='login'",
             lambda e: e[2] == "login", "details.user_name", _user, 6),
        rule("login_burst_h0", "threshold",
             f"source='login' AND json_extract_scalar(details,'$.host')='{h0}'",
             lambda e: e[2] == "login" and _host(e) == h0, "details.user_name", _user, 3),
        rule("heartbeat_silence", "deadman", "source='heartbeat'",
             lambda e: e[2] == "heartbeat", "details.host", _host, 0),
    ]


LAKE_QUERIES = (
    "s1_criteria_scan a2_threshold_trigger a5_topk_per_group f8_dedup_antijoin "
    "t2_hop_window_counts t3_sequence_correlator sessionize_events "
    "events_markov_transitions"
).split()


class LakeQueries:
    """The alert-tier event queries of ``plans.catalog`` over a seeded
    ``events`` table of the sf0.1 test lake's size and make-up, each
    written to the noop sink; one unit is one sweep of all of them, one
    operation one query."""

    # a sweep's time and CPU keep falling over its first five or so
    # (JIT compilation), so four are untimed
    warm_rounds = 4

    def __init__(self, bench, work, seed):
        from alerta_spark.plans import catalog

        self.bench = bench
        self.lake = os.path.join(work, "lake_sf")
        os.makedirs(self.lake)
        pq.write_table(gen.lake_events(seed), os.path.join(self.lake, "events.parquet"))
        self.fns = {n: catalog.QUERIES[n]["fn"] for n in LAKE_QUERIES}
        self.oracles = {n: catalog.QUERIES[n]["oracle"] for n in LAKE_QUERIES}
        self.failed: set[str] = set()

    def _query(self, fn) -> None:
        spark = self.bench.spark
        tracer = self.bench.tracer
        if tracer is None or not tracer.enabled:
            fn(spark, self.lake).write.format("noop").mode("overwrite").save()
            return
        from perfbench.trace import catalyst_phases

        with tracer.span("plans.build"):
            df = fn(spark, self.lake)
        # planned apart, as a probe: the write below plans the query
        # again, as it does untraced
        tracer.add_phases(tracer.probe(lambda: catalyst_phases(df)))
        with tracer.span("plans.execute"):
            df.write.format("noop").mode("overwrite").save()

    def _sweep(self) -> int:
        failed = 0
        for name, fn in self.fns.items():
            try:
                self._query(fn)
            except Exception as exc:
                print(f"query {name} failed: {exc!r}", file=sys.stderr)
                self.failed.add(name)
                failed += 1
        return failed

    def round(self, tag: str) -> tuple[int, int]:
        return len(self.fns), self.bench.run_unit("sweep", self._sweep)[1]

    def check(self) -> list[str]:
        import duckdb

        from check_oracle import table_hash

        spark = self.bench.spark
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{os.path.join(self.lake, 'events.parquet')}'"
        )
        got, want = {}, {}
        for name, fn in self.fns.items():
            if name in self.failed:
                continue
            df = fn(spark, self.lake)
            cols = df.columns
            rows = [[r[c] for c in cols] for r in df.collect()]
            got[name] = (sorted(cols), table_hash(rows, cols), len(rows))
            res = con.execute(self.oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            want[name] = (sorted(dcols), table_hash(drows, dcols), len(drows))
        con.close()
        return check_lake(got, want)


WORKLOADS = {
    "threshold_ruleset": ThresholdRuleset,
    "lake_queries": LakeQueries,
}
