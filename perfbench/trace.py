"""The traced run: spans around the public functions of each layer,
installed at run time from the benchmark's files, and the per-layer
metrics computed from them.

Each span records its name, start, end, parent and unit, and switches
the Spark job group to ``pb|<unit>|<span id>`` while it is open, so the
jobs Spark runs inside it (and their stages, tasks and bytes) belong to
it. A name imported into another module (``engine.threshold_alerts``)
is wrapped in every module that holds it, because that is where it is
looked up. Spans stay in memory until the run ends.

Timed rounds run untraced, traced, traced, untraced; per-layer numbers
come from the traced units, and ``trace.overhead`` is the traced median
unit time, less the time of the tracer's own probes, over the untraced
one.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("rules.load_s", "s", "lower"),
    ("dialect.translate_ms", "ms", "lower"),
    ("sources.load_calls", "count", "lower"),
    ("sources.load_s", "s", "lower"),
    ("sources.load_jobs", "count", "lower"),
    ("engine.pass_s", "s", "lower"),
    ("engine.self_s", "s", "lower"),
    ("operators.threshold.build_s", "s", "lower"),
    ("operators.deadman.build_s", "s", "lower"),
    ("operators.sequence_frames.s", "s", "lower"),
    ("ckpt.calls", "count", "lower"),
    ("ckpt.s", "s", "lower"),
    ("ckpt.jobs", "count", "lower"),
    ("ckpt.nonempty_ratio", "ratio", "higher"),
    ("state.alerted_ids_calls", "count", "lower"),
    ("state.append_calls", "count", "lower"),
    ("state.append_s", "s", "lower"),
    ("state.append_nonempty_ratio", "ratio", "higher"),
    ("state.read_mb", "MB", "lower"),
    ("state.store_mb_end", "MB", "lower"),
    ("state.files_end", "count", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("plans.analysis_ms", "ms", "lower"),
    ("plans.optimization_ms", "ms", "lower"),
    ("plans.planning_ms", "ms", "lower"),
    ("plans.execute_s", "s", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("trace.overhead", "ratio", "lower"),
]

STATE_APPEND = ("state.append_frame", "state.append_rows")


@dataclass
class Span:
    id: int
    name: str
    unit: str
    parent: int | None
    t0: float
    t1: float = 0.0
    excluded: float = 0.0  # time spent in the tracer's own probes
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0 - self.excluded


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.bench = None
        self.enabled = True
        self.unit = "setup"
        self.probe_s: dict[str, float] = {}  # per unit
        self.catalyst: dict[str, dict[str, float]] = {}  # per unit, ms by phase

    def attach(self, bench) -> None:
        self.bench = bench
        bench.tracer = self

    def _group(self, span: str) -> None:
        if self.bench is not None:
            self.bench.group(self.unit, span)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def open(self, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        sp = Span(len(self.spans), name, self.unit, parent, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self._group(str(sp.id))
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        self.stack.pop()
        self._group(str(self.stack[-1].id) if self.stack else "")

    def probe(self, fn):
        """Run a tracer-only probe (it may start Spark jobs) under the
        'probe' job group, with its time excluded from open spans."""
        self._group("probe")
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            d = time.perf_counter() - t0
            for sp in self.stack:
                sp.excluded += d
            self.probe_s[self.unit] = self.probe_s.get(self.unit, 0.0) + d
            self._group(str(self.stack[-1].id) if self.stack else "")

    def add_phases(self, phases: dict[str, float]) -> None:
        acc = self.catalyst.setdefault(self.unit, {})
        for k, v in phases.items():
            acc[k] = acc.get(k, 0.0) + v

    def wrap(self, name: str, fn, after=None, before=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or self.bench is None:
                return fn(*args, **kwargs)
            pre = before(*args, **kwargs) if before else None
            sp = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(sp)
            if after is not None:
                after(sp, pre, out, *args, **kwargs)
            return out

        return traced


# ------------------------------------------------------------------ install


def _patch_everywhere(original, replacement) -> None:
    """Replace ``original`` in every loaded module of the program that
    holds it under any name."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("alerta_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def _dir_bytes(path: str) -> int:
    try:
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except OSError:
        return 0


def _n_parquet(path: str) -> int:
    try:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    except OSError:
        return 0


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions. Imports every module that
    holds one of them first, so each reference gets patched."""
    import alerta_spark.ckpt as ckpt
    import alerta_spark.dialect as dialect
    import alerta_spark.engine as engine
    import alerta_spark.operators.deadman as deadman
    import alerta_spark.operators.sequence_frames as sequence_frames
    import alerta_spark.operators.threshold as threshold
    import alerta_spark.plans.catalog  # noqa: F401  (holds load_table etc.)
    import alerta_spark.rules as rules
    import alerta_spark.sources.lake as lake
    import alerta_spark.state as state

    def fn(name, obj, attr, **hooks):
        original = getattr(obj, attr)
        _patch_everywhere(original, tracer.wrap(name, original, **hooks))

    def ckpt_after(sp, _pre, out, *a, **k):
        sp.extra["nonempty"] = not tracer.probe(out.isEmpty)

    fn("rules.load", rules, "load_rules")
    fn("dialect.translate", dialect, "trino_to_spark")
    fn("sources.load", lake, "load_table")
    fn("ckpt.checkpoint", ckpt, "checkpoint", after=ckpt_after)
    fn("operators.threshold.build", threshold, "threshold_alerts")
    fn("operators.deadman.build", deadman, "deadman_alerts")
    fn("operators.sequence_frames.finalize", sequence_frames, "finalize_sequences_frames")

    def meth(name, cls, attr, **hooks):
        setattr(cls, attr, tracer.wrap(name, getattr(cls, attr), **hooks))

    def files_before(store, *a, **k):
        return _n_parquet(store.data_dir())

    def files_after(sp, before, _out, store, *a, **k):
        sp.extra["nonempty"] = _n_parquet(store.data_dir()) > before

    def frame_bytes(sp, _pre, _out, store, *a, **k):
        sp.extra["bytes"] = _dir_bytes(store.data_dir())

    meth("engine.run_once", engine.Engine, "run_once")
    meth("state.alerted_ids", state.DocStore, "alerted_ids")
    meth("state.frame", state.DocStore, "frame", after=frame_bytes)
    meth("state.append_frame", state.DocStore, "append_frame",
         before=files_before, after=files_after)
    meth("state.append_rows", state.DocStore, "append_rows",
         before=files_before, after=files_after)


# ------------------------------------------------------------------ metrics


def _children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for sp in spans:
        out.setdefault(sp.parent, []).append(sp)
    return out


def layer_metrics(tracer: Tracer, bench, per_key, session_s: float, workload) -> dict:
    """Per-layer metrics per traced timed unit (averaged over them)."""
    from perfbench.harness import Work

    units = [u for u in bench.units if u.timed and u.traced]
    plain = [u for u in bench.units if u.timed and not u.traced]
    labels = {u.label for u in units}
    n = max(len(units), 1)
    spans = [sp for sp in tracer.spans if sp.unit in labels]
    kids = _children(tracer.spans)

    def jobs_incl(sp: Span) -> int:
        w = per_key.get((sp.unit, str(sp.id)))
        return (w.jobs if w else 0) + sum(jobs_incl(c) for c in kids.get(sp.id, ()))

    by_id = {sp.id: sp for sp in tracer.spans}

    def outermost(names) -> list[Span]:
        out = []
        for sp in spans:
            if sp.name not in names:
                continue
            p = sp.parent
            while p is not None and by_id[p].name not in names:
                p = by_id[p].parent
            if p is None:
                out.append(sp)
        return out

    def calls(*names):
        return sum(1 for sp in spans if sp.name in names) / n

    def secs(*names):
        return sum(sp.dur for sp in outermost(names)) / n

    def jobs(*names):
        return sum(jobs_incl(sp) for sp in outermost(names)) / n

    def ratio(*names):
        hits = [sp.extra.get("nonempty") for sp in spans if sp.name in names]
        return sum(1 for h in hits if h) / len(hits) if hits else 0.0

    engine_spans = [sp for sp in spans if sp.name == "engine.run_once"]
    engine_self = sum(
        sp.dur - sum(c.dur for c in kids.get(sp.id, ())) for sp in engine_spans
    ) / n

    work = Work()
    for (unit, span), w in per_key.items():
        if unit in labels and span != "probe":
            work.add(w)

    store = getattr(workload, "store", None)
    store_bytes = store_files = 0
    if store:
        for dirpath, _dirs, files in os.walk(store):
            for f in files:
                if f.endswith(".parquet"):
                    store_files += 1
                    store_bytes += os.path.getsize(os.path.join(dirpath, f))

    def phase(key):
        return sum(tracer.catalyst.get(u, {}).get(key, 0.0) for u in labels) / n

    mb = 1e6
    values = {
        "session.start_s": session_s,
        "rules.load_s": sum(sp.dur for sp in tracer.spans if sp.name == "rules.load"),
        "dialect.translate_ms": secs("dialect.translate") * 1000,
        "sources.load_calls": calls("sources.load"),
        "sources.load_s": secs("sources.load"),
        "sources.load_jobs": jobs("sources.load"),
        "engine.pass_s": secs("engine.run_once"),
        "engine.self_s": engine_self,
        "operators.threshold.build_s": secs("operators.threshold.build"),
        "operators.deadman.build_s": secs("operators.deadman.build"),
        "operators.sequence_frames.s": secs("operators.sequence_frames.finalize"),
        "ckpt.calls": calls("ckpt.checkpoint"),
        "ckpt.s": secs("ckpt.checkpoint"),
        "ckpt.jobs": jobs("ckpt.checkpoint"),
        "ckpt.nonempty_ratio": ratio("ckpt.checkpoint"),
        "state.alerted_ids_calls": calls("state.alerted_ids"),
        "state.append_calls": calls(*STATE_APPEND),
        "state.append_s": secs(*STATE_APPEND),
        "state.append_nonempty_ratio": ratio(*STATE_APPEND),
        "state.read_mb": sum(sp.extra.get("bytes", 0) for sp in spans) / n / mb,
        "state.store_mb_end": store_bytes / mb,
        "state.files_end": store_files,
        "plans.build_s": secs("plans.build"),
        "plans.build_jobs": jobs("plans.build"),
        "plans.analysis_ms": phase("analysis"),
        "plans.optimization_ms": phase("optimization"),
        "plans.planning_ms": phase("planning"),
        "plans.execute_s": secs("plans.execute"),
        "exec.stages": work.stages / n,
        "exec.task_run_s": work.run_ms / 1000 / n,
        "exec.task_cpu_s": work.cpu_ns / 1e9 / n,
        "exec.gc_s": work.gc_ms / 1000 / n,
        "exec.shuffle_read_mb": work.shuffle_r_b / mb / n,
        # the probes' time is the tracer's own, not the program's
        "trace.overhead": (
            statistics.median(u.wall_s - tracer.probe_s.get(u.label, 0.0) for u in units)
            / statistics.median(u.wall_s for u in plain)
            if units and plain else 0.0
        ),
    }
    return {name: (values[name], unit) for name, unit, _ in PER_LAYER}


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` and return its Catalyst phase times (ms) from the
    query execution's phase tracker. The traced sweep runs it as a
    probe, apart from the write, which plans the query once more."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        if opt.isDefined():
            out[key] = float(opt.get().durationMs())
    return out
