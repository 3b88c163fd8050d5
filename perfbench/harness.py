"""Process-level plumbing shared by every workload: the work directory,
the Spark session, per-unit timing, and the counters read back from
Spark's status store and from /proc.

Every unit of work runs under its own Spark job group
``pb|<unit>|<span>``, so the jobs, stages, tasks and bytes Spark records
can be attributed to the unit (and, in the traced run, to the span)
after the run, without listeners in the timed path.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

GROUP_PREFIX = "pb|"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (so interpreter
    start-up and imports count toward set-up time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


# JVM threads whose CPU is excluded from a unit's: JIT compilation is
# warm-up work, done in the background whenever the JVM decides, and it
# makes a unit's CPU time fall run after run for many units
_JIT_THREADS = ("(C1 CompilerThre)", "(C2 CompilerThre)")


def _jit_ticks(pid: str) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw.partition(" ")[2].startswith(_JIT_THREADS):
            total += sum(int(x) for x in raw.rsplit(")", 1)[1].split()[11:13])
    return total


def _proc_table() -> tuple[dict[str, list[str]], dict[str, float]]:
    """(children by parent pid, CPU seconds by pid) of every process,
    CPU including children a process has already reaped and excluding
    JIT compiler threads."""
    children: dict[str, list[str]] = {}
    cpu: dict[str, float] = {}
    for pid in os.listdir("/proc"):
        st = _stat_fields(pid) if pid.isdigit() else None
        if st is None:
            continue
        # fields after the command: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14
        children.setdefault(st[1], []).append(pid)
        cpu[pid] = sum(int(x) for x in st[11:15]) / CLK_TCK
    return children, cpu


def _descendants(children: dict[str, list[str]], root: str) -> list[str]:
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (JVM, Python
    workers), less the JVM's JIT compiler threads."""
    children, cpu = _proc_table()
    root = str(os.getpid())
    tree = [root, *_descendants(children, root)]
    return sum(cpu.get(p, 0.0) - _jit_ticks(p) / CLK_TCK for p in tree)


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def make_workdir(root: str) -> str:
    """A private scratch directory inside the checkout; every file the
    run writes (lake, stores, Spark scratch, temp files) lives here and
    is removed when the run ends."""
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def start_spark(work: str):
    """The program's own session factory with its defaults; the only
    additions keep scratch files inside ``work``, bound driver memory,
    and keep enough job/stage history for per-unit attribution."""
    from alerta_spark.session import get_spark

    slots = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no /tmp/hsperfdata_<user> file: every write stays in ``work``
            # compiler threads that live as long as the JVM, so their
            # CPU can be taken out of every unit's (see _JIT_THREADS)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the JVM down and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    procs = _descendants(_proc_table()[0], str(os.getpid()))
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in procs if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after stop: {alive}")
        time.sleep(0.05)


@dataclass
class Unit:
    """One unit of work (an engine tick or a query sweep) and what it
    cost."""

    label: str
    timed: bool
    wall_s: float = 0.0
    cpu_s: float = 0.0
    traced: bool = False


class Bench:
    """Runs units under job groups and keeps their timings."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.units: list[Unit] = []
        self.timed = False
        self.tracer = None  # set by Tracer.attach for the traced run

    def group(self, unit: str, span: str = "") -> None:
        self.sc.setJobGroup(f"{GROUP_PREFIX}{unit}|{span}", unit)

    def run_unit(self, label: str, fn, *args):
        """Time ``fn(*args)`` as one unit; returns (unit, fn's result)."""
        u = Unit(f"{len(self.units)}:{label}", self.timed)
        self.units.append(u)
        self.group(u.label)
        if self.tracer is not None:
            self.tracer.unit = u.label
            u.traced = self.tracer.enabled
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        out = fn(*args)
        u.wall_s = time.perf_counter() - t0
        u.cpu_s = tree_cpu_s() - c0
        print(f"unit {u.label} timed={u.timed} wall={u.wall_s:.3f}s cpu={u.cpu_s:.2f}s",
              file=sys.stderr, flush=True)
        self.sc.setJobGroup(f"{GROUP_PREFIX}-|", "between units")
        if self.tracer is not None:
            self.tracer.unit = "-"
        return u, out


def _status_json(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the driver's status store, serialized
    JVM-side in one call each."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60000)
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
    )
    store = jsc.statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                None, False, False, sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        )
    )
    return jobs, stages


@dataclass
class Work:
    """Spark work attributed to one key (a unit, or a unit's span)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_b: int = 0
    shuffle_w_b: int = 0
    shuffle_r_b: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0

    def add(self, other: "Work") -> None:
        for f in self.__dataclass_fields__:
            setattr(self, f, getattr(self, f) + getattr(other, f))

    def add_stage(self, s: dict) -> None:
        self.stages += 1
        self.tasks += int(s["numCompleteTasks"])
        self.input_b += int(s["inputBytes"])
        self.shuffle_w_b += int(s["shuffleWriteBytes"])
        self.shuffle_r_b += int(s["shuffleReadBytes"])
        self.run_ms += int(s["executorRunTime"])
        self.cpu_ns += int(s["executorCpuTime"])
        self.gc_ms += int(s["jvmGcTime"])


def _job_key(job: dict) -> tuple[str, str] | None:
    """(unit label, span id) a job belongs to, or None."""
    group = job.get("jobGroup") or ""
    if not group.startswith(GROUP_PREFIX):
        return None
    unit, _, span = group[len(GROUP_PREFIX):].partition("|")
    return unit, span


def attribute_work(bench: Bench) -> dict[tuple[str, str], Work]:
    """Spark work per (unit, span). A stage shared by several jobs
    belongs to the earliest job that lists it, the one that ran it."""
    jobs, stages = _status_json(bench.spark)
    out: dict[tuple[str, str], Work] = {}
    stage_owner: dict[int, tuple[str, str] | None] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        key = _job_key(job)
        if key is not None:
            out.setdefault(key, Work()).jobs += 1
        for sid in job["stageIds"]:
            stage_owner.setdefault(sid, key)
    for s in stages:
        if s["status"] != "COMPLETE":
            continue
        key = stage_owner.get(s["stageId"])
        if key is not None:
            out.setdefault(key, Work()).add_stage(s)
    return out


def unit_work(per_key: dict[tuple[str, str], Work]) -> dict[str, Work]:
    """Collapse span keys to their unit."""
    out: dict[str, Work] = {}
    for (unit, _span), w in per_key.items():
        out.setdefault(unit, Work()).add(w)
    return out


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("no timed units")
    return float(statistics.median(xs))


def end_to_end(bench: Bench, setup_s: float, per_unit: dict[str, Work]) -> dict:
    timed = [u for u in bench.units if u.timed]
    works = [per_unit.get(u.label, Work()) for u in timed]
    mb = 1e6
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(u.wall_s for u in timed), "s"),
        "cpu_s": (median(u.cpu_s for u in timed), "s"),
        "spark_jobs": (median(w.jobs for w in works), "count"),
        "spark_tasks": (median(w.tasks for w in works), "count"),
        "shuffle_mb": (median(w.shuffle_w_b for w in works) / mb, "MB"),
        "input_mb": (median(w.input_b for w in works) / mb, "MB"),
        "driver_rss_mb": (peak_rss_mb(), "MB"),
    }
