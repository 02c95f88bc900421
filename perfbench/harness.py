"""Closed-loop driver, Spark session set-up and per-layer rollup.

One client issues operations one after another. Every operation is timed
from outside with ``time.perf_counter`` around a call into a public
function of ``semtools_spark``, with its result consumed (written or
collected) inside the timed region.

With tracing on, the jobs each operation started are read back from
Spark's status store after the operation returns, outside its timed
region, and rolled up by job group. Runs with tracing off never touch the
status store.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch location of this process, the JVM and its
    Python workers into ``work``, and put the repo on the workers' import
    path, so the benchmark runs from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a launcher JVM, which takes these options
    os.environ["SPARK_LAUNCHER_OPTS"] = _java_opts(tmp)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT if not prior else f"{ROOT}{os.pathsep}{prior}"


def _java_opts(tmp: str) -> str:
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark(work: str, app: str):
    from semtools_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": _java_opts(tmp),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(app, cpus=nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pctl(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 1)) - 1))
    return float(xs[k])


class StatusStore:
    """Jobs and stage metrics from the driver's AppStatusStore (works
    with ``spark.ui.enabled=false``). ``since_last()`` returns the jobs
    that started after the previous call, so call it after every
    operation: the store keeps only the last 1000 jobs by default."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._last_job = -1
        self.since_last()

    def since_last(self) -> list[dict]:
        # events reach the store through the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        jobs = []
        for i in range(seq.length()):  # newest first
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            group = j.jobGroup()
            sub, end = j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            jobs.append(
                {
                    "id": jid,
                    "group": group.get() if group.isDefined() else None,
                    "start_ms": sub.get().getTime() if sub.isDefined() else None,
                    "end_ms": end.get().getTime() if end.isDefined() else None,
                    "stages": [sids.apply(k) for k in range(sids.length())],
                }
            )
        if jobs:
            self._last_job = max(j["id"] for j in jobs)
        return sorted(jobs, key=lambda j: j["id"])

    def stage_metrics(self, stage_ids) -> dict:
        """Sums over the stages that ran (skipped stages carry none)."""
        tot = defaultdict(float)
        for sid in sorted(set(stage_ids)):
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            tot["executor_run_ms"] += s.executorRunTime()
            tot["gc_ms"] += s.jvmGcTime()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["output_bytes"] += s.outputBytes()
        return tot


def rollup(store: StatusStore, jobs: list[dict], group_of=lambda g: "op") -> dict:
    """Per-label totals for ``jobs``; ``group_of`` maps a job group to a
    label. Adds ``covered_ms``: wall time covered by at least one job."""
    by_label: dict[str, list] = defaultdict(list)
    for j in jobs:
        by_label[group_of(j["group"])].append(j)
    out = {}
    for label, js in by_label.items():
        m = store.stage_metrics(s for j in js for s in j["stages"])
        m["jobs"] = len(js)
        out[label] = m
    spans = sorted(
        (j["start_ms"], j["end_ms"]) for j in jobs if j["start_ms"] and j["end_ms"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    out["__all__"] = store.stage_metrics(s for j in jobs for s in j["stages"])
    out["__all__"]["jobs"] = len(jobs)
    out["__all__"]["covered_ms"] = covered
    return out


class Loop:
    """Closed-loop client: times operations, counts attempts and
    failures, and (traced) collects per-operation layer rollups."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.store = StatusStore(spark) if trace else None
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_s = 0.0  # time inside counted operations
        self.rollup_s = 0.0

    def call(self, kind: str, fn, group_of=lambda g: "op", counted: bool = True):
        """Run ``fn`` as one operation. Returns ``(result, wall_ms,
        rollup)``; ``result`` is None when the operation raised."""
        self.attempted += 1
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{kind}", kind)
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            res = None
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        if counted:
            self.op_s += wall
        ms = wall * 1000.0
        self.lat_ms[kind].append(ms)
        roll = None
        if self.trace:
            t1 = time.perf_counter()
            roll = rollup(self.store, self.store.since_last(), group_of)
            self.rollup_s += time.perf_counter() - t1
            a = roll["__all__"]
            self.layer["spark.gc_ms"].append(a["gc_ms"])
            self.layer["spark.spill_bytes"].append(a["spill_bytes"])
            self.layer["spark.failed_tasks"].append(a["failed_tasks"])
        return res, ms, roll

    def add(self, name: str, value: float) -> None:
        self.layer[name].append(float(value))

    def run(self, seconds: float, one_round) -> None:
        """Whole rounds until ``seconds`` have passed."""
        t0 = time.perf_counter()
        rnd = 0
        while True:
            one_round(rnd)
            rnd += 1
            if time.perf_counter() - t0 >= seconds:
                break

    def reset(self) -> None:
        """Forget warm-up operations, including their jobs."""
        if self.store is not None:
            self.store.since_last()
        self.lat_ms.clear()
        self.layer.clear()
        self.attempted = self.failed = 0
        self.op_s = self.rollup_s = 0.0
        self.errors.clear()
