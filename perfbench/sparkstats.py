"""Spark's own counters, read from outside the program.

Jobs, stages and tasks come from the application status store
(``sc._jsc.sc().statusStore()``), executed plans from the SQL status
store; both are kept with ``spark.ui.enabled=false``. A ``Cursor``
returns what ran since its previous ``take()``, so a workload can
attribute counters to one query, one pipeline day or one drain.
"""

from __future__ import annotations

import hashlib
import re
import resource
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "input_rows", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)
PLAN_FIELDS = ("exchanges", "broadcasts", "scans", "windows", "python_udf_nodes")


@dataclass
class Counters:
    """Totals over a set of jobs: the jobs themselves, the stages they
    ran (skipped stages counted apart, with no metrics), and the SQL
    executions whose plans produced them."""

    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    stage: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
    plan: dict = field(default_factory=lambda: dict.fromkeys(PLAN_FIELDS, 0))
    plan_hashes: list = field(default_factory=list)

    def add(self, other: "Counters") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.skipped_stages += other.skipped_stages
        for k in STAGE_FIELDS:
            self.stage[k] += other.stage[k]
        for k in PLAN_FIELDS:
            self.plan[k] += other.plan[k]
        self.plan_hashes += other.plan_hashes

    @property
    def plan_hash(self) -> str:
        return hashlib.md5("|".join(self.plan_hashes).encode()).hexdigest()[:16]

    def as_dict(self) -> dict:
        return {
            "jobs": self.jobs, "stages": self.stages,
            "skipped_stages": self.skipped_stages, **self.stage,
            **{f"plan_{k}": v for k, v in self.plan.items()},
            "plan_hash": self.plan_hash,
        }


# ------------------------------------------------------------------ plans

_TREE_PREFIX = re.compile(r"^[\s:+\-*|]*")


_VOLATILE = (
    (re.compile(r", Statistics\(.*$"), ""),      # AQE runtime statistics
    (re.compile(r" \(\d+\)"), ""),                # operator ids
    (re.compile(r"#\d+L?"), "#"),                 # attribute ids
    (re.compile(r"\[codegen id : \d+\]"), ""),
    (re.compile(r"(plan_id|epoch|batchId)=?:? ?\d+"), r"\1"),
    (re.compile(r"@[0-9a-f]+"), ""),              # object addresses
    (re.compile(r"\b[0-9a-f]{8}(-?[0-9a-f]{4}){3}-?[0-9a-f]{12}\b"), "uuid"),
    (re.compile(r"(file:|/)\S*"), "path"),        # locations and temp names
)


def plan_tree(description: str) -> tuple[list[str], list[str]]:
    """The executed plan of a physical-plan description — the operator
    tree plus each operator's details — with ids, statistics, paths and
    object addresses stripped, so one plan reads the same in every run.
    For an adaptive plan this is the final (or current) plan, not the
    initial one. Returns (operator tree, operator details)."""
    lines = description.splitlines()
    if lines and lines[0].startswith("== Physical Plan =="):
        lines = lines[1:]
    blank = lines.index("") if "" in lines else len(lines)
    tree, details = lines[:blank], lines[blank:]
    for marker in ("== Final Plan ==", "== Current Plan =="):
        at = [i for i, ln in enumerate(tree) if marker in ln]
        if at:
            end = [i for i, ln in enumerate(tree) if "== Initial Plan ==" in ln]
            tree = tree[at[0] + 1: end[0] if end else len(tree)]
            break
    def clean(ls):
        out = []
        for line in ls:
            for pattern, repl in _VOLATILE:
                line = pattern.sub(repl, line)
            if line.strip():
                out.append(line.rstrip())
        return out

    return clean(tree), clean(ln for ln in details if not ln.startswith("Location"))


def plan_counts(tree: list[str]) -> dict:
    counts = dict.fromkeys(PLAN_FIELDS, 0)
    for line in tree:
        name = _TREE_PREFIX.sub("", line).split(" ")[0]
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "BroadcastExchange":
            counts["broadcasts"] += 1
        elif "Scan" in name:
            counts["scans"] += 1
        elif name.startswith("Window"):
            counts["windows"] += 1
        elif re.search(r"Python|InPandas|InArrow", name):
            counts["python_udf_nodes"] += 1
    return counts


# ------------------------------------------------------------------ jobs

class Cursor:
    """Reads every job, stage and SQL execution that completed since the
    previous ``take()``; call ``take()`` only when no job is running."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._drain()
        jobs = self._store.jobsList(None)
        self._next_job = max(
            (jobs.apply(i).jobId() for i in range(jobs.size())), default=-1
        ) + 1
        self._next_exec = self._sql.executionsCount()
        self._seen_stages: set[int] = set()

    def _drain(self) -> None:
        # the status stores are fed by the async listener bus: wait until
        # every event of the finished jobs has been applied
        self._bus.waitUntilEmpty(30_000)

    def take(self) -> dict[str | None, Counters]:
        """Counters of the new jobs, keyed by their job group (None for
        jobs outside any group)."""
        self._drain()
        by_group: dict[str | None, Counters] = {}
        job_group: dict[int, str | None] = {}
        while True:
            try:
                jd = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            grp = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            job_group[jd.jobId()] = grp
            c = by_group.setdefault(grp, Counters())
            c.jobs += 1
            sids = jd.stageIds()
            for i in range(sids.size()):
                self._add_stage(c, sids.apply(i))
        n_exec = self._sql.executionsCount()
        if n_exec > self._next_exec:
            execs = self._sql.executionsList(self._next_exec, n_exec - self._next_exec)
            for i in range(execs.size()):
                ex = execs.apply(i)
                ids = ex.jobs().keySet().toSeq()
                groups = {job_group.get(ids.apply(j)) for j in range(ids.size())}
                if not groups:
                    continue  # a command that ran no job
                tree, details = plan_tree(ex.physicalPlanDescription())
                counts = plan_counts(tree)
                grp = sorted(groups, key=str)[0]
                c = by_group.setdefault(grp, Counters())
                for k, v in counts.items():
                    c.plan[k] += v
                c.plan_hashes.append(
                    hashlib.md5("\n".join(tree + details).encode()).hexdigest()[:16]
                )
            self._next_exec = n_exec
        return by_group

    def _add_stage(self, c: Counters, sid: int) -> None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return
        if str(sd.status()) == "SKIPPED":
            c.skipped_stages += 1
            return
        if sid in self._seen_stages:
            return  # a stage shared by two jobs counts once
        self._seen_stages.add(sid)
        c.stages += 1
        s = c.stage
        s["tasks"] += sd.numTasks()
        s["failed_tasks"] += sd.numFailedTasks()
        s["executor_run_s"] += sd.executorRunTime() / 1e3
        s["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        s["gc_s"] += sd.jvmGcTime() / 1e3
        s["input_bytes"] += sd.inputBytes()
        s["input_rows"] += sd.inputRecords()
        s["output_bytes"] += sd.outputBytes()
        s["shuffle_read_bytes"] += sd.shuffleReadBytes()
        s["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        s["spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()


def total(by_group: dict) -> Counters:
    out = Counters()
    for c in by_group.values():
        out.add(c)
    return out


# ------------------------------------------------------------------ host

def job_latency_ms(spark) -> float:
    """Median of 10 trivial one-task jobs: the per-job fixed cost."""
    ts = []
    for _ in range(10):
        t0 = time.perf_counter()
        spark.range(1).count()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) * 1e3


def jvm_canary_s(spark) -> float:
    """A fixed 50M-row JVM aggregation: host CPU speed as Spark sees it."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(CAST(id AS DOUBLE) * id)").collect()
    return time.perf_counter() - t0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0
