"""Counters read from Spark's own status stores, attributed to the
operation that caused them.

Every traced batch operation runs under its own job group; afterwards
the observer reads the jobs of that group from the application status
store, the stages of those jobs, and the SQL executions started since
the operation began. Nothing here changes what Spark executes.
"""

from __future__ import annotations

import os
import re
import time

from perfbench.stats import covered_length

#: SQL metric names of the Arrow/pandas Python-worker transfer.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

_SIZE_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_SIZE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGT]?i?B)?\s*$")


def parse_size(text: str) -> int:
    """'32.2 MiB' or 'total (min, med, max ...)\\n3.1 KiB (...)' -> bytes.

    Raises ``ValueError`` on anything it cannot read, so a format
    change shows up as an error, not as zero bytes."""
    line = text.strip().splitlines()[-1] if "\n" in text.strip() else text
    head = line.split("(", 1)[0] if "(" in line else line
    m = _SIZE_RE.match(head)
    if not m:
        raise ValueError(f"unreadable size metric {text!r}")
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2) or "B"])


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


def job_group(job) -> str | None:
    return _opt(job.jobGroup())


def per_op(totals: dict, n_ops: int, wall_s: float) -> dict:
    """Job counters summed over a run -> per-operation values, plus the
    mean per-stage task skew and the task busy ratio, executor run time
    / (wall x cores)."""
    n = max(n_ops, 1)
    out = {k: v / n for k, v in totals.items() if not k.startswith("spark.task_skew")}
    skew_n = totals.get("spark.task_skew_n", 0)
    out["spark.task_skew"] = totals["spark.task_skew_sum"] / skew_n if skew_n else 0.0
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out["spark.task_busy_ratio"] = totals.get("spark.executor_run_s", 0.0) / (wall_s * cores)
    return out


def attribute_jobs(jobs: list[tuple[int, str | None]], groups: list[str]) -> dict:
    """Check job-group attribution over one run.

    ``jobs`` is ``(job_id, group)`` for every job the run launched,
    ``groups`` the groups the run set. Returns ``{group: [job ids]}``
    and raises ``ValueError`` if a job has no group, a group that was
    never set, or appears twice."""
    seen: dict[int, str | None] = {}
    out: dict[str, list[int]] = {g: [] for g in groups}
    for job_id, group in jobs:
        if job_id in seen:
            raise ValueError(f"job {job_id} listed twice ({seen[job_id]}, {group})")
        seen[job_id] = group
        if group is None:
            raise ValueError(f"job {job_id} carries no job group")
        if group not in out:
            raise ValueError(f"job {job_id} has unknown group {group!r}")
        out[group].append(job_id)
    return out


class SparkObserver:
    """Reads job, stage, task and SQL counters for one operation."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.last_job = self._max_job_id()
        self.jobs_seen: list[tuple[int, str | None]] = []

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _store(self):
        return self._jsc.statusStore()

    def _max_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def sql_marker(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def new_jobs(self) -> list:
        """JobData of every job launched since the previous call (the
        store lists newest first)."""
        self._drain()
        out = []
        jobs = self._store().jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self.last_job:
                break
            out.append(job)
        if out:
            self.last_job = out[0].jobId()
        out.reverse()
        for job in out:
            self.jobs_seen.append((job.jobId(), job_group(job)))
        return out

    def job_counters(self, jobs: list, wall_start_ms: float, wall_end_ms: float) -> dict:
        """Sum stage metrics over ``jobs``; time with no job running."""
        store = self._store()
        c = {
            "spark.jobs": len(jobs),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0,
            "spark.input_bytes": 0,
            "spark.shuffle_read_bytes": 0,
            "spark.shuffle_write_bytes": 0,
            "spark.shuffle_fetch_wait_s": 0.0,
            "spark.spill_bytes": 0,
        }
        skews = []
        intervals = []
        for job in jobs:
            sub = _opt(job.submissionTime())
            done = _opt(job.completionTime())
            if sub is not None:
                end = done.getTime() if done is not None else wall_end_ms
                intervals.append((max(sub.getTime(), wall_start_ms), min(end, wall_end_ms)))
            for sid in _seq(job.stageIds()):
                for st in _seq(store.stageData(sid, False, None, False, None)):
                    if str(st.status()) == "SKIPPED":
                        continue
                    c["spark.stages"] += 1
                    c["spark.tasks"] += st.numTasks()
                    c["spark.executor_run_s"] += st.executorRunTime() / 1e3
                    c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["spark.gc_s"] += st.jvmGcTime() / 1e3
                    c["spark.input_bytes"] += st.inputBytes()
                    c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spark.shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                    c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    if st.numTasks() >= 2:
                        summary = _opt(store.taskSummary(sid, st.attemptId(), self._quantiles))
                        if summary is not None:
                            run = summary.executorRunTime()
                            med, top = run.apply(0), run.apply(1)
                            if med > 0:
                                skews.append(top / med)
        covered = covered_length([(lo, hi) for lo, hi in intervals if hi > lo])
        wall_ms = max(wall_end_ms - wall_start_ms, 0.0)
        c["spark.no_job_s"] = max(wall_ms - covered, 0.0) / 1e3
        c["spark.task_skew_sum"] = sum(skews)
        c["spark.task_skew_n"] = len(skews)
        return c

    def python_worker_bytes(self, marker: int) -> dict:
        """Arrow bytes to and from Python workers in SQL executions
        started after ``marker``."""
        self._drain()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        sent = returned = 0
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= marker:
                break
            values = sql.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                if m.name() not in (PY_SENT, PY_RETURNED):
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                n = parse_size(str(v.get()))
                if m.name() == PY_SENT:
                    sent += n
                else:
                    returned += n
        return {"python_worker.bytes_sent": sent, "python_worker.bytes_returned": returned}


def catalyst_phases(df) -> dict:
    """Analysis / optimization / planning seconds of ``df``'s execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[f"catalyst.{name}_s"] = ph.get().durationMs() / 1e3 if ph.isDefined() else 0.0
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def wall_ms() -> float:
    return time.time() * 1e3
