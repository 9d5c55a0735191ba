"""Run context shared by the workloads: environment, session set-up,
failure accounting, peak memory and provenance."""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import platform
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

from perfbench import stats
from perfbench.tracing import Tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str) -> str:
    """Point every scratch path of Python, Spark and the JVM into a
    fresh work directory inside the checkout; return that directory.

    Must run before pyspark is imported."""
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run{os.getpid()}-", dir=base)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return work


class Ctx:
    """One benchmark run."""

    def __init__(self, args, root: str, work: str, t_process: float):
        self.args = args
        self.root = root
        self.work = work
        self.cache = os.path.join(root, ".perfbench_cache")
        self.t_process = t_process
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []  # messages, for the run record
        self.layer: dict[str, float] = {}
        self.setup_s = 0.0
        self.setup_wall_s = 0.0
        self.get_spark_s = 0.0
        self.gen_s = 0.0
        self.gen_cpu_s = 0.0
        self.warmup_s = 0.0
        self.inputs: dict = {}
        self._jvm_pid = None

    # -- outcome accounting -------------------------------------------------

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, count: int = 1) -> None:
        """Count ``count`` failed or wrong operations described by
        ``what``; inside an ``except`` block the traceback is printed too."""
        self.failed += count
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)
        if sys.exc_info()[0] is not None:
            traceback.print_exc(file=sys.stderr)

    def oracle_utils(self):
        """The repository's DuckDB oracle helpers (``tests/oracle_utils.py``)."""
        tests = os.path.join(self.root, "tests")
        if tests not in sys.path:
            sys.path.insert(0, tests)
        import oracle_utils

        return oracle_utils

    @contextlib.contextmanager
    def generating(self):
        """Time input generation, which set-up excludes."""
        t, c = time.perf_counter(), time.process_time()
        yield
        self.gen_s += time.perf_counter() - t
        self.gen_cpu_s += time.process_time() - c

    # -- session ------------------------------------------------------------

    def setup(self, session_warm, workload_warm=None) -> None:
        """Set up once, from process start to the first timed operation.

        The set-up is the cold ``get_spark`` (JVM launch included),
        ``session_warm(spark)``, a small fixed query, and
        ``workload_warm(spark)``, which runs first-use code generation
        and worker start-up outside the timed window. ``setup_s`` is the
        CPU seconds of the process tree over that interval, input
        generation excluded, for the reason ``cpu_s_per_op`` is CPU time
        (see README); ``setup_wall_s`` is its wall time. The warm-up
        part's wall time is also recorded as ``warmup_s``."""
        from big_data_trend_analysis_spark.session import get_spark

        t0 = self.t_process + self.gen_s
        with self.tracer.span("setup"):
            t_gs = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench")
            self.get_spark_s = time.perf_counter() - t_gs
            self.spark.sparkContext.setLogLevel("ERROR")
            session_warm(self.spark)
        if workload_warm is not None:
            t_w = time.perf_counter()
            with self.tracer.span("warmup"):
                workload_warm(self.spark)
            self.warmup_s = time.perf_counter() - t_w
        self.setup_wall_s = time.perf_counter() - t0
        self.setup_s = tree_cpu_s() - self.gen_cpu_s
        from perfbench.sparkobs import jvm_pid

        self._jvm_pid = jvm_pid(self.spark)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the driver JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self._jvm_pid is not None:
            with open(f"/proc/{self._jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# -- CPU time ------------------------------------------------------------------


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` (default:
    this process) and every process below it: the driver JVM, the Python
    workers, and any child already reaped (through ``cutime``/``cstime``).

    CPU time excludes the time the hypervisor runs other guests on this
    machine's cores (steal), which wall time includes."""
    root_pid = os.getpid() if root_pid is None else root_pid
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


# -- provenance ----------------------------------------------------------------


def source_digest(root: str) -> str:
    """sha256 over the engine's and the benchmark's source files."""
    digest = hashlib.sha256()
    for top in ("big_data_trend_analysis_spark", "perfbench"):
        for dirpath, dirnames, names in sorted(os.walk(os.path.join(root, top))):
            dirnames.sort()
            for name in sorted(names):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    digest.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        digest.update(f.read())
    return digest.hexdigest()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(ctx: Ctx) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "git_sha": git_sha(ctx.root),
        "source_sha256": source_digest(ctx.root),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "seed": ctx.args.seed,
        "workload": ctx.args.workload,
        "seconds": ctx.args.seconds,
        "trace": bool(ctx.args.trace),
        "started_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def rounds(seconds: float, round_s: float) -> int:
    """Whole rounds (passes, cycles) of a run at ``--seconds``: the fewest
    whose nominal time, ``round_s`` each, covers ``seconds``. The count
    depends only on ``--seconds``, not on how fast the host is, so every
    run does the same work and JIT warm-up is amortised alike."""
    return max(1, math.ceil(seconds / round_s - 1e-9))


def summarize(samples: list[float], qs=(0.5, 0.9, 0.99)) -> dict:
    """Median and the tails the sample count supports, with the count."""
    out = {"n": len(samples)}
    for q in qs:
        out[f"p{round(q * 100)}"] = stats.tail_or_none(samples, q) if q > 0.5 else (
            stats.percentile(samples, q) if samples else None
        )
    return out
