"""Shared plumbing: run context, statistics, memory sampling, Spark lifecycle.

Nothing here starts a thread, process or JVM at import time.
"""

from __future__ import annotations

import math
import os
import platform
import shutil
import subprocess
import threading
import time

WORK_DIR = ".perfbench_work"


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def nearest_rank(values: list[float], pct: float) -> float:
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest ladder percentile that leaves at
    least ten samples above it; None when fewer than 20 samples exist."""
    n = len(values)
    best = None
    for pct in TAIL_LADDER:
        if n - math.ceil(pct / 100.0 * n) >= 10:
            best = (pct, nearest_rank(values, pct))
    return best


# ------------------------------------------------------------ process tree


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident set of this process and every descendant
    (the JVM and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        pids = [os.getpid()] + descendants()
        self.peak_kib = max(self.peak_kib, sum(_rss_kib(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


def wait_children_gone(timeout: float = 60.0) -> list[int]:
    """Wait until this process has no descendants; returns any left over."""
    deadline = time.monotonic() + timeout
    left = descendants()
    while left and time.monotonic() < deadline:
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
        left = descendants()
    return left


# ------------------------------------------------------------- run context


def _meminfo_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat, in clock ticks:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_ticks()`` readings that the
    hypervisor gave to other guests: load this box's own load1 cannot see."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def run_context(seed: int) -> dict:
    """Facts that decide whether two results may be compared at all."""
    import pyarrow
    import pyspark

    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "spark_task_slots": task_slots(),
        "mem_total_kib": _meminfo_total_kib(),
        "load1_start": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": _java_version(),
    }


# ------------------------------------------------------------ work directory


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work`` and pin the JVM heap to a size that fits a shared box."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} --conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


# ---------------------------------------------------------- Spark lifecycle


def task_slots() -> int:
    """Spark task slots: half the CPUs this process may use. On a shared
    box, a job that wants every CPU slows by as much as co-tenants take;
    one that wants half mostly keeps what it asks for, so runs at
    different co-tenant load agree more closely."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark():
    """Session with the engine's own tuning on ``task_slots()`` slots, plus
    one Python-worker round trip so the first measured action does not pay
    the worker cold start."""
    from mdio_cpp_spark.session import get_spark
    from mdio_cpp_spark.sources.datasource import register

    spark = get_spark("perfbench", master=f"local[{task_slots()}]")
    register(spark)
    spark.range(64, numPartitions=max(1, spark.sparkContext.defaultParallelism)).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and reap it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
