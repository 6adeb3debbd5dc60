"""Session lifecycle, memory sampling, host context and statistics for
the benchmark.

Sessions come only from the engine's `get_spark`. The untraced run adds
no settings; the traced run adds only `trace_conf` (the event log).
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from contacts_etl_phase21_spark.session import get_spark

# The five engine settings tools/profile_query.py's private session
# leaves out; a session without them is a different engine.
REQUIRED_CONF = {
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
}


def trace_conf(ev_dir: str) -> dict[str, str]:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def conf_mismatches(get) -> list[str]:
    """Names of REQUIRED_CONF settings whose value differs; `get` maps a
    key to its value or None."""
    return [k for k, v in REQUIRED_CONF.items() if get(k) != v]


def prepare_environment(root: str) -> None:
    """Point Python workers, Spark scratch space and temp files at the
    checkout before any JVM starts; call once per process. Workers are
    separate processes: a sys.path insert in the Spark driver does not reach
    them, PYTHONPATH does."""
    work = os.path.join(root, ".bench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    paths = [root, *filter(None, os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # keep the JVM's temp files and perf-data file out of the system temp dir
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 "-XX:-UsePerfData")
    prior = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"{prior} {java_opts}" if prior
                                       else java_opts)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))


def start_session(extra_conf: dict[str, str] | None = None
                  ) -> tuple[SparkSession, float]:
    """Launch a JVM and build the engine's session; returns the session
    and the seconds until it was ready."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    ready = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    bad = conf_mismatches(
        lambda k: spark.sparkContext.getConf().get(k, None))
    if bad:
        stop_session(spark)
        raise RuntimeError(f"session lacks engine settings: {bad}")
    return spark, ready


def jvm_pid() -> int | None:
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark: SparkSession) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (it exits when its stdin closes)."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)
    _await_exit(workers)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _await_exit(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for the JVM's Python workers, which exit once the JVM has
    closed their pipes; kill any still running at the deadline."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [root_pid]
    while stack:
        found = kids.get(stack.pop(), [])
        out.extend(found)
        stack.extend(found)
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, in MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *_descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1024.0 * 1024.0)


class PeakRss:
    """Background sampler of the peak RSS of the JVM process tree (the
    driver JVM plus the Python workers it forks)."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self._pid, self._interval = pid, interval_s
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self._pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostContext:
    """bench.py's capture fields: 1-minute load at start, steal% during
    the run, and the contended flag (load above a quarter of the
    cores), plus nproc and the cores the session uses."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.load_1m_at_capture = os.getloadavg()[0]
        self._ticks0 = _cpu_ticks()

    def record(self, cores_used: int | None) -> dict:
        steal1, total1 = _cpu_ticks()
        steal0, total0 = self._ticks0
        steal = (100.0 * (steal1 - steal0) / (total1 - total0)
                 if total1 > total0 else 0.0)
        return {"nproc": self.nproc, "cores_used": cores_used,
                "load_1m_at_capture": round(self.load_1m_at_capture, 2),
                "steal_pct_during_capture": round(steal, 2),
                "capture_contended":
                    self.load_1m_at_capture > self.nproc / 4}


def summarize(values: list[float]) -> dict:
    """n, median and quartiles (statistics.quantiles, n=4)."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3}
