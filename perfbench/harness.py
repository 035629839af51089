"""Host hygiene, session set-up and tracing for the benchmark.

Everything here wraps the program from outside: sessions come from the
package's own ``session.get_spark``, layers are timed around calls into
their public functions, and per-layer counts come from Spark's status
tracker and event log.  Nothing inside the package is instrumented.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Driver heap: well below physical RAM on a small host (the package's 16g
# default can exceed it), and small enough to share the machine.
DRIVER_MEM_CAP_MB = 4096


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_host(work: Path) -> None:
    """Pin cores, heap and every temporary location inside ``work`` before the
    JVM starts.  The JVM reads these once, so call this first."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_mb = min(DRIVER_MEM_CAP_MB, total_kb // 1024 // 4)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def session_conf(work: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
        # one plain JSON-lines file the parser below reads without a codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def build_session(work: Path, event_log: bool = False):
    from etl_marketeye_airflow_spark.session import get_spark

    n = cpus()
    return get_spark("perfbench", cpus=n, shuffle_partitions=n,
                     extra_conf=session_conf(work, event_log))


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it: the JVM exits when its stdin
    closes, and Python workers exit with it."""
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
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort, then reap
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 — RSS is then the driver Python only
        return None


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM, the Python worker daemon and its workers), including the
    children each of them has already reaped."""
    tck = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / tck)
    me = os.getpid()
    total, frontier = procs.get(me, (0, 0.0))[1], {me}
    while frontier:
        kids = {pid for pid, (ppid, _) in procs.items() if ppid in frontier}
        total += sum(procs[k][1] for k in kids)
        frontier = kids
    return total


def jit_compile_s(spark) -> float:
    """Time the JVM has spent in JIT compilation so far."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getCompilationMXBean().getTotalCompilationTime() / 1000


def event_log_cpu_s(spark) -> float:
    """CPU time of the listener thread that writes the event log: the cost
    tracing adds.  Job groups and the span wrappers cost no Spark work."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return sum(
        mx.getThreadCpuTime(t.getId())
        for t in jvm.java.lang.Thread.getAllStackTraces().keySet()
        if t.getName() == "spark-listener-group-eventLog"
    ) / 1e9


def peak_rss_mb(pid: int | None) -> float:
    """Peak resident memory of the driver Python plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if pid:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def calibration_sample() -> dict[str, float]:
    """Code-independent host speed (the ``bench.py`` axes, smaller): a
    multi-core matmul, a single-core interpreter loop and a memory sum.
    Drift in these between runs is the host, not the program."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.random.RandomState(0).rand(1024, 1024)
    _ = a @ a
    mat = time.perf_counter() - t0
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    _ = float(np.sum(np.ones(12_500_000)))
    mem = time.perf_counter() - t0
    return {"matmul1024_s": mat, "pyloop1m_s": py, "memsum100mb_s": mem}


def force(df) -> tuple:
    """The ``bench.py`` action: hash every output column and sum the hashes,
    so no output expression is skipped, plus the row count, in one job."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(F.struct(*cols)).alias("_h")).agg(
        F.sum(F.col("_h").cast("decimal(38,0)")), F.count(F.lit(1))
    ).collect()[0]
    return row[0], row[1]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) if path.exists() else 0


class Tracer:
    """Layer spans from outside the program.  Each timed call runs under its
    own Spark job group, so the status tracker and the event log can split
    the work by layer."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.groups: dict[str, list[str]] = defaultdict(list)
        self._n = 0
        self._lock = threading.Lock()  # spans open on the DAG's fan-out threads

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            with self._lock:
                self._n += 1
                group = f"{name}#{self._n}"
                self.groups[name].append(group)
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.spans[name].append(time.perf_counter() - t0)
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def tasks(self, name: str) -> int:
        """Tasks of every job the layer's calls ran (status tracker)."""
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for g in self.groups.get(name, []):
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    n += si.numTasks if si else 0
        return n


class EventLog:
    """Per-job-group task metrics parsed from the Spark event log."""

    def __init__(self, log_dir: Path):
        self.by_group: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.task_runs: dict[str, list[float]] = defaultdict(list)
        self.bytes = 0
        files = sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith("."))
        stage_group: dict[int, str] = {}
        for path in files:
            self.bytes += path.stat().st_size
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:  # a partly flushed last line
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        group = stage_group.get(ev.get("Stage ID"), "-")
                        g = self.by_group[group]
                        run = m.get("Executor Run Time", 0)
                        g["run_ms"] += run
                        g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                        g["gc_ms"] += m.get("JVM GC Time", 0)
                        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        g["tasks"] += 1
                        self.task_runs[group].append(run)

    def layer(self, groups: list[str]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for g in groups:
            for k, v in self.by_group.get(g, {}).items():
                out[k] += v
        runs = [r for g in groups for r in self.task_runs.get(g, [])]
        # skew: the largest task's share of the layer's task time (1.0 = one
        # task did all the work)
        out["max_task_share"] = max(runs) / sum(runs) if runs and sum(runs) > 0 else 1.0
        return out


def remove_tree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
