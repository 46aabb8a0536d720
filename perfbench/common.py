"""Shared pieces of the benchmark: the run environment, process-tree
resource accounting, sample statistics and the result line."""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    """CPUs this process may use (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Workspace:
    """A fresh directory inside the checkout for every file the run writes
    (inputs, warehouses, Spark scratch, JVM temp); removed on close."""

    def __init__(self, workload: str) -> None:
        self.path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def start_spark(ws: Workspace, event_log_dir: str | None = None):
    """Build the session through the program's own factory, on
    local[nproc], with all scratch space inside the workspace. The event
    log (traced runs only) is switched on through SPARK_GRAFT_EXTRA_CONFS."""
    cpus = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = ws.sub("spark-local")
    os.environ["TMPDIR"] = ws.tmp
    confs = [
        f"spark.sql.warehouse.dir={ws.sub('spark-warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={ws.tmp}",
        "spark.ui.showConsoleProgress=false",
        # the status store keeps every stage of a run, for StageCounters
        "spark.ui.retainedStages=100000",
        "spark.ui.retainedJobs=100000",
    ]
    if event_log_dir:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(confs)
    from cdc_poc_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait for its JVM and every process the JVM
    started (Python workers) to exit, killing any that outlive 30 s."""
    from pyspark import SparkContext

    started = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while (f := _stat_fields(pid)) and f[0] != "Z":  # alive, not yet reaped
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


# -- process-tree accounting -------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids() -> list[int]:
    """This process and every live descendant (the JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class TreeMeter:
    """Process-tree CPU and the share of machine CPU used outside the tree
    (the contention covariate, computed as bench.py does). Exited children
    count through their parents' cumulative child time."""

    def __init__(self) -> None:
        self.hz = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def sample() -> tuple[int, int]:
        """(machine busy jiffies, tree jiffies)."""
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        busy = sum(v[:8]) - v[3] - v[4]
        tree = 0
        for pid in tree_pids():
            f = _stat_fields(pid)
            if f:  # utime, stime, cutime, cstime
                tree += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return busy, tree

    def cpu_s(self, a: tuple[int, int], b: tuple[int, int]) -> float:
        return max(b[1] - a[1], 0) / self.hz

    @staticmethod
    def external_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
        """Machine busy CPU outside the tree (other processes, steal, irq)
        as a share of all machine busy CPU between two samples."""
        d_busy = max(b[0] - a[0], 1)
        return min(max(d_busy - (b[1] - a[1]), 0) / d_busy, 1.0)

    @staticmethod
    def peak_rss_mb() -> float:
        """Sum over the live tree of each process's peak resident set."""
        total_kb = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024


class StageCounters:
    """Totals over the Spark stages the driver's status store holds: task
    (executor) CPU, shuffle bytes written and bytes scanned. No event log
    needed; differences between two calls cover the stages in between."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc, self._jvm = sc, sc._jvm
        self._store = sc._jsc.sc().statusStore()

    def totals(self) -> dict[str, float]:
        jvm = self._jvm
        seq = self._store.stageList(jvm.java.util.ArrayList(), False, False,
                                    self._sc._gateway.new_array(jvm.double, 0),
                                    jvm.java.util.ArrayList())
        out = {"task_cpu_s": 0.0, "shuffle_bytes": 0.0, "scanned_bytes": 0.0}
        for s in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["scanned_bytes"] += s.inputBytes()
        return out

    @staticmethod
    def diff(a: dict, b: dict) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


def live_heap_mb(spark) -> float:
    """JVM heap in use after full collections: what the program keeps alive
    (caches, plans, broadcast blocks). Python's collection first drops the
    JVM objects only unreachable Python proxies still pinned; the pause
    between the JVM collections lets Spark's cleaner release what the first
    one made unreachable."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


# -- statistics --------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    """90th percentile, linear interpolation between order statistics."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = 0.9 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the result as the last line of standard output."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
