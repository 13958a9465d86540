"""Spark from the outside: session, executed-plan metrics, job counts,
CPU pinning of the whole process tree, peak memory and shutdown.

Nothing here reaches into the engine: plan metrics are read from the same
executed-plan object that ran, and jobs/tasks come from ``statusTracker``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

# SQL metrics summed over every node of an executed plan, by metric name.
# Spark reports these timings in milliseconds.
PLAN_METRICS = ("scanTime", "pythonBootTime", "pythonInitTime",
                "pythonTotalTime", "pythonDataSent", "pythonDataReceived",
                "pythonNumRowsReceived", "shuffleBytesWritten")


def driver_memory() -> str:
    """A quarter of physical memory, 1-4 GiB: 3g on a 15 GiB host. Local
    mode runs the executors inside this heap; the Python workers sit
    outside it."""
    with open("/proc/meminfo") as f:
        kib = int(f.readline().split()[1])
    return f"{max(1, min(4, kib // (4 << 20)))}g"


def start_session(cores: int, root: str, work: str):
    """A ``local[cores]`` session that keeps every file it writes under
    ``work`` and lets its Python workers import the engine from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # HotSpot writes its perf-counter file under /tmp whatever java.io.tmpdir
    # says; both the launcher JVM and the driver JVM turn it off.
    no_perf = "-XX:-UsePerfData"
    # The serial collector sizes the heap from live data alone. G1 (the
    # default) also resizes it from measured pause times, so the same run
    # committed anywhere from 200 to 530 MB of heap and peak_rss_mb spread
    # by a fifth; warm-pass times were no worse with the serial collector.
    gc = "-XX:+UseSerialGC"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_perf
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        # Loopback only: the run needs no network interface.
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions",
                f"{no_perf} {gc} -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it started
    have exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    tree = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.proc.stdin.close()      # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in tree:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _walk(plan, out: dict) -> None:
    name = plan.nodeName()
    if name.startswith("AdaptiveSparkPlan"):     # AQE: walk the final plan
        _walk(plan.executedPlan(), out)
        return
    if name.endswith("QueryStage"):
        _walk(plan.plan(), out)
        return
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = kv._1()
        if key in PLAN_METRICS:
            out[key] = out.get(key, 0) + kv._2().value()
    for seq in (plan.children(), plan.subqueries()):
        ch = seq.iterator()
        while ch.hasNext():
            _walk(ch.next(), out)


def plan_metrics(df) -> dict:
    """SQL metrics of the executed plan behind ``df``, summed by name.

    Call after an action that runs the DataFrame's own plan object
    (``collect``, ``toPandas``): that object then holds the metrics, while
    ``count()`` or a write would run a new plan and leave it at zero."""
    metrics = {k: 0 for k in PLAN_METRICS}
    _walk(df._jdf.queryExecution().executedPlan(), metrics)
    return metrics


class JobCounter:
    """Counts the Spark jobs and completed tasks of each labelled step, via
    job groups and ``statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def begin(self) -> str:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, group)
        return group

    def count(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks


# -- process tree ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    """Parent pid → live child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def children_of(pid: int) -> list[int]:
    """The live direct children of ``pid``."""
    return _children().get(pid, [])


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children = _children()
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def jvms_alive() -> int:
    """Java processes running on the host (a timed run wants none but its
    own)."""
    n = 0
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/comm") as f:
                n += f.read().strip() == "java"
        except OSError:
            continue
    return n


def pin_tree(root: int, cpus: set) -> None:
    """Set the CPU affinity of every thread of ``root`` and its descendants
    (the JVM, the Python worker daemon and its workers)."""
    for pid in [root] + descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(slots: int) -> float:
    """Peak resident set (VmHWM) of the JVM, of its direct children (the
    Python worker daemon) and of the ``slots`` largest Python workers below
    them, in MB: at most one worker per task slot runs at a time, and how
    many idle spares the daemon has forked varies from run to run. Read
    before the session stops; the kernel keeps each process's peak, so no
    sampling is needed."""
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc.pid
    daemons = set(children_of(jvm))
    workers = sorted((_hwm_kib(p) for p in descendants(jvm)
                      if p not in daemons), reverse=True)
    total_kib = (_hwm_kib(jvm) + sum(_hwm_kib(p) for p in daemons)
                 + sum(workers[:slots]))
    return total_kib / 1024
