"""The Spark side of the harness: a session pinned to this host, the
engine's counters read from outside, and an orderly shutdown.

Everything the benchmark writes (sinks, Spark's local dirs, temp
files) lives under one work directory inside the checkout, so sink
I/O and shuffle spill share one filesystem."""

from __future__ import annotations

import os
import platform
import subprocess
import time

CORES = os.cpu_count() or 1
# the library default (16g, pinned with -Xms and AlwaysPreTouch) aborts
# the JVM on a 15 GB host; 2g holds every workload here with room to spare
DRIVER_MEM = "2g"

EXECUTOR_COUNTERS = (
    "totalShuffleRead", "totalShuffleWrite", "totalInputBytes",
    "totalGCTime", "completedTasks", "failedTasks",
)
# summed task run time; the executors' own totalDuration is wall time
# with any task active, not a sum over concurrent tasks
COUNTERS = EXECUTOR_COUNTERS + ("taskRunTime",)


def pin_environment(work_dir: str) -> None:
    """Point every temp/spill location at ``work_dir`` and size the
    heap. Must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # applies to the launcher JVM as well; no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark(work_dir: str):
    from beehive_data_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # write executor totals to the status store at every task
            # end, so counter deltas read right after a job are complete
            "spark.ui.liveUpdate.period": "0ms",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def executor_totals(spark, stages: bool = True) -> dict[str, int]:
    """Cumulative task counters summed over the executors and, unless
    ``stages`` is False (the stage walk costs one py4j round trip per
    retained stage), the stages; read from Spark's status store (works
    with the UI disabled) once the listener bus has delivered every
    event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    lst = store.executorList(True)
    for i in range(lst.size()):
        e = lst.apply(i)
        for k in EXECUTOR_COUNTERS:
            out[k] += int(getattr(e, k)())
    if stages:
        no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
        lst = store.stageList(None, False, False, no_quantiles, None)
        for i in range(lst.size()):
            out["taskRunTime"] += int(lst.apply(i).executorRunTime())
    return out


def counter_delta(before: dict, after: dict) -> dict[str, int]:
    return {k: after[k] - before[k] for k in COUNTERS}


def spark_layer_metrics(delta: dict, wall_s: float, events: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics from a counter delta over a
    measured region of ``wall_s`` seconds that applied ``events``
    input records."""
    ev = max(1, events)
    return {
        "spark.shuffle_write_bytes_per_event": delta["totalShuffleWrite"] / ev,
        "spark.input_bytes_per_event": delta["totalInputBytes"] / ev,
        "spark.task_busy_ratio": delta["taskRunTime"] / 1000.0 / (wall_s * CORES),
        "spark.gc_s": delta["totalGCTime"] / 1000.0,
        "spark.failed_tasks": float(delta["failedTasks"]),
    }


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            tasks += st.numCompletedTasks if st else 0
    return len(jobs), tasks


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the hypervisor ran
    someone else while this host's CPUs had work."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def filesystem_of(path: str) -> str:
    """Mount point and type of the filesystem holding ``path``."""
    path = os.path.realpath(path)
    best = ("?", "?")
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt, fstype = parts[1], parts[2]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                    best = (mnt, fstype)
    except OSError:
        pass
    return f"{best[1]} at {best[0]}"


def describe(spark, work_dir: str) -> dict:
    import pyarrow
    import pyspark

    jvm = spark._jvm
    return {
        "master": spark.sparkContext.master,
        "cores": CORES,
        "heap": DRIVER_MEM,
        "heap_max_bytes": int(jvm.java.lang.Runtime.getRuntime().maxMemory()),
        "spark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "work_filesystem": filesystem_of(work_dir),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
