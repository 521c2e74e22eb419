"""Host-derived session conditions and process-tree resource readings.

Cores come from the CPU affinity mask (what ``nproc`` reports) and the
driver heap from ``MemTotal``; neither falls back to a constant. Every
other program default (``SPARK_GRAFT_SHUFFLE``, AQE, broadcast threshold)
is left to ``aave_etl_spark.session.get_spark`` so a change to it shows up
as a measured difference.
"""

from __future__ import annotations

import os
import platform

#: share of physical RAM given to the driver heap; Spark's local mode runs
#: every executor thread inside that one JVM
HEAP_SHARE = 0.25


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    return f"{max(1024, int(mem_total_mb() * HEAP_SHARE))}m"


def session_conf(work_dir: str, event_log_dir: str | None) -> dict[str, str]:
    """Spark settings the benchmark owns: resources from the host, and every
    file the JVM writes kept under ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": driver_heap(),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        # no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
    return conf


def conditions(spark) -> dict:
    """What every result file records about the run's conditions."""
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "driver_heap": sc.getConf().get("spark.driver.memory"),
        "host_cpus": host_cpus(),
        "host_mem_mb": mem_total_mb(),
        "spark_version": spark.version,
        "java_version": jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants: the
    JVM and the Python workers it forks."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s() -> float:
    """User+system CPU of this process tree, including reaped children, so a
    difference of two readings counts workers that exited in between."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
