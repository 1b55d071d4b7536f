"""Paths, process facts and the Spark session shared by every workload."""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data")
WORK_DIR = os.path.join(BENCH_DIR, ".work")


def seconds_since_start() -> float:
    """Seconds since this process was started. ``starttime`` in /proc counts
    clock ticks since boot, so it is read against the boot-time clock."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def driver_jvm_pid() -> int | None:
    """The java process under this Python driver (spark-submit execs it)."""
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            return pid
        todo.extend(_children(pid))
    return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    total = vm_hwm_mb(os.getpid())
    jvm = driver_jvm_pid()
    if jvm is not None:
        total += vm_hwm_mb(jvm)
    return total


def gc_log(work: str) -> str:
    return os.path.join(work, "gc.log")


_PAUSE = re.compile(r"(\d+)M->(\d+)M\(\d+M\)")


def heap_alloc_mb(spark, work: str) -> float:
    """MB the driver JVM has allocated on its heap since it started: the
    growth of the heap between collections, from its GC log, plus the
    growth since the last collection."""
    with open(gc_log(work)) as f:
        pauses = [(int(a), int(b)) for a, b in _PAUSE.findall(f.read())]
    if not pauses:
        raise RuntimeError("the driver JVM's GC log records no collection")
    alloc, prev = 0, 0
    for before, after in pauses:
        alloc += max(before - prev, 0)
        prev = after
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
    return alloc + max(used - prev, 0)


def heap_after_gc_max_mb(work: str) -> int:
    """The largest heap the driver JVM held right after a collection."""
    with open(gc_log(work)) as f:
        return max(int(b) for _, b in _PAUSE.findall(f.read()))


def prepare_env(work: str) -> None:
    """Route every scratch write into ``work`` and make the checkout
    importable by the driver and by Spark's Python workers, which do not
    see the driver's ``sys.path``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (the spark-submit launcher too): temp files under ``work``
    # and no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, event_log_dir: str | None = None):
    """``local[<cores>]`` with the program's own shuffle-partition default."""
    from dygiepp_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xlog:gc:file={gc_log(work)}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
