"""Spark session lifetime plus process-tree and host probes read from
``/proc`` (Linux only, like the rest of the benchmark)."""

from __future__ import annotations

import os
import platform
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float]:
    """(ppid, CPU seconds incl. reaped children) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    rest = s[s.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _TICK


def process_tree(root: int) -> dict[int, float]:
    """CPU seconds of ``root`` and every live descendant, by pid."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)], cpu[int(name)] = _stat(int(name))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                pass
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in cpu:
            out[pid] = cpu[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree spent between two ``process_tree`` samples; a
    process that exited in between is covered by its parent's reaped-child
    time."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def python_worker_peak_rss_mb(root: int) -> float:
    """Largest lifetime peak RSS (VmHWM) over the PySpark worker processes
    below ``root``."""
    peak = 0.0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except FileNotFoundError:
            pass
    return peak


def host_sample() -> tuple[float, float]:
    """(host steal seconds summed over CPUs, 1-minute load average)."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _TICK
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return steal, load


def start_spark(root: str, work: str, nproc: int):
    """A ``local[nproc]`` session whose scratch, temp files and worker
    imports all stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join([root, here])
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, its launcher included, keeps its temp
    # files in the checkout and writes no /tmp/hsperfdata_* entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{nproc}]")
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(max(nproc, 8)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "2g")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
             .config("spark.local.dir", os.path.join(work, "local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def context(nproc: int) -> dict:
    import pyspark
    return {"nproc": nproc, "spark": pyspark.__version__,
            "python": platform.python_version()}
