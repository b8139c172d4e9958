"""Where the benchmark reads and writes, and the Spark session it runs on.

Everything a run writes goes under ``.perfbench/`` at the repository root:
Spark's scratch space, temp files, sinks, the oracle cache and traces.
"""

from __future__ import annotations

import os
import resource
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: The driver's sf0.01 fixture tables, copied so the benchmark reads only
#: files of its own checkout.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORK_DIR = os.path.join(ROOT, ".perfbench")

#: Memory for the driver JVM; the sf0.01 tables need far less.
DRIVER_MEMORY = "3g"


def missing_inputs() -> list[str]:
    """Files the benchmark needs that this checkout lacks."""
    need = [os.path.join(ROOT, "sales_data_pipeline_gcp_spark", "__init__.py"),
            os.path.join(ROOT, "tests", "parity.py"),
            os.path.join(DATA_DIR, "lineitem.parquet")]
    return [p for p in need if not os.path.exists(p)]


def configure(run_dir: str) -> None:
    """Point temp files, Spark scratch space and Python workers' import
    path into the checkout. Must run before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python UDF workers import the package by name
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (os.path.join(ROOT, "tests"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from sales_data_pipeline_gcp_spark.session import get_spark

    return get_spark("perfbench", cpus=cores(), driver_memory=DRIVER_MEMORY,
                     extra={"spark.ui.showConsoleProgress": "false"})


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while being read
            children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.add(child)
            todo.append(child)
    return found


def stop_session(spark, timeout: float = 60) -> None:
    """Stop Spark, end the JVM pyspark launched (it exits when its stdin
    pipe closes), and wait until it and its Python workers have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = _descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Running, neither gone nor a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024
