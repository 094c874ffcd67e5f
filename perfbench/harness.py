"""Process-level plumbing shared by the workloads: environment, the
Spark session, timing statistics and memory."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

#: Process start, as close to interpreter start as the harness sees it.
PROCESS_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")

#: Program-side preparations per run; ``setup_s`` reports their median.
SETUP_REPS = 3

#: CPUs this process may run on, as ``nproc`` counts them.
NPROC = len(os.sched_getaffinity(0))


def configure_environment(run_dir: str) -> None:
    """Pin every knob the run depends on before Spark starts.

    Python workers inherit ``PYTHONPATH`` (the ``mapInPandas`` decode
    imports the package inside them), and every temp file Spark, the
    JVM and Python write goes under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher JVM spark-submit starts writes no hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def start_spark(run_dir: str):
    """A session from the engine's ``get_spark`` on ``local[nproc]``."""
    from substreams_sink_clickhouse_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": tmp,
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_run_dir(workload: str, seed: int) -> str:
    """A fresh directory for one run's files under ``perfbench/out``."""
    path = os.path.join(OUT_DIR, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tail(values: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile with at least
    ten samples beyond it; with ten or fewer samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    k = n - 11  # 0-based rank with exactly ten samples above it
    return xs[k], round(100.0 * (k + 1) / n, 2)


def summary(values: list[float]) -> dict:
    """Median, tail and sample count of a latency list."""
    t, pct = tail(values)
    return {"p50": statistics.median(values), "tail": t, "tail_pct": pct, "n": len(values)}


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return py + jvm


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def finite(x: float) -> float:
    """``x``, or an error if it is not a finite number."""
    if not math.isfinite(x):
        raise ValueError(f"non-finite metric value {x}")
    return x
