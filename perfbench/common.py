"""Shared helpers: percentiles, sizing of the Spark session, process
memory and on-disk sizes. Importing this module starts nothing."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time

_T0 = time.perf_counter()

# a tail percentile is reported only when at least this many samples
# lie beyond it, so one slow sample cannot decide it
MIN_BEYOND = 10


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def supports_percentile(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` above the
    ``p``-th percentile: p75 needs 40 samples, p90 needs 100."""
    return n * (1 - p / 100) >= MIN_BEYOND - 1e-9


def percentile(xs, p: float) -> float | None:
    """Linear-interpolated ``p``-th percentile, or None when the sample
    is too small for the tail rule above."""
    if not xs or not supports_percentile(len(xs), p):
        return None
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def file_sizes(root: str) -> dict[str, int]:
    """path -> size for every file under ``root`` (empty when absent)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                pass
    return out


# the engine's per-table index directories, which hold parquet too
INDEX_DIRS = frozenset({"_bloom", "_sketch", "_text", "_ann", "_retained"})


def is_data_file(path: str, root: str) -> bool:
    """A table data file: parquet, not hidden, not under an index dir
    (bucketed data lives under ``_buckets/`` and counts)."""
    parts = os.path.relpath(path, root).split(os.sep)
    return (
        parts[-1].endswith(".parquet")
        and parts[0] not in INDEX_DIRS
        and not any(p.startswith(".") for p in parts)
    )


def git_commit() -> str:
    """HEAD of the repository in the working directory; "unknown" for a
    plain source tree (never the commit of an enclosing repository)."""
    if not os.path.exists(".git"):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def pin_environment(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` and size the session for this host. Must run before pyspark
    starts its JVM."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM pyspark launches: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())


def start_spark(work: str, driver_memory: str):
    """The engine's own session factory at ``local[nproc]`` with a
    driver heap that fits the host and every scratch dir under ``work``."""
    os.environ["SPARK_DRIVER_MEM"] = driver_memory
    from kafka_connect_bigquery_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": host_cores(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "commit": git_commit(),
        "master": spark.sparkContext.master,
    }
