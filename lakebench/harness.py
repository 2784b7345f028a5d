"""Process plumbing shared by the workloads: pinned Spark session,
private scratch directories, peak-RSS probes and latency statistics."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # checkout root: the package lives here
WORK_ROOT = ROOT / ".lakebench"  # everything a run writes; removed per run
DRIVER_MEM = "2g"  # well under any host this benchmark targets


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path) -> dict[str, str]:
    """Session settings that must be in the environment before the
    package is imported (``session.DEFAULT_CPUS`` reads it at import)."""
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # temp files of Python and of both JVMs (launcher, driver) stay in
        # the checkout, and no /tmp/hsperfdata entry is written
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "TZ": "UTC",
    }
    os.environ.update(settings)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    time.tzset()
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        Path(settings[key]).mkdir(parents=True, exist_ok=True)
    return settings


def session_conf(work: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _jvm_process() -> subprocess.Popen | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Driver JVM plus Python high-water RSS, in MiB."""
    kb = _vm_hwm_kb("self")
    proc = _jvm_process()
    if proc is not None and proc.poll() is None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def close_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited: the JVM
    quits when its stdin closes."""
    from pyspark import SparkContext

    proc = _jvm_process()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def remove_work_dir(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)


def make_work_dir(tag: str) -> Path:
    work = WORK_ROOT / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    return work


# -- statistics ------------------------------------------------------------------


def p50(samples: list[float]) -> float:
    return statistics.median(samples)


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """``(p, value)`` for the highest whole percentile p >= 50 that has
    at least ten samples above its nearest-rank position, or None when
    there are fewer than twenty samples."""
    n = len(samples)
    if n < 20:
        return None
    p = (100 * (n - 10)) // n
    rank = math.ceil(p * n / 100)
    return p, sorted(samples)[rank - 1]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress note on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out
