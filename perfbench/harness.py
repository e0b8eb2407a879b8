"""Shared plumbing for the benchmark: host settings, Spark sessions,
statistics, process-tree memory sampling and the run record.

Everything a run writes lands under ``<checkout>/.perfbench/``: the Spark
local dirs, the JVM and Python temp dirs, the event logs of traced runs and
the full per-run records.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import resource
import subprocess
import sys
import threading
import time
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(ROOT, ".perfbench")
RECORDS_DIR = os.path.join(OUT_DIR, "records")

now = time.perf_counter


# ---------------------------------------------------------------------------
# host settings
# ---------------------------------------------------------------------------


def host_info() -> dict:
    """Cores, RAM and the Spark settings derived from them."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    ram_gib = kib / 2**20
    # local[n] runs every task in the driver JVM: give it a quarter of the
    # host, never more than the old 32g default
    driver_gib = max(1, min(32, int(ram_gib // 4)))
    return {
        "nproc": nproc,
        "ram_gib": round(ram_gib, 2),
        "spark_cpus": nproc,
        "spark_driver_memory": f"{driver_gib}g",
    }


def prepare_env(work: str, host: dict) -> None:
    """Point every temp and scratch location of this process tree into
    ``work`` and hand the host settings to ``session.get_spark``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM of the run (the spark-submit launcher and the driver) keeps
    # its temp files in ``work`` and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(host["spark_cpus"])
    os.environ["SPARK_DRIVER_MEMORY"] = host["spark_driver_memory"]
    import tempfile

    tempfile.tempdir = tmp


def versions() -> dict:
    out = {"python": platform.python_version()}
    for mod in ("pyspark", "pyarrow", "numpy", "pandas", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = None
    return out


def _digest(paths: list[str]) -> str:
    digest = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as fh:
            digest.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return digest.hexdigest()[:16]


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        out += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    return out


def source_revision() -> dict:
    """The git commit when there is one (a benchmark checkout need not be a
    git repository), and digests of the engine's and the benchmark's
    sources, which say whether two records are comparable."""
    commit = None
    try:
        res = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
        if res.returncode == 0:
            commit = res.stdout.strip()
    except OSError:
        pass
    engine = [os.path.join(ROOT, "__spark_entry__.py")]
    engine += _py_files(os.path.join(ROOT, "geobuf_cpp_spark"))
    return {"commit": commit, "source_sha256": _digest(engine),
            "bench_sha256": _digest(_py_files(BENCH_DIR))}


# ---------------------------------------------------------------------------
# Spark sessions
# ---------------------------------------------------------------------------


def start_spark(app: str, work: str, eventlog_dir: str | None = None):
    """A fresh ``local[nproc]`` session through ``session.get_spark``.

    ``eventlog_dir`` turns on the uncompressed Spark event log (traced runs).
    """
    from geobuf_cpp_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            # one plain file per application (Spark 4 rolls logs by default)
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobGroups:
    """Tags Spark jobs with a group per operation phase (traced runs only);
    untraced runs leave the jobs untagged."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext if enabled else None

    def set(self, op: str, phase: str) -> None:
        if self.sc is not None:
            group = f"{op}|{phase}"
            self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, op: str, phase: str) -> int:
        if self.sc is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(f"{op}|{phase}"))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = (len(s) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50)


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values) -> dict:
    """Median, quartiles, p90 and the sample count of a list of timings."""
    return {
        "n": len(values),
        "p25": percentile(values, 25),
        "p50": percentile(values, 50),
        "p75": percentile(values, 75),
        "p90": percentile(values, 90),
        "max": max(values),
    }


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

_PAGE = resource.getpagesize()


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the driver
    Python, the gateway JVM and the Python workers it forks)."""
    children = defaultdict(list)
    rss = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21])
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total * _PAGE


class PeakRss:
    """Samples the process tree's resident memory on a thread; ``peak_mib``
    is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mib(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# the run record
# ---------------------------------------------------------------------------


def write_record(record: dict) -> str:
    os.makedirs(RECORDS_DIR, exist_ok=True)
    name = "{workload}_seed{seed}_trace{trace}_{stamp}_{pid}.json".format(
        workload=record["workload"], seed=record["seed"], trace=record["trace"],
        stamp=time.strftime("%Y%m%dT%H%M%S"), pid=os.getpid(),
    )
    path = os.path.join(RECORDS_DIR, name)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=float)
        fh.write("\n")
    return path


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
