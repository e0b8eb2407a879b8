"""SparkSession factory with the engine's scale-oriented defaults.

Defaults target correctness-at-scale semantics that also hold on a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow transfer for every pandas UDF boundary, and
shuffle partitioning sized by the caller (tests/bench pass the local core
count; a real cluster submit overrides via spark-submit --conf).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import weakref
import zipfile

from pyspark.sql import DataFrame, SparkSession

# All per-session engine state: session (weakly, so a stopped session's
# entries go with it) -> sf_dir (None: built from no table directory) ->
# (the directory's stamp, {key: value}); at most _MEMO_CAP entries per
# directory, the least recently used dropped first.
_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MEMO_CAP = 512

# Entries of Spark's LRU cache of Janino-compiled generated classes
# (`spark.sql.codegen.cache.maxEntries`, a static conf, default 100).
# Each gate call builds a fresh plan, but equal plans generate equal
# code, so a repeated call finds its classes in the cache while the
# cache holds the working set. One round of the 15 `gates_sf0.01` gates
# generates about 179 classes and one pass of all 183 gates about 1,870
# distinct ones, so at the default every round evicts and recompiles.
# Measured on 4 cores (local[4], 15 GiB host) at sf0.01 in one session,
# compiles counted by `CodegenMetrics.METRIC_COMPILATION_TIME`:
#
#   gates  cache entries  compiles per round    time      metaspace
#   15     100 (default)  173, every round      5.45 s *
#   15     larger         2-6 after the first   4.12 s *
#   183    100 (default)  about 2,520 each      71.6 s ** 190 MiB
#   183    unbounded      1,815, then 52        52.1 s ** 205 MiB
#
#   * sum of each gate's fastest call; ** the second round
#
# A class averages about 3 KB of bytecode: holding the whole working set
# costs about 15 MiB of metaspace. The cap is the next power of two
# above twice that set.
CODEGEN_CACHE_ENTRIES = 4096


def _stamp(sf_dir: str | None):
    """The modification times of the table entries under ``sf_dir``: an
    overwrite recreates a table directory, an append adds files to it.
    None for a path that is not a readable local directory (``hdfs:``,
    ``s3a:``, ``file:`` URIs), whose tables then count as immutable for
    the session."""
    if sf_dir is None:
        return None
    try:
        with os.scandir(sf_dir) as entries:
            return tuple(sorted((e.name, e.stat().st_mtime_ns) for e in entries))
    except OSError:
        return None


def _release(values) -> None:
    for v in values:
        if isinstance(v, DataFrame) and v.is_cached:
            v.unpersist()


def session_memo(spark: SparkSession, key, build, sf_dir: str | None = None):
    """``build()`` once per (session, ``sf_dir``, ``key``): the table
    readers, the subresults sibling gates share, the ``spread`` hints and
    the package-shipped flag. An entry built from tables must pass their
    ``sf_dir``: a change of its stamp (any table there rewritten) drops
    every entry of that directory and unpersists the cached frames."""
    dirs = _MEMO.setdefault(spark, {})
    stamp = _stamp(sf_dir)
    held = dirs.get(sf_dir)
    if held is None or held[0] != stamp:
        if held is not None:
            _release(held[1].values())
        held = dirs[sf_dir] = (stamp, {})
    entries = held[1]
    if key in entries:
        entries[key] = value = entries.pop(key)
        return value
    if len(entries) >= _MEMO_CAP:
        _release([entries.pop(next(iter(entries)))])
    entries[key] = value = build()
    return value


@functools.cache
def process_tmpdir() -> str:
    """A directory of this process's own under ``tempfile.gettempdir()``,
    removed at exit: the package zip and every file a gate writes."""
    path = tempfile.mkdtemp(prefix="geobuf_cpp_spark_")
    atexit.register(shutil.rmtree, path, True)
    return path


def build_pkg_zip(zip_path: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The archive roots at the package name, so ``import geobuf_cpp_spark``
    resolves from the zip alone — no repo checkout needed on executors
    (or, for a real submit, on the driver either). The default path is
    per process: executors fetch the shipped path when their first task
    runs, and Spark fails every Python task if another process has
    rewritten that file in between.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_path = zip_path or os.path.join(
        process_tmpdir(), "geobuf_cpp_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executors (the --py-files path).

    Python workers don't share the driver's sys.path, so any session that
    runs the engine's pandas UDFs needs the package shipped — on a real
    cluster via ``spark-submit --py-files engine.zip``, programmatically via
    ``addPyFile``. Idempotent per session.
    """
    session_memo(spark, "package",
                 lambda: spark.sparkContext.addPyFile(build_pkg_zip()))


def _driver_memory() -> str:
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(32, int(ram_gib // 4)))}g"


def get_spark(
    app_name: str = "geobuf_cpp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # overflow raises (ARITHMETIC_OVERFLOW, CAST_OVERFLOW) instead of
        # wrapping; the 4.x default, pinned so every plan runs one way
        .config("spark.sql.ansi.enabled", "true")
        # static and JVM-wide: only a session that starts the JVM sets it
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # local[n] runs EVERY executor thread inside the driver JVM, so
        # the driver heap is the whole cluster's execution+storage
        # memory: 8g across 32 concurrent tasks (~250MB each) showed
        # late-suite GC degradation (untouched queries 1.5-2.5x slower
        # at suite position >100; a 32g run restored them). Default: a
        # quarter of the host's RAM, at least 1g and at most 32g;
        # overridable per deployment — a real cluster submit sizes
        # executors instead (guide §5).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _driver_memory()))
        .config("spark.ui.enabled", "false")
        # progress bars flood stdout/stderr and have corrupted the driver's
        # one-line bench JSON capture (round 3: BENCH parsed=null) — off.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
