"""North-rule evidence in pytest: the same job at N and 4N parallelism
(local[2] vs local[8] — the sandbox stand-in for two cluster sizes)
produces identical results. Each level runs in its own process because a
Spark master is fixed per JVM."""

import json
import subprocess
import sys
from pathlib import Path

# `python -c` puts its cwd first on sys.path: the job scripts import the
# package of the checkout these tests run from
ROOT = Path(__file__).resolve().parents[1]

JOB = r"""
import json, sys
from geobuf_cpp_spark.session import get_spark
from geobuf_cpp_spark.sources.pages import pages_dataframe, generate_admin_polygons
from geobuf_cpp_spark.functions.udfs import extract_encode_features
from geobuf_cpp_spark.operators.pip_join import pip_join
import pyspark.sql.functions as F

cpus = int(sys.argv[1])
spark = get_spark(f"lvl{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
pages = pages_dataframe(spark, 1500, partitions=8)
enc = extract_encode_features(pages)
joined = pip_join(enc.select("url", "feature_idx", "lon", "lat"), generate_admin_polygons(), res=8)
rows = sorted(
    (r["url"], int(r["feature_idx"]), int(r["admin_id"]))
    for r in joined.select("url", "feature_idx", "admin_id").collect()
)
total_bytes = enc.agg(F.sum(F.octet_length("geobuf"))).collect()[0][0]
print("RESULT " + json.dumps({"n": len(rows), "head": rows[:5], "tail": rows[-5:],
                               "bytes": int(total_bytes)}))
spark.stop()
"""


def _run(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", JOB, str(cpus)],
        capture_output=True, text=True, timeout=400, cwd=ROOT,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_same_results_at_n_and_4n():
    a = _run(2)
    b = _run(8)
    assert a == b
    assert a["n"] > 100  # non-trivial join


JOB_SHUFFLE = r"""
import json, sys
from geobuf_cpp_spark.session import get_spark

cpus = int(sys.argv[1])
spark = get_spark(f"shuf{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
from geobuf_cpp_spark.operators.dedup import exact_dedup
from geobuf_cpp_spark.operators.sketches import ams_sketch, count_min_sketch

kept = exact_dedup(docs).count()
cms = sorted((int(r["sketch_row"]), int(r["bucket"]), int(r["cnt"]))
             for r in count_min_sketch(docs).collect())
ams = sorted((int(r["r"]), int(r["counter"])) for r in ams_sketch(docs).collect())
print("RESULT " + json.dumps({"kept": kept, "cms_head": cms[:5],
                               "cms_n": len(cms), "ams": ams}))
spark.stop()
"""


def test_shuffle_operators_same_at_n_and_4n():
    """The dedup + sketch shuffle paths (hash agg, distinct, global
    agg) are parallelism-invariant: identical outputs at local[2] and
    local[8], the same two-cluster-size evidence the pipeline test
    gives the extract->PIP path."""
    out2 = subprocess.run(
        [sys.executable, "-c", JOB_SHUFFLE, "2"],
        capture_output=True, text=True, timeout=400, cwd=ROOT)
    out8 = subprocess.run(
        [sys.executable, "-c", JOB_SHUFFLE, "8"],
        capture_output=True, text=True, timeout=400, cwd=ROOT)
    rs = []
    for out in (out2, out8):
        lines = [l for l in out.stdout.splitlines()
                 if l.startswith("RESULT ")]
        assert lines, out.stderr[-2000:]
        rs.append(json.loads(lines[-1][len("RESULT "):]))
    assert rs[0] == rs[1]
    assert rs[0]["kept"] > 0 and rs[0]["cms_n"] > 100


JOB_SPATIAL = r"""
import json, sys
from geobuf_cpp_spark.session import get_spark
import pyspark.sql.functions as F

cpus = int(sys.argv[1])
spark = get_spark(f"sp{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
events = spark.read.parquet(f"{sf}/events.parquet")
pings = events.selectExpr("event_id", "user_id", "ts",
                          "(event_id * 7919) % 36000 AS ix",
                          "(event_id * 9973) % 17000 AS iy")
docs = spark.read.parquet(f"{sf}/documents.parquet")
orders = spark.read.parquet(f"{sf}/orders.parquet")
pts = orders.selectExpr("o_orderkey AS point_id",
                        "(o_orderkey * 7919) % 36000 AS ix",
                        "(o_orderkey * 9973) % 17000 AS iy")

from geobuf_cpp_spark.operators.colocation import colocation_pairs
from geobuf_cpp_spark.operators.sketches import heavy_hitters
from geobuf_cpp_spark.operators.tiles import adaptive_quadtree

co = sorted((int(r["user_a"]), int(r["user_b"]), int(r["n_contacts"]))
            for r in colocation_pairs(pings, 1000, 7200).collect())
hh = sorted((r["tok"], int(r["n"])) for r in heavy_hitters(docs, 31).collect())
qt = sorted((int(r["z"]), int(r["cx"]), int(r["cy"]), int(r["n_points"]))
            for r in adaptive_quadtree(pts, 64, 8).collect())
print("RESULT " + json.dumps({"co_n": len(co), "co_head": co[:5],
                               "hh": hh[:10], "hh_n": len(hh),
                               "qt_n": len(qt), "qt_head": qt[:5],
                               "qt_sum": sum(x[3] for x in qt)}))
spark.stop()
"""


def test_spatial_and_sketch_round5_ops_same_at_n_and_4n():
    """Session-3 shuffle paths are parallelism-invariant: the space-time
    blocked co-location join, the two-pass Misra-Gries heavy hitters
    (whose PASS-1 candidate summaries are partition-dependent by design
    — the exact recount must erase that), and the quadtree leaf
    decomposition all produce identical results at local[2] and
    local[8]."""
    rs = []
    for cpus in ("2", "8"):
        out = subprocess.run(
            [sys.executable, "-c", JOB_SPATIAL, cpus],
            capture_output=True, text=True, timeout=400, cwd=ROOT)
        lines = [l for l in out.stdout.splitlines()
                 if l.startswith("RESULT ")]
        assert lines, out.stderr[-2000:]
        rs.append(json.loads(lines[-1][len("RESULT "):]))
    assert rs[0] == rs[1]
    assert rs[0]["hh_n"] > 10 and rs[0]["qt_n"] > 10
    assert rs[0]["qt_sum"] == 1500   # leaves partition the 1500 points


JOB_HOST_DEFAULTS = r"""
import json
from geobuf_cpp_spark.session import get_spark

spark = get_spark("host_defaults")
sc = spark.sparkContext
print("RESULT " + json.dumps({
    "master": sc.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "driver_memory": sc.getConf().get("spark.driver.memory"),
    "max_heap": sc._jvm.java.lang.Runtime.getRuntime().maxMemory(),
    "codegen_cache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
}))
spark.stop()
"""


def test_session_defaults_come_from_the_host():
    """With SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY unset, get_spark runs
    one task slot per usable core and gives the driver a quarter of the
    host's RAM (at least 1g, at most 32g) — the rule perfbench applies.
    Spark's cache of compiled generated classes holds the engine's
    working set, ``session.CODEGEN_CACHE_ENTRIES``."""
    import os

    from geobuf_cpp_spark.session import CODEGEN_CACHE_ENTRIES

    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}
    out = subprocess.run(
        [sys.executable, "-c", JOB_HOST_DEFAULTS],
        capture_output=True, text=True, timeout=400, cwd=ROOT, env=env)
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    res = json.loads(lines[-1][len("RESULT "):])

    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    gib = max(1, min(32, int(kib / 2**20 // 4)))
    assert res["master"] == f"local[{cpus}]"
    assert res["shuffle_partitions"] == str(cpus)
    assert res["driver_memory"] == f"{gib}g"
    # the setting reaches the JVM: its heap cap is about that size
    assert 0.8 * gib * 2**30 <= res["max_heap"] <= gib * 2**30
    assert res["codegen_cache"] == str(CODEGEN_CACHE_ENTRIES)


JOB_CODEGEN = r"""
import json, os, shutil, sys, tempfile
sys.path.insert(0, "perfbench")
import __spark_entry__ as entry
from gatesets import GATES
from geobuf_cpp_spark.session import get_spark

spark = get_spark("codegen_cache")
spark.sparkContext.setLogLevel("ERROR")
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
    .METRIC_COMPILATION_TIME()
queries = entry.queries()
counts = []
with tempfile.TemporaryDirectory() as tmp:
    for rnd in range(2):
        d = shutil.copytree(sys.argv[1], os.path.join(tmp, str(rnd)))
        before = compiles.getCount()
        for gate in GATES["gates_sf0.01"]:
            queries[gate](spark, d).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        counts.append(compiles.getCount() - before)
print("RESULT " + json.dumps(counts))
spark.stop()
"""


def test_gate_rounds_reuse_compiled_code():
    """A fresh session runs the 15 ``gates_sf0.01`` gates of perfbench
    twice, each round over its own copy of the tables (cold engine
    memos, new plans). Equal plans generate equal code, so the second
    round finds nearly all of its classes in Spark's codegen cache: it
    compiles at most 5% as many as the first. At Spark's default of 100
    entries the first round evicts its own classes and the second
    compiles about as many again."""
    out = subprocess.run(
        [sys.executable, "-c", JOB_CODEGEN, "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=400, cwd=ROOT)
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    first, second = json.loads(lines[-1][len("RESULT "):])
    assert first > 100, first
    assert second <= 0.05 * first, (first, second)
