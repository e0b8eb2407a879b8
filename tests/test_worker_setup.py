"""Python-worker setup: the stamped zip-directory re-read, the per-process
package zip, and the ``spark-submit --py-files`` deployment path."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]

# Follows pyspark's worker_util.setup_spark_files: a py-file zip joins
# sys.path, its modules import, then importlib.invalidate_caches() runs
# before each task. argv: stamped|stdlib, repo root, scratch dir.
STAMP_CHILD = r"""
import importlib, json, os, sys, zipfile, zipimport

mode, root, tmp = sys.argv[1:4]
archive = os.path.join(tmp, "lib.zip")


def write(mods):
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        for m in mods:
            zf.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\n")


write(["a"])
sys.path.insert(0, archive)
import zpkg.a

sys.path.insert(0, root)
if mode == "stamped":
    from geobuf_cpp_spark import _zipstamp
    _zipstamp.install()
    _zipstamp.install()
    assert zipimport.zipimporter.invalidate_caches is _zipstamp._invalidate_caches
    assert _zipstamp._stdlib_invalidate.__module__ == "zipimport"

reads = []
stdlib_read = zipimport._read_directory


def counting_read(path):
    if path == archive:
        reads.append(path)
    return stdlib_read(path)


zipimport._read_directory = counting_read


def task():
    n = len(reads)
    importlib.invalidate_caches()
    return len(reads) - n


out = {"first": task(), "unchanged": task()}
write(["a", "b"])
out["rewritten"] = task()
import zpkg.b
out["b"] = zpkg.b.NAME
out["after_rewrite"] = task()
os.remove(archive)
out["deleted"] = task()
out["cached"] = archive in zipimport._zip_directory_cache
try:
    import zpkg.c
    out["c"] = "imported"
except ImportError as e:
    out["c"] = type(e).__name__
print(json.dumps(out))
"""


def _stamp_child(mode: str, tmp_path: Path) -> dict:
    d = tmp_path / mode
    d.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", STAMP_CHILD, mode, str(ROOT), str(d)],
        capture_output=True, text=True, timeout=60, cwd=d,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.splitlines()[-1])


def test_stamped_invalidate_rereads_only_changed_zips(tmp_path):
    stdlib = _stamp_child("stdlib", tmp_path)
    stamped = _stamp_child("stamped", tmp_path)
    # the stdlib re-reads the directory once per zipimporter (the archive
    # and its package prefix) on every call
    assert [stdlib[k] for k in ("first", "unchanged", "rewritten",
                                "after_rewrite", "deleted")] == [2, 2, 2, 2, 2]
    # stamped: once per archive until a stamp is recorded, then only
    # when the zip changed
    assert stamped["first"] == 1
    assert stamped["unchanged"] == 0
    assert stamped["rewritten"] == 1 and stamped["b"] == "b"
    assert stamped["after_rewrite"] == 0
    # a deleted archive goes through the stdlib method
    assert stamped["deleted"] == stdlib["deleted"]
    for k in ("b", "cached", "c"):
        assert stamped[k] == stdlib[k]
    assert stamped["cached"] is False and stamped["c"] == "ModuleNotFoundError"


def test_package_import_installs_nothing_without_pyspark_worker():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, zipimport, geobuf_cpp_spark, geobuf_cpp_spark.codec.geobuf;"
         "print(zipimport.zipimporter.invalidate_caches.__module__,"
         " any(m.startswith('pyspark') for m in sys.modules))"],
        capture_output=True, text=True, timeout=60, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["zipimport", "False"]


def test_default_pkg_zip_is_per_process():
    from geobuf_cpp_spark.session import build_pkg_zip

    here = build_pkg_zip()
    out = subprocess.run(
        [sys.executable, "-c",
         "from geobuf_cpp_spark.session import build_pkg_zip; print(build_pkg_zip())"],
        capture_output=True, text=True, timeout=120, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    child = out.stdout.splitlines()[-1]
    assert child != here
    assert os.path.basename(child) == os.path.basename(here)
    assert os.path.isfile(here) and not os.path.exists(child)  # removed at exit


def test_reused_worker_keeps_stamped_invalidate_and_stage_rows(spark):
    import pyarrow as pa

    from geobuf_cpp_spark.codec import geobuf as gb
    from geobuf_cpp_spark.extract.html import extract_geometries
    from geobuf_cpp_spark.functions.udfs import extract_encode_features
    from geobuf_cpp_spark.sources.pages import generate_pages_batch, pages_dataframe

    def probe(batches):
        import os
        import zipimport

        from geobuf_cpp_spark import _zipstamp

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "stamped": [zipimport.zipimporter.invalidate_caches
                        is _zipstamp._invalidate_caches],
        })

    enc = gb.Encoder(max_precision=10**7)
    local = sorted(
        enc.encode({"type": "Feature", "geometry": f["geometry"],
                    "properties": f["properties"]})
        for html in generate_pages_batch(np.arange(0, 2000, dtype=np.int64))["html"]
        for f in extract_geometries(bytes(html).decode("utf-8"))
    )
    assert len(local) == 1633

    ids = spark.range(0, 64, numPartitions=8)
    pids = []
    for _ in range(2):
        rows = ids.mapInArrow(probe, "pid long, stamped boolean").collect()
        assert len(rows) == 8 and all(r.stamped for r in rows)
        pids.append({r.pid for r in rows})
        stage = extract_encode_features(pages_dataframe(spark, 2000, 8))
        assert sorted(bytes(r.geobuf) for r in stage.select("geobuf").collect()) == local
    assert pids[0] & pids[1]  # the second job ran in reused workers


def test_spark_submit_py_files_matches_in_process(spark, tmp_path):
    from pyspark.find_spark_home import _find_spark_home

    from geobuf_cpp_spark.functions.udfs import extract_encode_features
    from geobuf_cpp_spark.operators.pip_join import pip_join
    from geobuf_cpp_spark.session import build_pkg_zip
    from geobuf_cpp_spark.sources.pages import generate_admin_polygons, pages_dataframe

    zip_path = build_pkg_zip(str(tmp_path / "engine.zip"))
    job = shutil.copy(ROOT / "scripts" / "submit_job.py", tmp_path / "submit_job.py")
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path, str(job), "2000"],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable,
             "PYSPARK_DRIVER_PYTHON": sys.executable},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])

    feats = extract_encode_features(pages_dataframe(spark, 2000, 16))
    expected = pip_join(
        feats.select("url", "feature_idx", "lon", "lat", "geobuf"),
        generate_admin_polygons(), res=8,
    ).count()
    assert result["pip_matches"] == expected > 0
