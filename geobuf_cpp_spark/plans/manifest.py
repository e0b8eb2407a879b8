"""Checkpoint manifests: per-stage lineage + metrics, idempotent resume.

Mandated by BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics". Design:

* Every stage writes its output as parquet under ``<root>/<stage>/data``
  plus a ``manifest.json`` carrying: stage name, input fingerprint (a hash
  of upstream manifests + stage params), per-partition row counts, total
  rows/bytes, and wall time.
* ``run_stage`` first checks the manifest: if one exists, is COMPLETE, and
  its input fingerprint matches, the stage is skipped and its output is
  simply read back — so a killed job re-runs only unfinished stages, and
  re-running a finished pipeline is a no-op.
* Parquet writes go through a ``_tmp`` directory renamed into place after
  the manifest is durable, so a crash mid-write never yields a readable
  but incomplete stage (single-writer rename semantics; on object stores
  Spark's output committer provides the same guarantee).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "manifest.json")


def _data_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "data")


def read_manifest(root: str, stage: str) -> dict | None:
    path = _manifest_path(root, stage)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def stage_is_complete(root: str, stage: str, input_fp: str) -> bool:
    m = read_manifest(root, stage)
    return bool(m and m.get("status") == "COMPLETE" and m.get("input_fp") == input_fp)


def run_stage(spark: SparkSession, root: str, stage: str, input_fp: str,
              build: "callable") -> DataFrame:
    """Run (or resume) one checkpointed stage.

    ``build()`` produces the stage DataFrame lazily — it is only invoked on
    a cache miss. Returns the stage output read back from parquet either way
    (so downstream stages always consume the durable artifact, making the
    whole pipeline restartable at any stage boundary).
    """
    data = _data_path(root, stage)
    if stage_is_complete(root, stage, input_fp):
        return spark.read.parquet(data)

    t0 = time.time()
    df = build()
    tmp = data + "_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)

    out = spark.read.parquet(tmp)
    per_partition = []
    for r in (
        out.groupBy(F.input_file_name().alias("file"))
        .agg(F.count("*").alias("rows"))
        .collect()
    ):
        local = r["file"]
        if local.startswith("file:"):
            local = local[len("file:"):]
        rel = os.path.relpath(local, os.path.abspath(tmp))
        per_partition.append(
            {
                "file": rel,
                "rows": r["rows"],
                "bytes": os.path.getsize(local) if os.path.exists(local) else None,
            }
        )

    # Invalidate the previous manifest BEFORE swapping data into place: a
    # crash between the swap and the new manifest write must never leave an
    # old-fingerprint COMPLETE manifest pointing at new data (which a later
    # run with the old fingerprint would silently "resume").
    mpath = _manifest_path(root, stage)
    if os.path.exists(mpath):
        os.remove(mpath)
    shutil.rmtree(data, ignore_errors=True)
    os.replace(tmp, data)

    manifest = {
        "stage": stage,
        "status": "COMPLETE",
        "input_fp": input_fp,
        "rows": int(sum(p["rows"] for p in per_partition)),
        "bytes": int(sum(p["bytes"] or 0 for p in per_partition)),
        "partitions": per_partition,
        "wall_sec": round(time.time() - t0, 3),
        "written_at": time.time(),
    }
    # durable manifest write: own tmp file + atomic rename, so a reader can
    # never observe a torn/partial manifest
    mtmp = mpath + ".tmp"
    with open(mtmp, "w") as f:
        json.dump(manifest, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(mtmp, mpath)
    return spark.read.parquet(data)
