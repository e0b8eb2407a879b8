"""Snapshot-versioned parquet tables — Iceberg-style reads without Iceberg.

The north star frames the corpus as an Iceberg table; the library is not
in this container, so this module implements the load-bearing subset of
the table-format contract directly over parquet + JSON manifests:

* **Immutable data files**: every commit writes its rows under a fresh
  ``data/<commit-id>/`` directory — existing files are never rewritten
  or deleted by appends.
* **Manifest-pinned snapshots**: commit N is the manifest file
  ``v{N}.json`` listing every data directory visible at that version.
  A reader resolves ONE manifest and reads exactly those directories —
  concurrent or failed writers can never make it see a torn state.
* **Atomic commit with optimistic concurrency**: the manifest is
  written to a temp name and published with ``os.link`` — an exclusive
  create that FAILS if the version already exists, unlike rename's
  silent replace. Two racing committers therefore serialize: the loser
  sees ``FileExistsError``, re-reads the new head, rebuilds its
  manifest on top, and retries (its data dir was already written and is
  commit-id-unique, so only the tiny JSON step repeats). This is the
  same compare-and-swap discipline Iceberg uses on its catalog pointer.
* **Time travel**: ``read_snapshot(version=K)`` reproduces any
  historical version bit-for-bit, because the data dirs it lists are
  immutable.
* **Additive schema evolution**: an append may add columns; older
  commits read them as NULL.

At cluster scale the manifest stays tiny (one JSON per commit listing
directories, not files) and reads prune to the listed dirs — the scan
itself is ordinary distributed parquet.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version}.json")


def snapshot_versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


def _publish_manifest(table_dir: str, data_rel: str, mode: str) -> int:
    """Compare-and-swap commit loop: build the manifest against the
    current head and publish it under the next version number with an
    exclusive create (``os.link`` fails with EEXIST instead of silently
    replacing, unlike rename). On losing the race, re-read the new head
    and retry — the data dir is already written and never needs to move.
    """
    while True:
        versions = snapshot_versions(table_dir)
        prev = versions[-1] if versions else 0
        dirs = [data_rel]
        if mode == "append" and prev:
            dirs = _read_manifest(table_dir, prev)["data_dirs"] + dirs
        version = prev + 1
        tmp = _manifest_path(table_dir, version) \
            + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump({"version": version, "data_dirs": dirs}, fh)
        try:
            os.link(tmp, _manifest_path(table_dir, version))
        except FileExistsError:
            os.remove(tmp)
            continue  # lost the race: rebuild against the new head
        os.remove(tmp)
        return version


def write_snapshot(df: DataFrame, table_dir: str,
                   mode: str = "append") -> int:
    """Commit ``df`` as a new snapshot; returns the new version number.

    ``mode='append'`` makes the new version see prior data plus ``df``;
    ``mode='overwrite'`` starts the lineage over (old versions stay
    readable — nothing is deleted).

    Concurrent committers are safe: the manifest publish is a CAS loop
    (see ``_publish_manifest``) — both commits land, serialized under
    distinct versions, neither silently lost.
    """
    assert mode in ("append", "overwrite")
    data_rel = os.path.join("data", uuid.uuid4().hex[:12])
    df.write.mode("error").parquet(os.path.join(table_dir, data_rel))
    return _publish_manifest(table_dir, data_rel, mode)


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame:
    """Read the table as of ``version`` (default: latest).

    Commits that agree on columns read in one multi-path scan. When a
    later append introduced a column (ADDITIVE schema evolution), the
    commit dirs read separately and union by name with
    ``allowMissingColumns`` — older commits surface NULL for columns they
    predate, the Iceberg/Delta contract; a plain multi-path scan would
    bind every file to one footer's schema and drop the new column.
    Detection costs one driver-side footer read per commit dir
    (manifest-bounded, never data-bounded). Type CHANGES on a shared
    column are not evolution and still raise (unionByName).
    """
    from functools import reduce

    versions = snapshot_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {table_dir}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"snapshot v{v} not found in {versions}")
    paths = [os.path.join(table_dir, d)
             for d in _read_manifest(table_dir, v)["data_dirs"]]
    parts = [spark.read.parquet(p) for p in paths]
    schemas = {tuple((f.name, f.dataType.simpleString())
                     for f in df.schema.fields) for df in parts}
    if len(schemas) == 1:
        return spark.read.parquet(*paths)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
