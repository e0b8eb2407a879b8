"""Corpus readers: Iceberg-first with parquet fallback.

BASELINE.json input_hint names an Iceberg table of pages; this container
carries no Iceberg runtime jars, so the reader negotiates: explicit
``fmt="iceberg"`` errors loudly if the catalog is absent, ``fmt="auto"``
falls back to parquet (same schema contract either way). On a real cluster
the Iceberg path gives snapshot isolation + partition pruning on
(warc_ts, lang); the parquet path is layout-compatible.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# reader-plan memo: spark.read.parquet(path) pays a driver-side file
# listing + footer schema read EVERY call (~96 ms/table here; on object
# stores it is worse). Memoizing the returned DataFrame caches ONLY the
# lazy plan — every action still scans the parquet from disk — which is
# the path-based twin of the catalog listing cache the guide (§6)
# recommends via spark.sql.hive.filesourcePartitionFileCacheSize.
# Keyed weakly by session so a stopped session evicts its entries; the
# benchmark tables are immutable inputs, so the cached listing cannot
# go stale (writers in this engine use their own output dirs).
_TABLE_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def table_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized lazy reader for ``{sf_dir}/{name}.parquet``."""
    per_session = _TABLE_MEMO.setdefault(spark, {})
    df = per_session.get((sf_dir, name))
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        per_session[(sf_dir, name)] = df
    return df


def read_geobuf_dir(spark: SparkSession, location: str,
                    pattern: str = "*.pbf") -> DataFrame:
    """Read a directory of raw geobuf files into a feature DataFrame.

    Spark's ``binaryFile`` source streams each blob (one file = one geobuf
    document, the reference CLI's output unit — pybind11_geobuf
    __main__.py json2geobuf); an Arrow stage decodes documents and
    explodes their features into rows (path, feature_idx, geometry
    wire-struct, properties map). Scan parallelism = file count; decode is
    shuffle-free.
    """
    from typing import Iterator

    import pandas as pd

    from ..codec import geobuf as gb
    from ..functions.geometry import GEOM_STRUCT
    from ..functions.udfs import _feature_row

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(location)
        .select("path", "content")
    )
    columns = ["path", "feature_idx", "kind", "geom", "properties"]
    schema = (
        f"path string, feature_idx int, kind string, geom {GEOM_STRUCT}, "
        "properties map<string,string>"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                doc = gb.decode(bytes(blob))
                if doc.get("type") == "FeatureCollection":
                    feats = doc["features"]
                elif doc.get("type") == "Feature":
                    feats = [doc]
                elif doc:
                    feats = [{"type": "Feature", "geometry": doc}]
                else:
                    feats = []
                for idx, f in enumerate(feats):
                    if f.get("geometry"):
                        rows.append({**_feature_row(f, customs=False), "path": path,
                                     "feature_idx": idx,
                                     "kind": f["geometry"]["type"]})
            yield pd.DataFrame(rows, columns=columns)

    return raw.mapInPandas(decode, schema)


def read_pages(spark: SparkSession, location: str, fmt: str = "auto") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    if fmt == "parquet":
        return spark.read.parquet(location)
    if fmt == "auto":
        try:
            return spark.read.format("iceberg").load(location)
        except Exception:  # noqa: BLE001 — no iceberg runtime / not a table
            return spark.read.parquet(location)
    raise ValueError(f"unknown pages format {fmt!r}")
