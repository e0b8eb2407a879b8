"""Corpus readers: Iceberg-first with parquet fallback.

BASELINE.json input_hint names an Iceberg table of pages; this container
carries no Iceberg runtime jars, so the reader negotiates: explicit
``fmt="iceberg"`` errors loudly if the catalog is absent, ``fmt="auto"``
falls back to parquet (same schema contract either way). On a real cluster
the Iceberg path gives snapshot isolation + partition pruning on
(warc_ts, lang); the parquet path is layout-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import session_memo

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def table_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy reader for ``{sf_dir}/{name}.parquet``, memoized by
    ``session.session_memo``: the footer and file-listing read is paid
    once per table version; no data is cached."""
    path = f"{sf_dir}/{name}.parquet"
    return session_memo(spark, path, lambda: spark.read.parquet(path), sf_dir)


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
