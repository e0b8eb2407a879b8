"""Table readers: memoized parquet tables and raw geobuf directories."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import session_memo


def table_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy reader for ``{sf_dir}/{name}.parquet``, memoized by
    ``session.session_memo``: the footer and file-listing read is paid
    once per table version; no data is cached.

    The reader is a plain scan. The test tables are one parquet row group
    each, so a scan is one task and a query's map side runs on one core
    until its first exchange. Operators whose map side is heavy per row
    (token and shingle explodes, md5 or regex per token, Python stages)
    call ``plans.partitioning.spread()`` on their own input, a no-op where
    scan splits already reach the parallelism. A blanket repartition here
    was measured both ways at sf0.1: it wins on token-heavy gates but taxes
    every cheap scan+agg with an exchange that costs more than the
    one-core scan, netting about zero."""
    path = f"{sf_dir}/{name}.parquet"
    return session_memo(spark, path, lambda: spark.read.parquet(path), sf_dir)


def sql_df(spark: SparkSession, sf_dir: str, text: str,
           *tables: str) -> DataFrame:
    """Run SQL ``text`` over ``tables`` bound as session temp views of
    their own names.

    For SQL text, most of it run verbatim by the DuckDB oracle too; code
    on the DataFrame API reads ``table_df`` and binds nothing. This is
    the only place a view is bound, and each call binds the views its
    text reads just before running it, so no caller depends on a view
    another caller left."""
    for name in tables:
        table_df(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(text)


def read_geobuf_dir(spark: SparkSession, location: str) -> DataFrame:
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
        .option("pathGlobFilter", "*.pbf")
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

