"""Streaming twin of the flagship pipeline: pages stream -> extract ->
cell-windowed feature counts.

A Common-Crawl-style ingest lands page batches continuously; this stage
extracts geometries as they arrive (stateless Arrow ``mapInPandas`` works
unchanged on streaming DataFrames) and maintains watermarked per-window
per-cell counts — the live layer behind the batch tile/cell rollups, same
grouping semantics so a drained stream equals the batch answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import sql_cell
from ..functions.udfs import _extract_batches
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def extract_features_with_ts(pages_df: DataFrame):
    """(url, warc_ts, feature_idx, lon, lat) per extracted feature; warc_ts
    comes from the feature's own page row (a url can repeat in a batch)."""
    columns = ["url", "warc_ts", "feature_idx", "lon", "lat"]

    def gen(batches):
        return _extract_batches(batches, columns, carry=("warc_ts",))

    return pages_df.select("url", "warc_ts", "html").mapInPandas(
        gen, "url string, warc_ts timestamp, feature_idx int, lon double, lat double"
    )


def streaming_cell_counts(pages_stream: DataFrame, res: int = 6,
                          window: str = "1 day",
                          watermark: str = "2 days") -> DataFrame:
    """Watermarked (warc_ts window, cell) feature counts."""
    feats = extract_features_with_ts(pages_stream)
    return (
        feats.withColumn("cell", F.expr(sql_cell("lat", "lon", res)))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "cell")
        .agg(F.count("*").alias("n_features"))
        .select(F.col("w.start").alias("window_start"), "cell", "n_features")
    )
