"""Event-time windowed cell rollup over the ping stream.

``cell_hotspot_counts`` is one expression that runs on a batch frame
(the ``stream_cells`` gate) or on a Structured Streaming file source,
where a watermark bounds the window state; a drained stream equals the
batch answer (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ping_cell_expr(res: int) -> str:
    """Shared SQL: grid cell id of a ping's centidegree lattice coords
    (the IPINGS contract: lat = (iy-8500)/100, lon = (ix-18000)/100) —
    the same cell layout every batch spatial operator uses."""
    from geobuf_cpp_spark.functions.cells import sql_cell

    return sql_cell("((iy - 8500) / 100.0)", "((ix - 18000) / 100.0)", res)


def cell_hotspot_counts(pings: DataFrame) -> DataFrame:
    """Streaming geo hotspots: event-time windowed per-cell ping counts.

    The streaming half of the cell-index story — the batch engine rolls
    pings up to cells after the fact; a live ingest wants the same
    rollup per event-time window with late arrivals bounded by the
    watermark (state evicts once a window passes it). Works on a
    streaming OR batch DataFrame: the batch twin is the same expression
    with the watermark a no-op, which is what makes stream == batch
    assertable and the twin oracle-gateable.

    Output: (window_start, cell, n_pings, max_event_id). max_event_id
    is the deterministic "latest ping" witness (floats and distincts
    are deliberately absent — append-mode streaming aggs want
    watermark-evictable, merge-friendly state)."""
    cell = F.expr(_ping_cell_expr(8))
    src = pings
    if pings.isStreaming:
        src = pings.withWatermark("ts", "2 hours")
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), cell.alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_pings"),
            F.max("event_id").cast("long").alias("max_event_id"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "cell", "n_pings", "max_event_id",
        )
    )
