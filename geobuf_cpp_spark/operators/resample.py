"""Time-series resampling: gap-fill + last-observation-carried-forward.

The hypertable ask — "give me a dense, regular series per key from
irregular events" — as pure DataFrame ops: bucket, pick the latest
observation per (key, bucket) with a deterministic (ts, id) tie-break,
generate the dense bucket range per key with ``sequence()``, left-join,
then carry values forward with ``last(ignorenulls=True)`` over an
unbounded-preceding window. No Python operator anywhere; bucket math is
integer (unix_millis div HOUR_MS), so the gated output is exact — the
carried value is SELECTED, never arithmetically recombined, which keeps
float hash parity with the DuckDB oracle trivially.

Scale shape: every stage keys on (key) or (key, bucket) — the natural
partitioning of a per-key series. The dense range explode is bounded by
span/bucket per key, not by event count; a key observed for a year at
1-hour buckets emits 8,760 rows regardless of how many billion raw
events it has (those were already reduced by the per-bucket pick).
Catalyst plans the pick + locf as two window stages over the same
(user) exchange family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HOUR_MS = 3_600_000


def gapfill_locf(events_df: DataFrame) -> DataFrame:
    """Dense per-key series: (key, bucket, v_locf) for EVERY bucket in
    [min, max] of the key's observed range; v_locf is the value of the
    latest event at-or-before the bucket's end, carried forward across
    empty buckets. Deterministic: within a bucket the pick orders by
    (ts, id) descending.
    """
    # unix_micros over an explicit cast: the testdata's TIMESTAMP_NTZ
    # column needs the cast, and the session runs UTC so it is exact
    # (same anchor as streaming/sessions.sessionize_batch)
    bk = F.expr(
        f"unix_micros(cast(ts as timestamp)) div {HOUR_MS * 1000}")
    x = events_df.select(
        F.col("user_id").alias("key"),
        bk.alias("bucket"),
        F.col("value").alias("v"),
        F.col("ts").alias("_ts"),
        F.col("event_id").alias("_id"),
    )
    w_pick = Window.partitionBy("key", "bucket").orderBy(
        F.desc("_ts"), F.desc("_id"))
    b = (
        x.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("key", "bucket", "v")
    )
    spans = b.groupBy("key").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
    grid = spans.select(
        "key", F.explode(F.sequence("mn", "mx")).alias("bucket"))
    joined = grid.join(b, ["key", "bucket"], "left")
    w_locf = (
        Window.partitionBy("key").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("key").alias("user_id"),
        F.col("bucket").cast("long").alias("bucket"),
        F.last("v", ignorenulls=True).over(w_locf).alias("v_locf"),
    )


def sliding_stats(events_df: DataFrame) -> DataFrame:
    """Overlapping (sliding) time-window aggregation: per (window start,
    key): event count and min/max value.

    Uses the built-in ``window()`` expression — the same generator
    Structured Streaming plans for watermarked sliding aggregations, so
    this batch form IS the stream twin. Each event fans out to
    win/hop window instances (2 here), then one map-side-combined
    aggregate; min/max are selections, never arithmetic, so the double
    columns stay hash-exact against the oracle.
    """
    w = F.window(F.col("ts"), "7200 seconds", "3600 seconds")
    return (
        events_df.groupBy(
            w.alias("w"), F.col("event_type").alias("key"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .select(
            F.expr("unix_micros(cast(w.start as timestamp)) div 1000000")
            .alias("win_start"),
            F.col("key").alias("event_type"),
            "n_events", "v_min", "v_max",
        )
    )
