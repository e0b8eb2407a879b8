"""Gap-timeout sessionization: per-user sessions split where the gap
between consecutive events exceeds ``gap_seconds``. Gated as
``sessions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_seconds: float) -> DataFrame:
    """Sessions via lag + cumulative session ids.

    Pure DataFrame ops (two window functions over one user-keyed shuffle).
    Includes each user's trailing session.
    """
    from pyspark.sql import Window

    gap_us = int(gap_seconds * 1_000_000)
    w = Window.partitionBy("user_id").orderBy("ts")
    # outputs keep the SOURCE timestamp type (NTZ in -> NTZ out, for the
    # DuckDB gate); only the gap arithmetic casts to epoch microseconds
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    with_breaks = events.select("user_id", "ts", "value").withColumn(
        "_new",
        (epoch - F.lag(epoch).over(w) > F.lit(gap_us)).cast("int"),
    ).withColumn("_sid", F.sum(F.coalesce("_new", F.lit(0))).over(w))
    return (
        with_breaks.groupBy("user_id", "_sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("_sid")
    )
