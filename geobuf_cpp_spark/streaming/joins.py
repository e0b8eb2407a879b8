"""Interval join: each left event (e.g. a click) joins the right events
(e.g. views) of the same key whose timestamps fall in the trailing
``within`` interval — attribution, funnel stitching, impression-click
joins. Gated as ``interval_view``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interval_cond(key_col: str, left_ts: str, right_ts: str,
                   within_seconds: int):
    """key equality + right_ts in (left_ts - within, left_ts].

    Raw timestamp-interval arithmetic, not an epoch conversion: range
    predicates on the event-time columns themselves are what Spark
    analyzes to bound a watermarked join's state. Timestamp ± INTERVAL is
    exact integer-microsecond arithmetic in both Spark and DuckDB, so the
    join stays oracle-portable.
    """
    lts = F.col(f"l.{left_ts}")
    rts = F.col(f"r.{right_ts}")
    within = F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
    return (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (rts <= lts)
        & (rts > lts - within)
    )


def interval_join_batch(left: DataFrame, right: DataFrame,
                        key_col: str) -> DataFrame:
    """Plain inner join on the interval condition. Caller projects the
    sides to disjoint column names (besides the key) before calling."""
    cond = _interval_cond(key_col, "ts", "ts", 1800)
    return left.alias("l").join(right.alias("r"), cond, "inner").drop(
        F.col(f"r.{key_col}")
    )
