"""2-D skyline (Pareto frontier) with a local-prune + global-refine plan.

The skyline of a point set under (minimize ``min_col``, maximize
``max_col``) keeps every row not dominated by another: q dominates p iff
q.min < p.min and q.max >= p.max, or q.min <= p.min and q.max > p.max
(exact duplicates survive together — neither dominates).

Plan shape, and why it scales: a row dominated within ANY subset is
dominated globally, so phase 1 prunes inside hash blocks (parallel
windows, no global ordering) — for non-adversarial data each block keeps
~O(log block_size) rows — and phase 2 runs the exact two-window pass on
the tiny survivor union. The final window is single-partition by
construction, but over at most 64 blocks * |local skyline| rows, not the
input: the same bounded-driver-set discipline as TakeOrderedAndProject.
Both phases are pure JVM window aggregates; dominance never needs a
self-join, let alone the quadratic NOT EXISTS the oracle replays.

The two windows encode dominance exactly:
- ``max(max_col) RANGE UNBOUNDED PRECEDING .. 1 PRECEDING`` ordered by
  ``min_col`` = best max among STRICTLY cheaper rows;
- ``max(max_col) PARTITION BY min_col`` = best max among equal-cost rows
  (includes self, so ``<=`` is the survival test).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def _survivors(df, min_col: str, max_col: str, block_cols: list[str]):
    w_cheaper = (
        Window.partitionBy(*block_cols)
        .orderBy(F.col(min_col).asc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy(*block_cols, min_col)
    d = df.withColumn(
        "_best_cheaper", F.max(max_col).over(w_cheaper)
    ).withColumn("_best_same", F.max(max_col).over(w_same))
    keep = (
        F.col("_best_cheaper").isNull()
        | (F.col("_best_cheaper") < F.col(max_col))
    ) & (F.col("_best_same") <= F.col(max_col))
    return d.filter(keep).drop("_best_cheaper", "_best_same")


def skyline2d(df, min_col: str, max_col: str, id_col: str):
    """Rows of ``df`` on the (min ``min_col``, max ``max_col``) skyline."""
    blocked = df.withColumn(
        "_blk", F.pmod(F.hash(F.col(id_col)), F.lit(64))
    )
    local = _survivors(blocked, min_col, max_col, ["_blk"]).drop("_blk")
    return _survivors(local, min_col, max_col, [])
