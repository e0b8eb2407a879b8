"""Polyfill compaction: minimal mixed-resolution cell cover.

An H3/S2-style ``compact``: given a polygon's covering cell set at one
resolution, repeatedly replace every FULL 4-sibling group by its parent,
yielding the minimal mixed-resolution set with identical coverage — the
standard trick that turns an O(area) polyfill into an O(perimeter)
broadcast set for PIP prefilters (interior collapses to coarse cells,
only the boundary stays fine).

Plan shape: one pass per resolution level — a window count over
(id, parent) marks full sibling groups, full groups promote, partials
keep. The number of passes is the FIXED resolution delta (not a data
fixpoint), each pass is one hash shuffle on (id, parent), and rows only
ever shrink (by ~4x per level on interior cells). No Python, no
collect; the parent arithmetic is the engine-wide portable
``sql_cell_parent`` (FLOOR over exact doubles, identical in Spark and
DuckDB — the oracle replays the same rounds as chained CTEs).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.cells import sql_cell_parent


def compact_cover(cover_df, res: int, min_res: int):
    """(id, res, cell) minimal cover from a single-resolution one.

    ``cover_df`` holds (id, cell) at resolution ``res`` with DISTINCT
    cells per id; compaction runs down to ``min_res`` inclusive.
    """
    assert res > min_res >= 0
    out = None
    cur = cover_df.select("admin_id", "cell")
    for r in range(res, min_res, -1):
        d = cur.withColumn(
            "parent", F.expr(sql_cell_parent("cell", r, r - 1))
        ).withColumn(
            "sib", F.count("*").over(Window.partitionBy("admin_id", "parent"))
        )
        keep = d.filter(F.col("sib") < 4).select(
            "admin_id", F.lit(r).cast("long").alias("res"), "cell"
        )
        out = keep if out is None else out.unionByName(keep)
        cur = (
            d.filter(F.col("sib") == 4)
            .select("admin_id", F.col("parent").alias("cell"))
            .dropDuplicates(["admin_id", "cell"])
        )
    last = cur.select(
        "admin_id", F.lit(min_res).cast("long").alias("res"), "cell"
    )
    return out.unionByName(last) if out is not None else last
