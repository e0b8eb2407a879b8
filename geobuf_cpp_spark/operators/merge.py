"""Merge-on-read upsert — last-writer-wins over base + changelog.

The lakehouse MERGE primitive a mutable-dimension pipeline needs on an
append-only store: given a base snapshot and a stream/batch of updates
sharing its schema, the current view keeps, per key, the row with the
greatest (event time, source, tie) — updates beating base at equal
timestamps. Expressed as union + per-key top-1, which Catalyst compiles
to WindowGroupLimit: every task prunes to one row per key BEFORE the
shuffle, so shuffle volume is O(live keys), not O(changelog) — the
property that makes replaying a 100 TB changelog tractable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def merge_upsert(base: DataFrame, updates: DataFrame, keys: list[str],
                 ts_col: str) -> DataFrame:
    """Current view of base ⊎ updates: latest row per key.

    Ordering per key: ts desc, then updates-over-base, then ``segment``
    ascending (it completes a total order where the same key carries
    equal timestamps in one source; otherwise the result would be
    nondeterministic and un-gateable).
    """
    from pyspark.sql import Window

    u = updates.withColumn("_src", F.lit(1))
    b = base.withColumn("_src", F.lit(0))
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).desc(), F.col("_src").desc(), F.col("segment").asc())
    return (
        u.unionByName(b)
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn", "_src")
    )
