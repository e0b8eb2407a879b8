"""Exact dedup with first-seen-wins by arrival time.

The arrival-ordered variant of ``operators.dedup.exact_dedup``: per
distinct text the keeper is the first arrival, not the smallest id —
what an online ingest can know. Gated as ``stream_dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_batch_twin(docs: DataFrame) -> DataFrame:
    """First-seen-wins with a total order: per distinct text (md5
    digest), keep the row with the smallest (event time, id). Returns
    the kept row plus the group's copy count. One digest-keyed shuffle;
    the same shape as ``operators.dedup.exact_dedup`` and safe at corpus
    scale.
    """
    from pyspark.sql import Window

    w_ord = Window.partitionBy("_fp").orderBy(
        F.col("ts").asc(), F.col("doc_id").asc())
    w_all = Window.partitionBy("_fp")
    return (
        docs.withColumn("_fp", F.md5(F.col("text").cast("binary")))
        .withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("n_copies", F.count("*").over(w_all))
        .filter("_rn = 1")
        .select(
            F.col("_fp").alias("fp"),
            F.col("doc_id").alias("kept_doc_id"),
            F.col("ts").alias("kept_ts"),
            "n_copies",
        )
    )
