"""Incremental near-dup against a persisted signature index.

The 100 TB dedup workflow is rarely "all pairs over the whole corpus":
a new crawl batch arrives and must be deduped AGAINST the existing
corpus without rescanning it. Composition of two things the engine
already has:

* the MinHash-LSH band table (``dedup.minhash_bands``: one (doc_id,
  band, bucket) row per band — fixed N_BANDS rows per document), and
* snapshot-versioned tables (``sources.snapshots``: atomic CAS commits,
  time travel, CDC reads),

giving a persisted SIGNATURE INDEX: build once over the corpus, then
per batch join only the batch's band keys against the index — the
corpus itself contributes zero scan bytes; candidate volume is
O(batch x collision rate). Exactness matches the batch path: LSH
candidates verified by exact shingle Jaccard, old-side texts fetched by
id join (point lookups at scale, never a corpus scan).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.snapshots import read_snapshot, write_snapshot
from .dedup import jaccard, minhash_bands, shingle_hashes


def build_signature_index(docs_df: DataFrame, table_dir: str) -> int:
    """Persist the corpus's LSH band table as a new snapshot lineage
    (an overwrite commit). Returns the committed version.
    """
    bands = minhash_bands(docs_df)
    return write_snapshot(bands, table_dir, mode="overwrite")


def incremental_neardup(spark: SparkSession, batch_df: DataFrame,
                        corpus_df: DataFrame, table_dir: str,
                        threshold: float) -> DataFrame:
    """(id_a=batch doc, id_b=corpus doc, jaccard) near-dup pairs of a
    NEW batch against the indexed corpus.

    The corpus is touched only twice, both bounded: the index read
    (N_BANDS rows/doc of (doc_id, band, bucket) — no text, no shingles)
    and the exact-verify text fetch for candidate ids (a semi-join-
    sized id lookup). Index buckets above 64 docs are dropped, the
    same skew guard as the batch LSH path. The latest index snapshot
    is read.
    """
    idx = read_snapshot(spark, table_dir)
    idx = idx.withColumn(
        "bsize", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsize") <= 64)
    nb = minhash_bands(batch_df)
    cand = (
        nb.select(F.col("doc_id").alias("id_a"), "band", "bucket")
        .join(idx.select(F.col("doc_id").alias("id_b"), "band", "bucket"),
              ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
    texts_a = batch_df.select(F.col("doc_id").alias("id_a"),
                              F.col("text").alias("text_a"))
    texts_b = corpus_df.select(F.col("doc_id").alias("id_b"),
                               F.col("text").alias("text_b"))
    joined = cand.join(texts_a, "id_a").join(texts_b, "id_b")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            rows = []
            for id_a, id_b, ta, tb in zip(pdf["id_a"], pdf["id_b"],
                                          pdf["text_a"], pdf["text_b"]):
                j = jaccard(shingle_hashes(ta, cache),
                            shingle_hashes(tb, cache))
                if j >= threshold:
                    rows.append((int(id_a), int(id_b), float(j)))
            yield pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])

    # force=True: AQE size-coalesces the candidate join's exchange to a
    # task or two at small candidate volumes, serializing the Python
    # verify; an explicit round-robin fan-out keeps it CPU-wide (the
    # batch-LSH verify applies the same discipline).
    from ..plans.partitioning import spread

    return spread(joined, force=True).mapInPandas(
        verify, "id_a long, id_b long, jaccard double")
