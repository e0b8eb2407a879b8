"""Token-window chunking — overlapping context windows for embedding /
RAG pipelines.

Every document is split into windows of ``size`` tokens advancing by
``stride`` (stride < size => overlap). The Spark-native shape: posexplode
the tokens once, fan each token to the windows that contain it (a
bounded ceil(size/stride)-way sequence explode on integer window ids —
never a self-join), then rebuild each window's text with an order-exact
aggregation (array_sort over (pos, tok) structs). Everything is JVM
expressions; the per-window digest lets gates compare reconstructed
TEXT content without shipping megabytes through the compare.

At 100 TB the fan-out factor is the overlap ratio (2x for size=8,
stride=4) on narrow (doc, window, pos, tok) rows, and the window
aggregation combines map-side — the same cost family as the tokenizer
pass itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_windows(docs_df: DataFrame, size: int, stride: int) -> DataFrame:
    """(doc_id, window_id, n_tokens, text_md5) per overlapping window.

    Window w covers token positions [w*stride, w*stride + size); every
    non-empty trailing window is emitted (a short tail still chunks).
    Deterministic: text_md5 = md5 of the space-joined tokens in
    position order.
    """
    assert 0 < stride <= size, "need 0 < stride <= size"
    toks = docs_df.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), " "))
        .alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    # windows containing position p: w in [ceil((p-size+1)/stride), p/stride]
    lo = F.greatest(
        F.lit(0),
        -F.floor((F.lit(size - 1) - F.col("pos")) / stride).cast("long"),
    )
    hi = F.floor(F.col("pos") / stride).cast("long")
    fan = toks.select(
        "doc_id", "pos", "tok",
        F.explode(F.sequence(lo, hi)).alias("window_id"),
    )
    return (
        fan.groupBy("doc_id", "window_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                ).cast("binary")
            ).alias("text_md5"),
        )
    )
