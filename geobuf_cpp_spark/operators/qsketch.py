"""Mergeable quantile sketch — deterministic HDR-histogram binning.

The sketch family's quantile member (CMS = frequency, KMV/HLL =
cardinality, Bloom = membership). A KLL sketch is the textbook answer,
but KLL's compactors are RANDOMIZED — two runs (or two engines) produce
different summaries, which this engine's oracle-paired correctness gate
cannot accept. The deterministic alternative with the same operational
contract (fixed size, exact merge, bounded-error quantiles at any
scale) is HdrHistogram-style log-linear binning:

* bucket(v) for v >= 0 keeps the top ``m+1`` bits of v and the octave:
  ``e = bitlength(v) - 1``; for ``e <= m`` the value IS the bucket
  (small values exact), else ``bucket = (e-m)*2^m + v div 2^(e-m)``.
  At most ``(63-m)*2^m + 2^m`` buckets ever exist (m=5: 1,920) no
  matter how many rows feed the sketch — the fixed-size bound.
* each bucket row carries ``(n, vmin, vmax)``; MERGE of shard sketches
  is ``groupBy(bucket).agg(sum n, min vmin, max vmax)`` — exactly
  associative and commutative, so any shard/partition/merge order
  yields the IDENTICAL table (what randomized KLL cannot promise).
* a p-quantile resolves by exact integer rank walk: rank =
  ceil(total * p); the first bucket whose cumulative count reaches the
  rank brackets the true quantile in ``[vmin, vmax]`` of that bucket,
  and bucket geometry bounds the spread: width/lo < 2^-m (3.1% at
  m=5), with values below 2^(m+1) answered EXACTLY.

Everything is BIGINT arithmetic on a shared SQL text, so DuckDB
recomputes the identical sketch and quantile table for the gates. At
cluster scale the sketch is a map-side-combining hash aggregate onto a
bounded key domain — the scan is the whole cost, the shuffle is at
most ~2k rows per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QSKETCH_M = 5          # sub-bucket bits per octave: 32 buckets, 3.1% width


def sql_qbucket(v: str) -> str:
    """Shared SQL text for the log-linear bucket of a BIGINT ``v >= 0``.

    One CASE branch per octave keeps every divisor a CONSTANT power of
    two (no variable shifts, which Spark and DuckDB spell differently).
    Spark executes ``div`` verbatim; oracle assembly swaps it for
    DuckDB's ``//`` — numerators are non-negative here so truncating
    and flooring division coincide.
    """
    whens = []
    for e in range(63):
        hi = 1 << (e + 1)
        if e <= QSKETCH_M:
            expr = f"({v})"
        else:
            expr = (f"({(e - QSKETCH_M) * (1 << QSKETCH_M)} + ({v}) div "
                    f"{1 << (e - QSKETCH_M)})")
        whens.append(f"WHEN ({v}) < {hi} THEN {expr}")
    return ("(CASE WHEN (" + v + ") < 0 THEN NULL "
            + " ".join(whens) + " ELSE NULL END)")


def quantile_sketch(df: DataFrame, value_sql: str,
                    group_col: str) -> DataFrame:
    """Build the per-group sketch: (grp, bucket, n, vmin, vmax).

    ``value_sql`` is a SQL expression over ``df``'s columns yielding a
    non-negative BIGINT (negative values map to a NULL bucket and are
    dropped — document the domain at the call site).
    """
    b = sql_qbucket(value_sql)
    return (
        df.selectExpr(f"{group_col} AS grp",
                      f"CAST({b} AS BIGINT) AS bucket",
                      f"CAST({value_sql} AS BIGINT) AS v")
        .filter(F.col("bucket").isNotNull())
        .groupBy("grp", "bucket")
        .agg(F.count("*").cast("long").alias("n"),
             F.min("v").alias("vmin"),
             F.max("v").alias("vmax"))
    )


def merge_sketches(*sketches: DataFrame) -> DataFrame:
    """Exact associative merge of shard sketches (same schema back)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (
        out.groupBy("grp", "bucket")
        .agg(F.sum("n").cast("long").alias("n"),
             F.min("vmin").alias("vmin"),
             F.max("vmax").alias("vmax"))
    )


def sketch_quantiles(sketch: DataFrame,
                     probs_bp: tuple[int, ...]) -> DataFrame:
    """Resolve quantiles from a sketch by exact integer rank walk.

    For each probability (basis points), rank = ceil(total * p/10000);
    the answer row is the FIRST bucket (in value order) whose running
    count reaches the rank: (grp, p_bp, rank, n_total, bucket,
    q_lo=vmin, q_hi=vmax). The true rank-th value lies in
    [q_lo, q_hi]; spread is < 2^-m relative by bucket geometry.
    """
    spark = sketch.sparkSession
    probs = spark.createDataFrame([(int(p),) for p in probs_bp],
                                  "p_bp int")
    w_cum = (Window.partitionBy("grp").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t = (
        sketch.withColumn("cum", F.sum("n").over(w_cum))
        .withColumn("total", F.sum("n").over(Window.partitionBy("grp")))
    )
    j = (
        t.crossJoin(F.broadcast(probs))
        .withColumn("rank",
                    F.expr("(total * p_bp + 9999) div 10000"))
        .filter(F.col("cum") >= F.col("rank"))
    )
    picked = (
        j.groupBy("grp", "p_bp")
        .agg(F.min(F.struct("bucket", "rank", "total", "vmin", "vmax"))
             .alias("s"))
    )
    return picked.select(
        "grp", "p_bp",
        F.col("s.rank").alias("rank"),
        F.col("s.total").alias("n_total"),
        F.col("s.bucket").alias("bucket"),
        F.col("s.vmin").alias("q_lo"),
        F.col("s.vmax").alias("q_hi"),
    )
