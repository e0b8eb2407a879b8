"""Explicit partitioning + skew mitigation (BASELINE.json north_rule).

Web geometries cluster in cities, so a handful of cells carry most rows.
Helpers here keep shuffles balanced without changing results:

* ``repartition_by_cell_prefix`` — hash-shuffle on the cell's parent at a
  coarser resolution, co-locating spatially-near rows (tile/cell pipelines
  reuse the same partitioning across stages, avoiding repeat shuffles).
* ``with_salt`` / ``salted_count`` — two-phase aggregation over a salted
  key: partial agg on (key, salt), final agg on key. Identical results to
  a plain groupBy, but the hot key's rows spread over ``n_salt`` reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import sql_cell_parent
from ..session import session_memo


def spread(df: DataFrame, force: bool = False) -> DataFrame:
    """Round-robin repartition to cluster parallelism — only when needed.

    Heavy per-row UDF stages and wide joins must not inherit the scan's
    split count (a small dimension table is often ONE parquet split, which
    would serialize the stage on a single core). One cheap shuffle buys
    full-width execution; results are unchanged.

    Conditional by design: when the input already has at least
    ``parallelism`` splits (the normal case at 100 TB, where the scan's
    split count exceeds cluster parallelism), repartitioning would be a
    pure-waste full shuffle of the corpus — so it is skipped. ``force``
    restores the unconditional behavior for layout-sensitive callers.

    The split-count probe (``getNumPartitions()`` forces one physical
    planning pass) is memoized per session under the analyzed plan's
    ``semanticHash``. It is a hint only: a hash collision or a scan whose
    files changed mid-session risks skipping or adding a benign
    repartition, never a wrong result.
    """
    # streaming frames: no .rdd probe is possible and micro-batch
    # parallelism is the source's own concern — pass through untouched
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if not force:
        n_splits = session_memo(df.sparkSession, ("spread", df.semanticHash()),
                                lambda: df.rdd.getNumPartitions())
        if n_splits >= target:
            return df
    return df.repartition(target)


def spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on grouping keys to cluster parallelism — the
    ``spread`` discipline for ``groupBy(keys).applyInPandas`` stages.

    A grouped Python stage inherits the groupBy exchange's partition
    count, and AQE's partition coalescing sizes that exchange by BYTES:
    a small-byte group table (the normal case when groups are the unit
    of heavy Python work — file sinks, per-entity geometry, per-tile
    rasters) coalesces to one or two tasks, serializing every group
    function on a single core (measured on the geobuf file sink: 64
    groups collapsed to one task, 3.5 s wall for ~0.2 s of spread-out
    work). An explicit user repartition on the SAME keys both satisfies
    the groupBy's required distribution (no second exchange appears)
    and is exempt from AQE coalescing, so the group functions fan out
    across every core. Same-keyed groups still co-locate — results are
    unchanged.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def repartition_by_cell_prefix(df: DataFrame, cell_col: str, res: int,
                               prefix_res: int, num_partitions: int) -> DataFrame:
    parent = F.expr(sql_cell_parent(cell_col, res, prefix_res))
    return df.repartition(num_partitions, parent)


def materialize_geobuf(features_df, out_dir: str, res: int = 8,
                       prefix_res: int = 3,
                       lon_col: str = "lon", lat_col: str = "lat",
                       num_partitions: int | None = None):
    """Write encoded features as parquet laid out by cell prefix.

    The storage layout stage of the 100 TB pipeline: rows hash-shuffle on
    their coarse cell (`repartition_by_cell_prefix`) so spatially-near
    features co-locate, then land under `cell_prefix=` directories —
    subsequent spatial reads prune partitions by prefix (verified via
    PushedFilters/partition pruning on the read side).
    """
    from ..functions.cells import sql_cell, sql_cell_parent
    from ..functions.udfs import encode_features

    spark = features_df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    encoded = encode_features(features_df)
    laid_out = (
        encoded.withColumn("cell", F.expr(sql_cell(lat_col, lon_col, res)))
        .withColumn(
            "cell_prefix", F.expr(sql_cell_parent("cell", res, prefix_res))
        )
    )
    laid_out = laid_out.repartition(n, F.col("cell_prefix"))
    laid_out.write.mode("overwrite").partitionBy("cell_prefix").parquet(out_dir)
    return spark.read.parquet(out_dir)


def with_salt(df: DataFrame, n_salt: int) -> DataFrame:
    """Add a salt column that is genuinely row-spreading.

    Default source is the row's physical position
    (``monotonically_increasing_id`` = partition id << 33 + in-partition
    counter), so consecutive rows of a hot key cycle through all ``n_salt``
    values — a hot key's rows always fan out, even when the frame was
    already projected down to just the group key (the failure mode of
    hashing column values: every row of a hot key hashes identically).

    Determinism note: the positional salt depends on shuffle fetch order,
    so a PARTIAL stage re-execution could observe different salts per row.
    Spark classifies such stages indeterminate and rolls back whole stages
    on retry (SPARK-23207), which is what keeps salted aggregates exact
    under failure — results rely on that mechanism, not on salt stability.
    """
    src = F.pmod(F.monotonically_increasing_id(), F.lit(n_salt))
    return df.withColumn("_salt", src.cast("int"))


def salted_count(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """count() per key via two-phase salted aggregation.

    Phase 1 shuffles on (key, salt) — the hot key fans out over 16
    partial aggregates (position-derived salt, see ``with_salt``); phase 2
    merges the (at most 16) partials per key. Result rows are identical
    to ``df.groupBy(key).count()`` for any CONSISTENT salt assignment;
    under partial retries that consistency comes from Spark's
    indeterminate-stage rollback (see ``with_salt``'s determinism note).
    """
    salted = with_salt(df, 16)
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count("*").alias("_partial"))
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias("count"))
