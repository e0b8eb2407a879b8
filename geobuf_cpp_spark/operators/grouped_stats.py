"""Exact per-group discrete quantiles — no per-group sort, no approx.

approx_percentile trades accuracy for a sketch; a window-sort per group
holds whole groups in task memory. For discrete-domain measures (token
counts, byte sizes, durations in integer units) the exact answer is a
histogram problem: count per (group, value) — output bounded by the
value DOMAIN per group, not the row count — cumulate along the value
order within each group (windows PARTITIONED by group, so they
distribute), and pick the smallest value whose cumulative count reaches
ceil(q·N). All integer arithmetic: quantile targets are passed as exact
fractions, so both engines compute the identical element.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def grouped_quantiles(df: DataFrame, group_col: str, value_col: str,
                      quantiles: list[tuple[int, int, str]]) -> DataFrame:
    """One row per group: n_rows plus each requested discrete quantile.

    ``quantiles`` is a list of (numerator, denominator, out_name);
    quantile element = smallest v with cum_count >= ceil(num·N / den)
    (the type-1 discrete quantile — q=(1,2) is the lower median).
    """
    from pyspark.sql import Window

    assert quantiles
    counts = df.groupBy(group_col, value_col).agg(
        F.count("*").alias("_n"))
    # the running count and the group total share one partitioning — two
    # Window ops over the same exchange, no self-join (which would also
    # trip Spark's ambiguous-attribute dedup on the shared lineage)
    w = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(group_col)
    joined = counts.withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_N", F.sum("_n").over(w_all))
    aggs = [F.max("_N").cast("long").alias("n_rows")]
    for num, den, name in quantiles:
        target = f"(({int(num)} * _N + {int(den) - 1}) div {int(den)})"
        aggs.append(
            F.min(
                F.when(F.expr(f"_cum >= {target}"), F.col(value_col))
            ).alias(name)
        )
    return joined.groupBy(group_col).agg(*aggs)


def mad_outliers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation
    — the data-quality monitor's workhorse (mean/stddev break down on
    the very outliers being hunted; medians don't).

    Integer-exact by construction: the type-1 discrete median of
    `grouped_quantiles` is an actual data value (no interpolation — the
    float quantile of most engines is un-gateable), so the deviations
    ``|v - med|`` are exact integers and so is the MAD. A value is an
    outlier when ``dev > 3 * mad`` (3 ~ the classic 2-sigma-ish
    cutoff for normal-ish data). Output: (group, n_rows, med, mad,
    n_outliers).

    Plan: two `grouped_quantiles` passes (each one group-keyed exchange
    + two windows over it) and two equi-joins back on the group key —
    the per-group state the windows sort is the DISTINCT value domain,
    not the row count, and AQE broadcasts the tiny per-group median/MAD
    tables onto the row stream."""
    med = grouped_quantiles(
        df, group_col, value_col, [(1, 2, "med")]).select(group_col, "med")
    dev = df.join(med, group_col).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("med")))
    mad = grouped_quantiles(dev, group_col, "_dev", [(1, 2, "mad")]).select(
        group_col, "mad")
    return (
        dev.join(mad, group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.max("med").cast("long").alias("med"),
            F.max("mad").cast("long").alias("mad"),
            F.sum(
                F.when(F.col("_dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


def trimmed_stats(df: DataFrame, group_col: str, value_col: str,
                  trim_pct: int) -> DataFrame:
    """Per-group trimmed statistics: drop the bottom and top
    ``trim_pct`` percent of rows BY RANK (floor(n * pct / 100) rows off
    each end — a count, so the cut is exact and engine-portable, unlike
    float percentile thresholds), then report the surviving rows' exact
    integer sum and count. The robust-mean building block (the float
    division trimmed_sum / trimmed_n stays with the caller — the same
    exact-parts discipline as mad_outliers' integer MAD).

    Ranking is (value, and a stable arbitrary but DETERMINISTIC
    tie-break on the value's row_number within the group ordered by
    value only) — since trimming cuts by COUNT, ties straddling the cut
    admit multiple valid row choices, but every choice keeps the same
    VALUE multiset of survivors, so sum and count are tie-invariant and
    the oracle agrees no matter how each engine orders equal values.

    One window shuffle on the group key + one hash agg; rank windows
    are per-group (parallel across groups). Returns
    (group, n_rows, n_kept, trimmed_sum).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("v")
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("long").alias("v"),
    )
    ranked = (
        base.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("g")))
    )
    cut = F.expr(f"(n * {int(trim_pct)}) div 100")
    return (
        ranked.where((F.col("rk") > cut) & (F.col("rk") <= F.col("n") - cut))
        .groupBy(F.col("g").alias(group_col))
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_kept"),
            F.sum("v").cast("long").alias("trimmed_sum"),
        )
    )


def kanon_cells(pings: DataFrame, cell: int, k: int) -> DataFrame:
    """k-anonymous mobility release: per (cell, day) visit counts with
    cells seen by fewer than ``k`` DISTINCT entities suppressed — the
    minimum privacy bar for publishing aggregate mobility (a cell-day
    with 2 visitors re-identifies them; suppression is the standard
    k-anonymity guard every mobility-data release applies before the
    aggregate leaves the enclave).

    Exact distinct (not approximate) because the suppression decision
    is a correctness property: HLL's +-2% would leak cells at the
    boundary. One groupBy shuffle on (cell-x, cell-y, day); the
    distinct rides the same aggregation.

    Returns (cx, cy, day, n_pings, n_entities) only where
    n_entities >= k; day is an ISO yyyy-MM-dd string (engine-portable —
    date-typed columns round-trip differently across engines).
    """
    c = int(cell)
    return (
        pings.groupBy(
            F.expr(f"ix div {c}").alias("cx"),
            F.expr(f"iy div {c}").alias("cy"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pings"),
            F.countDistinct("user_id").cast("long").alias("n_entities"),
        )
        .filter(F.col("n_entities") >= int(k))
    )
