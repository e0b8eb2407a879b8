"""Exact per-group OLS trend lines in integer parts.

Trend detection over an event stream ("is this metric drifting?") is a
per-group linear regression of value against time. Floating-point
accumulation orders differ between engines and between partition
layouts, so the gate-able form is EXACT integer arithmetic: quantize
time to epoch-hour buckets and value to milli-units, accumulate the five
classical sums as BIGINTs in ONE scan, then assemble the closed-form
slope/intercept numerators and denominator in DECIMAL(38,0) shipped as
digit strings (DuckDB's fetchdf narrows DECIMAL to float64 — the same
discipline as ``hll_estimate_parts``). The float division stays with the
caller: slope = slope_num / slope_den in value-milli-units per hour.

Centering is algebraic, not a second scan: with x0 = min(x) per group,
  sx' = sx - n*x0;  sxy' = sxy - x0*sy;  sxx' = sxx - 2*x0*sx + n*x0^2
are exact, so the BIGINT partial sums stay small enough (epoch-hour
~4.7e5, milli-values <= ~1e9: sum(x*y) < 9.2e18 up to ~10^7 rows per
group; beyond that, raise the quantization unit) and the shuffle is one
8-row-per-group partial aggregate — the cheapest distributed regression
there is. Intercept parts are reported AT x = x0 (icept_num / slope_den,
in milli-units).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def group_trend(events_df):
    """(group, n, x0, slope_num, slope_den, icept_num) — exact parts."""
    e = events_df.select(
        F.col("event_type").alias("g"),
        # explicit cast: the testdata's TIMESTAMP_NTZ column + a UTC
        # session make this the exact epoch instant (the same anchor as
        # resample.gapfill_locf)
        F.expr(
            "unix_millis(cast(ts as timestamp)) div 3600000"
        ).alias("x"),
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("y"),
    )
    s = e.groupBy("g").agg(
        F.count("*").alias("n"),
        F.min("x").alias("x0"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )

    def d(c):
        return c.cast("decimal(38,0)")

    n, x0 = d(F.col("n")), d(F.col("x0"))
    sx, sy = d(F.col("sx")), d(F.col("sy"))
    sxy, sxx = d(F.col("sxy")), d(F.col("sxx"))
    csx = sx - n * x0
    csxy = sxy - x0 * sy
    csxx = sxx - F.lit(2).cast("decimal(38,0)") * x0 * sx + n * x0 * x0
    return s.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("long").alias("n"),
        F.col("x0").cast("long").alias("x0"),
        (n * csxy - csx * sy).cast("decimal(38,0)").cast("string")
        .alias("slope_num"),
        (n * csxx - csx * csx).cast("decimal(38,0)").cast("string")
        .alias("slope_den"),
        (sy * csxx - csx * csxy).cast("decimal(38,0)").cast("string")
        .alias("icept_num"),
    )
