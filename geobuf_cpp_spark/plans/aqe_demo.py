"""Runtime AQE skew-join demonstration, shared by test and PLANS.md.

Skew handling only shows in the EXECUTED adaptive plan, so this runs a
hot-key sort-merge join (one key carries 95% of the left side — the
city-skew shape) with sandbox-scaled thresholds and returns the FINAL
plan string. The detection/split mechanism exercised here is the same one
a 100 TB run relies on at the production 256 MB threshold. Consumed by
tests/test_spark_pipeline.py::test_aqe_skew_join_splits_hot_key and
scripts/dump_plans.py — one scenario, two audiences, no drift.
"""

from __future__ import annotations

_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge join
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def run_skew_join_demo(spark) -> tuple[int, str]:
    """Execute the hot-key join; return (row_count, final adaptive plan).

    The join's OWN query execution is driven JVM-side (``.execute()`` on
    the executed plan): ``df.count()`` would plan a separate aggregate
    query and leave this plan's adaptive state unfinalized.
    """
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in _CONF}
    try:
        for k, v in _CONF.items():
            conf.set(k, v)
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 20 > 0 THEN CAST(0 AS BIGINT) "
            "ELSE id % 97 END AS cell",
            "id AS row_id",
        )
        right = spark.range(0, 97).selectExpr("id AS cell", "id * 10 AS weight")
        joined = left.join(right, "cell")
        n = joined._jdf.queryExecution().executedPlan().execute().count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return int(n), plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
