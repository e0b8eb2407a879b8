"""Structured Streaming: operators that run on a file-source stream
equal their batch form."""

import os

from pyspark.sql import functions as F


def test_sliding_stats_stream_twin(spark, tmp_path):
    """The batch sliding_stats equals a Structured Streaming sliding
    window() aggregation over the same events landed in three arrivals
    — the built-in generator IS the stream plan."""
    from geobuf_cpp_spark.operators.resample import sliding_stats

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "slide_src")
    for k, name in enumerate("abc"):
        events.filter(f"event_id % 3 = {k}").write.parquet(
            os.path.join(src, name))

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "7200 seconds", "3600 seconds").alias("w"),
                 "event_type")
        .agg(F.count("*").alias("n_events"),
             F.min("value").alias("v_min"),
             F.max("value").alias("v_max"))
        .select(
            F.expr("unix_micros(cast(w.start as timestamp)) div 1000000")
            .alias("win_start"),
            "event_type", "n_events", "v_min", "v_max")
    )
    q = (
        agg.writeStream.format("memory").queryName("slide_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("slide_counts").toPandas()
    finally:
        q.stop()
    expect = sliding_stats(events).toPandas()
    key = ["win_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    expect = expect.sort_values(key).reset_index(drop=True)
    assert len(got) == len(expect) and len(got) > 0
    for c in ["n_events", "v_min", "v_max"]:
        assert (got[c].to_numpy() == expect[c].to_numpy()).all(), c


def test_cms_sketch_stream_twin(spark, tmp_path):
    """The CMS build IS a streaming aggregation: the same groupBy over a
    file stream (complete mode) equals the batch sketch — the merge-is-
    the-same-aggregation property, live under Structured Streaming."""
    from geobuf_cpp_spark.operators.sketches import count_min_sketch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "cms_src")
    for k, name in enumerate("ab"):
        docs.filter(f"doc_id % 2 = {k}").write.parquet(
            os.path.join(src, name))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    agg = count_min_sketch(stream)
    q = (
        agg.writeStream.format("memory").queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r["sketch_row"], r["bucket"]): r["cnt"]
               for r in spark.table("cms_stream").collect()}
    finally:
        q.stop()
    want = {(r["sketch_row"], r["bucket"]): r["cnt"]
            for r in count_min_sketch(docs).collect()}
    assert got == want and len(want) > 0


def test_cell_hotspot_stream_matches_batch(spark, tmp_path):
    """The windowed cell rollup drained from a file-source stream equals
    the batch twin on the same rows (the gate oracles the twin)."""
    from geobuf_cpp_spark.streaming.events import cell_hotspot_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pings = events.selectExpr(
        "event_id", "user_id", "ts",
        "(event_id * 7919) % 36000 AS ix",
        "(event_id * 9973) % 17000 AS iy",
    )
    src = str(tmp_path / "cell_src")
    pings.filter("event_id % 2 = 0").write.parquet(os.path.join(src, "a"))
    pings.filter("event_id % 2 = 1").write.parquet(os.path.join(src, "b"))

    schema = ("event_id long, user_id long, ts timestamp, "
              "ix long, iy long")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src + "/*")
    )
    q = (
        cell_hotspot_counts(stream).writeStream.format("memory")
        .queryName("cell_hot")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cell_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("cell_hot").toPandas()
    finally:
        q.stop()
    expect = cell_hotspot_counts(pings).toPandas()
    key = ["window_start", "cell"]
    got = got.sort_values(key).reset_index(drop=True)
    expect = expect.sort_values(key).reset_index(drop=True)
    assert len(got) == len(expect) and len(got) > 0
    for c in ("n_pings", "max_event_id"):
        assert (got[c].to_numpy() == expect[c].to_numpy()).all(), c
