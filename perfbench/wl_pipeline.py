"""``pipeline``: the headline job, pages -> extract+encode -> PIP join.

Set-up starts the session, warms the Python workers on every core and
writes a seeded synthetic pages table as parquet in the fixed 64-partition
layout (page ids offset by the seed, rows from
``sources.pages.generate_pages_batch``, written from the driver). Each timed pass builds ``extract_encode_features`` ->
``pip_join(res=8)`` against ``generate_admin_polygons()`` and counts the
matches. One untimed pass ends the set-up; timed passes repeat until
``--seconds`` have passed (at least five).

Checks: every pass returns the warm-up pass's match count, and a deterministic sample
of pages yields exactly the (url, feature_idx, admin_id) set a brute-force
driver-side ``pip_mask`` over every polygon gives, with no cell prefilter.
"""

from __future__ import annotations

import os

import numpy as np

import harness as H

N_PAGES = 64_000
N_PARTS = 64
MIN_PASSES = 5
SAMPLE_EVERY = 50  # pages whose id hash is 0 mod this are checked by brute force


def page_range(seed: int) -> tuple[int, int]:
    """First and one-past-last page id of the seed's pages."""
    start = seed * N_PAGES
    return start, start + N_PAGES


def materialize_pages(seed: int, path: str) -> None:
    """Write the seeded pages as ``N_PARTS`` parquet files from the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geobuf_cpp_spark.sources.pages import generate_pages_batch

    start, end = page_range(seed)
    os.makedirs(path)
    for part, ids in enumerate(np.array_split(np.arange(start, end, dtype=np.int64), N_PARTS)):
        table = pa.Table.from_pandas(generate_pages_batch(ids), preserve_index=False)
        table = table.set_column(1, "warc_ts", table["warc_ts"].cast(pa.timestamp("us", tz="UTC")))
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))


def warm_workers(spark, n: int) -> None:
    """Start a two-deep chain of Python workers on every core with the
    engine's imports loaded (the pipeline runs two chained Python stages)."""

    def warm(batches):
        import pandas as pd

        from geobuf_cpp_spark.codec import geobuf  # noqa: F401
        from geobuf_cpp_spark.extract import html  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(0, 2 * n, numPartitions=2 * n).mapInPandas(
        warm, "id long").mapInPandas(warm, "id long").count()


def build(pages, admin):
    from geobuf_cpp_spark.functions.udfs import extract_encode_features
    from geobuf_cpp_spark.operators.pip_join import pip_join

    encoded = extract_encode_features(pages)
    return pip_join(encoded.select("url", "feature_idx", "lon", "lat", "geobuf"),
                    admin, res=8)


def sample_ids(seed: int) -> np.ndarray:
    from geobuf_cpp_spark.sources.pages import mix64

    start, end = page_range(seed)
    ids = np.arange(start, end, dtype=np.int64)
    return ids[mix64(ids) % np.uint64(SAMPLE_EVERY) == 0]


def brute_force_matches(pages, admin) -> set:
    """(url, feature_idx, admin_id) for every extracted feature point inside
    any admin polygon, testing each point against every polygon."""
    from geobuf_cpp_spark.extract.html import extract_geometries
    from geobuf_cpp_spark.functions.geometry import geojson_to_wire, pip_mask, wire_rings

    keys, xs, ys = [], [], []
    for url, html in zip(pages["url"], pages["html"]):
        for idx, feat in enumerate(extract_geometries(bytes(html).decode("utf-8"))):
            coords = geojson_to_wire(feat["geometry"])[3]
            keys.append((url, idx))
            xs.append(coords[0])
            ys.append(coords[1])
    px, py = np.array(xs, dtype=np.float64), np.array(ys, dtype=np.float64)
    out = set()
    for admin_id, g in zip(admin["admin_id"], admin["geom"]):
        inside = pip_mask(px, py, wire_rings(g["type"], g["dim"], g["lengths"], g["coords"]))
        out.update((*keys[i], int(admin_id)) for i in np.flatnonzero(inside))
    return out


def run(args, work: str, host: dict) -> dict:
    from pyspark.sql import functions as F

    from geobuf_cpp_spark.sources.pages import generate_admin_polygons, generate_pages_batch

    t0 = H.now()
    spark = H.start_spark("perfbench-pipeline", work, args.eventlog_dir)
    t1 = H.now()
    try:
        warm_workers(spark, host["spark_cpus"])
        t2 = H.now()
        path = os.path.join(work, "pages")
        materialize_pages(args.seed, path)
        t3 = H.now()
        pages = spark.read.parquet(path)
        admin = generate_admin_polygons()
        reference_count = build(pages, admin).count()  # warm-up pass
        t4 = H.now()
        setup = {"setup_s": t4 - t0, "session.start_s": t1 - t0,
                 "sources.input_s": t3 - t2, "warm_s": (t2 - t1) + (t4 - t3)}

        groups = H.JobGroups(spark, args.trace)
        rows = []
        t_end = H.now() + args.seconds
        while H.now() < t_end or len(rows) < MIN_PASSES:
            op = f"pass{len(rows)}"
            groups.set(op, "construct")
            c0 = H.now()
            df = build(pages, admin)
            c1 = H.now()
            construct_jobs = groups.jobs(op, "construct")
            groups.set(op, "execute")
            matches = df.count()
            c2 = H.now()
            rows.append({"op": op, "construct_s": c1 - c0, "execute_s": c2 - c1,
                         "total_s": c2 - c0, "construct_jobs": construct_jobs,
                         "matches": matches})
        groups.clear()

        sample = generate_pages_batch(sample_ids(args.seed))
        got = {(r.url, int(r.feature_idx), int(r.admin_id)) for r in
               build(pages.where(F.col("url").isin(list(sample["url"]))), admin)
               .select("url", "feature_idx", "admin_id").collect()}
    finally:
        H.stop_spark(spark)
    want = brute_force_matches(sample, admin)

    counts = {reference_count} | {r["matches"] for r in rows}
    for r in rows:
        r["ok"] = r["matches"] == reference_count
    sample_ok = got == want
    pass_s = [r["total_s"] for r in rows]
    return {
        "attempted": len(rows) + 1,
        "failed": sum(not r["ok"] for r in rows) + (0 if sample_ok else 1),
        "checks": {"match_counts": sorted(counts), "sample_pages": len(sample),
                   "sample_matches": len(want), "sample_missing": len(want - got),
                   "sample_extra": len(got - want)},
        "setup": setup,
        "op_seconds": pass_s,
        "work_units": N_PAGES * len(rows),
        "work_unit": "pages",
        "detail": {"pages": N_PAGES, "pages_per_s": N_PAGES / H.median(pass_s),
                   "passes": len(rows), "pip_matches": rows[0]["matches"]},
        "rows": rows,
        "spark_rows": [r["op"] for r in rows],
    }
