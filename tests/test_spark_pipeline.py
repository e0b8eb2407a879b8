"""End-to-end Spark tests: pages -> extract -> geobuf -> spatial operators.

Mirrors the reference's round-trip methodology on the distributed path and
checks the spatial operators against scalar python oracles.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geobuf_cpp_spark.codec import geobuf as gb
from geobuf_cpp_spark.extract.html import extract_geometries, extract_text
from geobuf_cpp_spark.functions import cells as C
from geobuf_cpp_spark.functions.geometry import point_in_wire_polygon
from geobuf_cpp_spark.functions.udfs import (
    decode_features,
    encode_features,
    extract_encode_features,
)
from geobuf_cpp_spark.operators.knn import _broadcast_topk, knn_distributed
from geobuf_cpp_spark.operators.pip_join import pip_join
from geobuf_cpp_spark.operators.tiles import rasterize_tiles, vectorize_raster
from geobuf_cpp_spark.sources.pages import (
    generate_admin_polygons,
    generate_pages_batch,
    pages_dataframe,
)

N_PAGES = 600


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_dataframe(spark, N_PAGES, partitions=4)
    df.persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def features(spark, pages):
    df = extract_encode_features(pages).drop("geobuf")
    df.persist()
    yield df
    df.unpersist()


def test_pages_deterministic_and_partition_independent(spark):
    a = pages_dataframe(spark, 100, partitions=2).orderBy("url").collect()
    b = pages_dataframe(spark, 100, partitions=7).orderBy("url").collect()
    assert a == b


def test_extracted_text_byte_identical(pages):
    # per-url invariant (BASELINE.json input_hint): stored text ==
    # extractor output, byte for byte
    rows = pages.select("url", "html", "text").limit(200).collect()
    assert rows
    for r in rows:
        assert extract_text(bytes(r["html"]).decode("utf-8")) == r["text"]


def test_extraction_matches_local_oracle(pages, features):
    local = {}
    for r in pages.select("url", "html").collect():
        feats = extract_geometries(bytes(r["html"]).decode("utf-8"))
        if feats:
            local[r["url"]] = len(feats)
    got = {
        r["url"]: r["n"]
        for r in features.groupBy("url").agg(F.count("*").alias("n")).collect()
    }
    assert got == local
    assert sum(local.values()) > 100  # corpus actually carries geometry


def test_geobuf_spark_roundtrip_byte_identical(spark, pages, features):
    encoded = encode_features(features)
    decoded = decode_features(encoded)
    # re-encode the decoded features: bytes must be identical (fixpoint,
    # same methodology as reference tests/test_geobuf.py:360-364)
    reencoded = encode_features(
        decoded.select("url", "feature_idx", "geom", "properties"),
    ).select("url", "feature_idx", F.col("geobuf").alias("geobuf2"))
    joined = (
        encoded.select("url", "feature_idx", "geobuf")
        .join(reencoded, ["url", "feature_idx"])
        .withColumn("same", F.col("geobuf") == F.col("geobuf2"))
    )
    stats = joined.agg(
        F.count("*").alias("n"), F.sum(F.col("same").cast("int")).alias("ok")
    ).collect()[0]
    assert stats["n"] > 100 and stats["ok"] == stats["n"]
    # the fused extract+encode stage encodes the extracted GeoJSON directly;
    # its blobs must equal encode_features over the same rows
    fused = extract_encode_features(pages).select(
        "url", "feature_idx", F.col("geobuf").alias("fused")
    )
    cmp = encoded.select("url", "feature_idx", "geobuf").join(
        fused, ["url", "feature_idx"], "full_outer"
    )
    stats = cmp.agg(
        F.count("*").alias("n"),
        F.sum((F.col("geobuf") == F.col("fused")).cast("int")).alias("ok"),
    ).collect()[0]
    assert stats["n"] > 100 and stats["ok"] == stats["n"]


def test_extract_encode_stage_schema_empty_batches_and_malformed_pages(spark):
    """The Arrow stage keeps the feature-row schema, yields zero rows (empty
    record batches) for pages without geo payloads, and skips a malformed
    Feature instead of failing the job."""
    point = ('<script type="application/geo+json">{"type":"Feature","geometry":'
             '{"type":"Point","coordinates":[13.4,52.5]},"properties":{"n":1}}</script>')
    circle = ('<script type="application/geo+json">{"type":"Feature","geometry":'
              '{"type":"Circle","coordinates":[1,2]},"properties":{}}</script>')
    schema = "url string, html binary"
    no_geo = spark.createDataFrame(
        [(f"u{i}", b"<html><p>no geo here</p></html>") for i in range(6)], schema
    ).repartition(3)
    out = extract_encode_features(no_geo)
    assert out.dtypes == [
        ("url", "string"), ("feature_idx", "int"), ("kind", "string"),
        ("lon", "double"), ("lat", "double"),
        ("geom", "struct<type:tinyint,dim:tinyint,lengths:array<int>,"
                 "coords:array<double>>"),
        ("properties", "map<string,string>"),
        ("custom_properties", "map<string,string>"),
        ("geom_custom_properties", "map<string,string>"),
        ("geobuf", "binary"),
    ]
    assert out.collect() == []

    pages = spark.createDataFrame(
        [("bad", f"<html>{circle}{point}</html>".encode())], schema
    )
    rows = extract_encode_features(pages).collect()
    assert [(r.url, r.feature_idx, r.kind, r.lon, r.lat, r.properties)
            for r in rows] == [("bad", 0, "geojson", 13.4, 52.5, {"n": "1"})]
    assert rows[0].geom.asDict() == {"type": 0, "dim": 2, "lengths": [],
                                     "coords": [13.4, 52.5]}
    assert rows[0].custom_properties == {} and rows[0].geom_custom_properties == {}
    assert gb.decode(bytes(rows[0].geobuf)) == {
        "type": "Feature", "properties": {"n": 1},
        "geometry": {"type": "Point", "coordinates": [13.4, 52.5]},
    }


def test_geobuf_blob_decodes_with_pure_python(spark, features):
    rows = encode_features(features).limit(20).collect()
    for r in rows:
        doc = gb.decode(bytes(r["geobuf"]))
        assert doc["type"] == "Feature"
        assert doc["geometry"]["type"] in (
            "Point", "MultiPoint", "LineString", "MultiLineString",
            "Polygon", "MultiPolygon",
        )


def test_pip_join_matches_scalar_oracle(spark, features):
    admin = generate_admin_polygons()
    got = (
        pip_join(features.select("url", "feature_idx", "lon", "lat"), admin, res=8)
        .select("url", "feature_idx", "admin_id")
        .collect()
    )
    got_set = {(r["url"], r["feature_idx"], r["admin_id"]) for r in got}
    assert len(got_set) == len(got)  # no duplicate pairs from the cover join

    pts = features.select("url", "feature_idx", "lon", "lat").collect()
    expect = set()
    for _, arow in admin.iterrows():
        g = arow["geom"]
        px = np.array([p["lon"] for p in pts])
        py = np.array([p["lat"] for p in pts])
        mask = point_in_wire_polygon(px, py, g["type"], g["dim"], g["lengths"], g["coords"])
        for p, m in zip(pts, mask):
            if m:
                expect.add((p["url"], p["feature_idx"], arow["admin_id"]))
    assert got_set == expect
    assert len(expect) > 50  # join is non-trivial at this corpus size


def test_knn_strategies_agree(spark, features):
    queries = pd.DataFrame(
        {
            "query_id": range(10),
            "lat": [40.8, 51.4, 35.6, 48.9, 55.7, 39.8, 19.5, -23.6, 28.7, 31.3],
            "lon": [-74.1, -0.2, 139.7, 2.4, 37.7, 116.5, -99.0, -46.7, 77.3, 121.5],
        }
    )
    pts = features.select(
        F.xxhash64("url", "feature_idx").alias("point_id"), "lon", "lat")
    qdf = spark.createDataFrame(queries)
    brute = _broadcast_topk(
        pts, qdf.selectExpr("query_id", "lon AS q_lon", "lat AS q_lat"), 5
    ).toPandas()
    rings = knn_distributed(pts, qdf, k=5).toPandas()
    b = brute.sort_values(["query_id", "rank"]).reset_index(drop=True)
    r = rings.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        b[["query_id", "rank", "point_id"]],
        r[["query_id", "rank", "point_id"]],
    )
    assert (b.groupby("query_id").size() == 5).all()


def test_tiles_raster_vector_roundtrip(spark, features):
    raster = rasterize_tiles(features, z=6)
    rpdf = raster.toPandas()
    assert rpdf["n_points"].sum() == features.count()
    # grid sums match tile counts
    assert all(sum(g) == n for g, n in zip(rpdf["grid"], rpdf["n_points"]))
    vec = vectorize_raster(raster).toPandas()
    assert vec["count"].sum() == rpdf["n_points"].sum()
    # every vector pixel polygon actually contains its source points count
    assert (vec["count"] > 0).all()


def test_manifest_resume(spark, tmp_path, pages):
    from geobuf_cpp_spark.plans.manifest import fingerprint, read_manifest, run_stage

    root = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return extract_encode_features(pages).drop("geobuf")

    fp = fingerprint("pages", str(N_PAGES))
    df1 = run_stage(spark, root, "extract", fp, build)
    n1 = df1.count()
    m = read_manifest(root, "extract")
    assert m["status"] == "COMPLETE" and m["rows"] == n1
    assert m["partitions"] and all(p["bytes"] for p in m["partitions"])
    # resume: build() must NOT run again
    df2 = run_stage(spark, root, "extract", fp, build)
    assert calls["n"] == 1
    assert df2.count() == n1
    # changed input fingerprint -> rebuild
    run_stage(spark, root, "extract", fingerprint("pages", "other"), build)
    assert calls["n"] == 2


def test_salted_count_equals_plain(spark, features):
    from geobuf_cpp_spark.plans.partitioning import salted_count

    with_cell = features.withColumn("cell", F.expr(C.sql_cell("lat", "lon", 6)))
    plain = {
        r["cell"]: r["count"]
        for r in with_cell.groupBy("cell").count().collect()
    }
    salted = {
        r["cell"]: r["count"]
        for r in salted_count(with_cell.select("cell", "url"), ["cell"]).collect()
    }
    assert plain == salted


def test_encode_feature_collections(spark, features):
    from geobuf_cpp_spark.functions.udfs import encode_feature_collections

    fc = encode_feature_collections(features)
    rows = fc.limit(10).collect()
    assert rows
    total = fc.agg(F.sum("n_features")).collect()[0][0]
    assert total == features.count()
    for r in rows:
        doc = gb.decode(bytes(r["geobuf"]))
        assert doc["type"] == "FeatureCollection"
        assert len(doc["features"]) == r["n_features"]


def test_pip_join_large_matches_broadcast(spark, features):
    from geobuf_cpp_spark.operators.pip_join import pip_join_large
    from geobuf_cpp_spark.sources.pages import ADMIN_SCHEMA

    admin = generate_admin_polygons()
    admin_df = spark.createDataFrame(admin.to_dict("records"), schema=ADMIN_SCHEMA)
    pts = features.select(
        F.xxhash64("url", "feature_idx").alias("point_id"), "lon", "lat")
    broadcast_out = {
        (r["point_id"], r["admin_id"])
        for r in pip_join(pts, admin, res=8).select("point_id", "admin_id").collect()
    }
    large_out = {
        (r["point_id"], r["admin_id"])
        for r in pip_join_large(pts, admin_df, res=8).collect()
    }
    assert large_out == broadcast_out and len(large_out) > 50


def test_decode_malformed_blob():
    # empty input decodes to the empty document (reference geobuf.cpp:588)
    assert gb.decode(b"") == {}
    # structurally broken inputs raise a clean ValueError, never IndexError
    for bad in (
        b"\x0a\x50short",          # length-delimited field longer than buffer
        b"\xff\xff\xff\xff",       # wire type 7
        bytes.fromhex("2a03080f"), # truncated nested message
    ):
        with pytest.raises(ValueError):
            gb.decode(bad)


def test_pip_join_exact_cover_same_result(spark, features):
    admin = generate_admin_polygons()
    pts = features.select("url", "feature_idx", "lon", "lat")
    a = {(r["url"], r["feature_idx"], r["admin_id"])
         for r in pip_join(pts, admin, res=8).select("url", "feature_idx", "admin_id").collect()}
    b = {(r["url"], r["feature_idx"], r["admin_id"])
         for r in pip_join(pts, admin, res=8, exact_cover=True).select("url", "feature_idx", "admin_id").collect()}
    assert a == b


def _with_neighbours(values):
    """``values`` plus each one's next double below and above."""
    v = np.asarray(values, dtype=np.float64)
    return np.concatenate([v, np.nextafter(v, -np.inf), np.nextafter(v, np.inf)])


def test_cell_of_matches_spark_sql_cell_on_cell_edges(spark):
    """pip_join finds each point's cell with numpy ``cell_of``, the gates'
    SQL with ``sql_cell`` on the JVM: both must agree on every cell edge,
    on the doubles either side of it and at the +-180 / +-90 clamps."""
    from __spark_entry__ import PIP_RES

    for res in (8, PIP_RES):
        n = 1 << res
        k = np.arange(n + 1, dtype=np.float64)
        lon = _with_neighbours(np.r_[k / n * 360.0 - 180.0, -180.0, 180.0])
        lat = _with_neighbours(np.r_[k / n * 180.0 - 90.0, -90.0, 90.0])
        lat = np.concatenate([lat, np.random.default_rng(res).permutation(lat)])
        lon = np.resize(lon, len(lat))
        pdf = pd.DataFrame({"i": np.arange(len(lat)), "lat": lat, "lon": lon})
        got = (
            spark.createDataFrame(pdf)
            .select("i", F.expr(C.sql_cell("lat", "lon", res)).alias("cell"))
            .toPandas().sort_values("i")["cell"].to_numpy()
        )
        assert np.array_equal(got, C.cell_of(lat, lon, res)), res


@pytest.mark.parametrize("res", [8, 6])
def test_pip_join_polygon_on_cell_edges_matches_brute_force(spark, res):
    """An L-shaped polygon whose every vertex is a cell corner, probed at
    the cell edges, their neighbouring doubles and the cell centres:
    pip_join (bbox and exact cover) equals brute-force ``pip_mask``."""
    from geobuf_cpp_spark.functions.geometry import pip_mask

    h, w = C.cell_size_deg(res)
    x0, y0 = 10 * w - 180.0, 40 * h - 90.0  # a cell corner
    ring = np.array([[0, 0], [4, 0], [4, 1], [1, 1], [1, 3], [0, 3], [0, 0]],
                    dtype=np.float64) * [w, h] + [x0, y0]
    admin = pd.DataFrame({"admin_id": [7], "geom": [{
        "type": 4, "dim": 2, "lengths": [len(ring)],
        "coords": ring.ravel().tolist()}]})
    xs = _with_neighbours(x0 + w * np.arange(-1, 6))
    ys = _with_neighbours(y0 + h * np.arange(-1, 5))
    xs = np.r_[xs, x0 + w * (np.arange(-1, 5) + 0.5)]
    ys = np.r_[ys, y0 + h * (np.arange(-1, 4) + 0.5)]
    px, py = (a.ravel() for a in np.meshgrid(xs, ys))
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(len(px)), "lon": px, "lat": py}))
    want = set(np.flatnonzero(pip_mask(px, py, [ring])).tolist())
    assert 0 < len(want) < len(px)
    for exact in (False, True):
        got = [r.point_id for r in pip_join(pts, admin, res, exact).collect()]
        assert sorted(got) == sorted(want), exact


def test_pip_join_null_coordinates_give_no_rows(spark):
    """A null (or NaN) lon or lat has no cell: no output row, and no
    NaN-cast cell 0 candidate even where a polygon covers cell 0."""
    import warnings

    import pyarrow as pa

    from geobuf_cpp_spark.operators import pip_join as PJ

    ring = [-180.0, -90.0, -170.0, -90.0, -170.0, -80.0, -180.0, -80.0,
            -180.0, -90.0]  # covers the cell a NaN cast would land in
    admin = pd.DataFrame({"admin_id": [1], "geom": [
        {"type": 4, "dim": 2, "lengths": [5], "coords": ring}]})
    rows = [(0, -175.0, -85.0), (1, None, -85.0), (2, -175.0, None),
            (3, None, None), (4, float("nan"), -85.0), (5, 0.0, 0.0)]
    pts = spark.createDataFrame(rows, "point_id long, lon double, lat double")
    out = pip_join(pts, admin, res=8)
    assert out.schema.simpleString() == (
        "struct<point_id:bigint,lon:double,lat:double,admin_id:bigint>")
    assert [(r.point_id, r.admin_id) for r in out.collect()] == [(0, 1)]

    # the batch body itself raises no numpy RuntimeWarning on them
    cover = PJ.polygon_coverings(admin, 8)
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(("point_id", "lon", "lat"), r)) for r in rows])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = PJ._pip_batch(batch, 8, cover["cell"].to_numpy(),
                            cover["admin_id"].to_numpy(),
                            {1: PJ._rings(admin["geom"][0])})
    assert got.column("point_id").to_pylist() == [0]


def test_custom_properties_spark_roundtrip(spark, tmp_path):
    """The reference's signature extension — custom members at geometry,
    feature, AND feature-collection level (wire tag 15,
    src/geobuf/geobuf.cpp:381-383,402-404,443-445; data/sample1.json has
    FC-level "key"/"shit me", tests/test_geobuf.py:26-47 has geometry- and
    feature-level extras) — must survive the Spark DataFrame path, not just
    the scalar codec."""
    from geobuf_cpp_spark.functions.udfs import (
        decode_feature_collections,
        decode_features,
        encode_feature_collections,
        encode_features,
    )

    j = gb.json_dumps_canonical
    feat_custom = {"my_key": j("custom"), "shit me": j(42)}
    geom_custom = {"extra_key": j("extra"), "n": j(7)}
    fc_custom = {"key": j("value"), "shit me": j(42)}
    rows = [
        {
            "url": "u1",
            "feature_idx": i,
            "geom": {
                "type": 0, "dim": 2, "lengths": [],
                "coords": [1.25 + i, 2.5],
            },
            "properties": {"name": j(f"p{i}")},
            "custom_properties": feat_custom,
            "geom_custom_properties": geom_custom,
            "fc_custom_properties": fc_custom,
        }
        for i in range(3)
    ]
    schema = (
        "url string, feature_idx int, "
        "geom struct<type: tinyint, dim: tinyint, lengths: array<int>, "
        "coords: array<double>>, properties map<string,string>, "
        "custom_properties map<string,string>, "
        "geom_custom_properties map<string,string>, "
        "fc_custom_properties map<string,string>"
    )
    df = spark.createDataFrame(rows, schema)

    # per-feature path: encode -> decode preserves both custom levels
    back = decode_features(encode_features(df)).collect()
    assert len(back) == 3
    for r in back:
        assert dict(r["custom_properties"]) == feat_custom
        assert dict(r["geom_custom_properties"]) == geom_custom
        assert dict(r["properties"]) == {"name": j(f"p{r['feature_idx']}")}

    # FC path: one blob per url, all three levels preserved per feature row
    fc = encode_feature_collections(df)
    doc = gb.decode(bytes(fc.first()["geobuf"]))
    assert doc["key"] == "value" and doc["shit me"] == 42  # wire-level check
    back_fc = decode_feature_collections(fc).collect()
    assert len(back_fc) == 3
    for r in back_fc:
        assert dict(r["custom_properties"]) == feat_custom
        assert dict(r["geom_custom_properties"]) == geom_custom
        assert dict(r["fc_custom_properties"]) == fc_custom

    # file path: the sink ignores custom columns, the reader adds none;
    # geometry and properties survive
    from geobuf_cpp_spark.sources.geobuf_sink import write_geobuf_files
    from geobuf_cpp_spark.sources.readers import read_geobuf_dir

    out = str(tmp_path / "custom_pbf")
    with_pt = df.withColumn("lon", F.col("geom.coords")[0]).withColumn(
        "lat", F.col("geom.coords")[1]
    )
    manifest = write_geobuf_files(with_pt, out, res=8, max_precision=10**7).toPandas()
    assert manifest["n_features"].sum() == 3
    for p in manifest["path"]:
        doc = gb.decode(open(p, "rb").read())
        assert all(set(f) == {"type", "geometry", "properties"} and
                   set(f["geometry"]) == {"type", "coordinates"}
                   for f in doc["features"])
    files = read_geobuf_dir(spark, out)
    assert files.columns == ["path", "feature_idx", "kind", "geom", "properties"]
    got = sorted(
        (list(r["geom"]["coords"]), dict(r["properties"]), r["kind"])
        for r in files.collect()
    )
    want = sorted(
        (row["geom"]["coords"], row["properties"], "Point") for row in rows
    )
    assert got == want


def test_fc_encode_decode_roundtrip(spark, features):
    from geobuf_cpp_spark.functions.udfs import (
        decode_feature_collections,
        encode_feature_collections,
    )

    fc = encode_feature_collections(features)
    back = decode_feature_collections(fc)
    # every non-null-geometry feature comes back
    assert back.count() == features.count()
    # spot-check geometry equality on a url
    url = features.first()["url"]
    orig = {r["feature_idx"]: r["geom"] for r in features.filter(F.col("url") == url).collect()}
    dec = {r["feature_idx"]: r["geom"] for r in back.filter(F.col("url") == url).collect()}
    assert set(dec) == set(orig)
    for idx in orig:
        assert dec[idx]["type"] == orig[idx]["type"]
        assert len(dec[idx]["coords"]) == len(orig[idx]["coords"])


def test_materialize_geobuf_partition_pruning(spark, features, tmp_path):
    from geobuf_cpp_spark.functions.cells import cell_of, cell_parent
    from geobuf_cpp_spark.plans.partitioning import materialize_geobuf

    out = str(tmp_path / "geobuf_store")
    stored = materialize_geobuf(features, out, res=8, prefix_res=3)
    assert stored.count() == features.count()
    # pick the prefix of the first row; a prefix-filtered read must prune
    one_prefix = stored.select("cell_prefix").first()[0]
    q = stored.filter(F.col("cell_prefix") == one_prefix)
    n_filtered = q.count()
    assert 0 < n_filtered < stored.count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines and any("cell_prefix" in l for l in scan_lines)
    # prefix derived consistently with the kernels
    row = stored.select("lon", "lat", "cell_prefix").first()
    expect = int(cell_parent(cell_of(row["lat"], row["lon"], 8), 8, 3))
    assert row["cell_prefix"] == expect


def test_salt_spreads_hot_key(spark):
    """The round-1 placebo regression: a frame already projected down to
    just the group key must STILL fan a hot key's rows over many salts."""
    from geobuf_cpp_spark.plans.partitioning import salted_count, with_salt

    hot = spark.range(0, 10_000, numPartitions=8).selectExpr("'HOT' AS k")
    salted = with_salt(hot, 16)
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts == 16, f"hot key only spans {n_salts} salt values"
    # partial aggregates per (key, salt) — the phase-1 reducers — must be >1
    partials = salted.groupBy("k", "_salt").count().count()
    assert partials == 16
    # and the final result is still the plain count
    assert salted_count(hot, ["k"]).collect()[0]["count"] == 10_000


def test_aqe_skew_join_splits_hot_key(spark):
    """The north rule's skew claim, exercised end to end: AQE must SPLIT a
    deliberately hot join key at runtime. Sandbox volumes cannot reach the
    production thresholds (256 MB), so the shared demo scales them down —
    the mechanism under test (skew detection + partition splitting in the
    final adaptive plan) is the same one a 100 TB run relies on. The same
    scenario generates the PLANS.md evidence (plans.aqe_demo)."""
    from geobuf_cpp_spark.plans.aqe_demo import run_skew_join_demo

    n, plan = run_skew_join_demo(spark)
    assert n == 200_000
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:2000]
    assert "AQEShuffleRead skewed" in plan, plan[:2000]


def test_knn_distributed_boundary_tie_uses_fallback(spark):
    """kth distance exactly equal to the certification radius must NOT be
    certified (strict <): the query takes the exact fallback path and the
    answer still matches brute force. A query with no candidate in its
    disk takes the fallback too and matches ``_broadcast_topk``."""
    import pandas as pd

    from geobuf_cpp_spark.functions.cells import cell_size_deg

    res, radius = 7, 2  # knn_distributed's fixed grid and disk
    ext = cell_size_deg(res)[0]  # 1.40625, exactly representable
    # query at a cell corner; nearest point at EXACTLY radius*ext
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": [1, 2, 3],
                "lon": [0.0, 0.0, 50.0],
                "lat": [radius * ext, 4.0, 50.0],
            }
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "lat": [0.0], "lon": [0.0]})
    )
    got = knn_distributed(pts, queries, k=1).collect()
    assert len(got) == 1
    assert got[0]["point_id"] == 1
    assert got[0]["dist2"] == (radius * ext) ** 2

    # second input: query 0 is certified (a point sits on it) and query 1
    # has no point in its radius-2 disk, so it is absent from the top-k
    # rows and only the fallback answers it
    qdf = spark.createDataFrame(pd.DataFrame(
        {"query_id": [0, 1], "lat": [50.0, -60.0], "lon": [50.0, -120.0]}))
    got = sorted(tuple(r) for r in knn_distributed(pts, qdf, k=1).collect())
    want = sorted(tuple(r) for r in _broadcast_topk(
        pts, qdf.selectExpr("query_id", "lon AS q_lon", "lat AS q_lat"), 1
    ).collect())
    assert got == want and [r[0] for r in got] == [0, 1]
    assert got[0][2] == 3


def test_read_geobuf_dir(spark, tmp_path):
    """Raw .pbf files (the reference CLI's output unit) read back as a
    feature DataFrame via the binaryFile source + Arrow decode."""
    from geobuf_cpp_spark.sources.readers import read_geobuf_dir

    docs = [
        {"type": "FeatureCollection", "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
             "properties": {"name": "a", "rank": 1}},
            {"type": "Feature",
             "geometry": {"type": "LineString",
                          "coordinates": [[0.0, 0.0], [1.0, 1.0]]},
             "properties": {}},
        ]},
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [-3.25, 4.0]},
         "properties": {"name": "b"}},
        {"type": "Point", "coordinates": [9.0, -9.5]},
    ]
    d = tmp_path / "pbfs"
    d.mkdir()
    for i, doc in enumerate(docs):
        (d / f"doc{i}.pbf").write_bytes(gb.encode(doc))
    (d / "ignored.txt").write_bytes(b"not a pbf")

    got = read_geobuf_dir(spark, str(d)).toPandas()
    assert len(got) == 4  # 2 + 1 + 1, .txt ignored
    assert set(got["kind"]) == {"Point", "LineString"}
    a = got[got["properties"].apply(lambda m: m.get("name") == '"a"')]
    assert len(a) == 1 and list(a.iloc[0]["geom"]["coords"])[:2] == [1.5, 2.5]


def test_geobuf_file_sink_roundtrip(spark, features, tmp_path):
    """write_geobuf_files -> read_geobuf_dir round trip: every feature
    comes back, grouped one FeatureCollection per spatial prefix."""
    from geobuf_cpp_spark.sources.geobuf_sink import write_geobuf_files
    from geobuf_cpp_spark.sources.readers import read_geobuf_dir

    out = str(tmp_path / "pbf_store")
    src = features.select("lon", "lat", "geom", "properties")
    n_in = src.count()
    manifest = write_geobuf_files(src, out, res=8, max_precision=10**7).toPandas()
    assert manifest["n_features"].sum() == n_in
    assert all(manifest["n_bytes"] > 0)
    # files on disk match the manifest byte-for-byte
    import os as _os

    for _, r in manifest.iterrows():
        assert _os.path.getsize(r["path"]) == r["n_bytes"]
    back = read_geobuf_dir(spark, out)
    assert back.count() == n_in
    got_kinds = {r["kind"] for r in back.select("kind").distinct().collect()}
    assert "Point" in got_kinds


def test_repartition_by_cell_prefix_colocates_parents(spark):
    """The explicit cell-prefix hash partitioning the north rule names:
    after repartition_by_cell_prefix, every row of the same parent cell
    sits in ONE partition (spatially-near data is co-located), and the
    child->parent derivation matches the numpy cell_parent kernel."""
    import numpy as np

    from geobuf_cpp_spark.functions.cells import cell_of, cell_parent
    from geobuf_cpp_spark.plans.partitioning import repartition_by_cell_prefix

    rng = np.random.default_rng(5)
    lats = rng.uniform(-80, 80, 400)
    lons = rng.uniform(-170, 170, 400)
    cells = cell_of(lats, lons, 8)
    df = spark.createDataFrame(
        [(int(c),) for c in cells], "cell long")
    out = repartition_by_cell_prefix(df, "cell", res=8, prefix_res=4,
                                     num_partitions=7)
    rows = out.rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, r["cell"]) for r in it]).collect()
    parent_to_parts = {}
    for pid, cell in rows:
        par = int(cell_parent(np.array([cell]), 8, 4)[0])
        parent_to_parts.setdefault(par, set()).add(pid)
    assert len(rows) == 400
    assert all(len(p) == 1 for p in parent_to_parts.values()), {
        k: v for k, v in parent_to_parts.items() if len(v) > 1}
    # and the layout actually spreads across partitions
    assert len({pid for pid, _ in rows}) > 1


# ---------------------------------------------------------------------------
# plan-regression guards: lock PLANS.md's flagship physical-plan claims so a
# silent Catalyst regression (or a careless refactor) cannot demote them.
# Asserted on the initial physical plan at sf0.001 — the properties under
# guard (join strategy, group-limit pushdown, scan-level filter pushdown)
# are decided before AQE re-planning.
# ---------------------------------------------------------------------------

SF_SMALL = "/root/testdata/sf0.001"


def _plan_of(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_guard_pip_join_one_arrow_stage_over_points(spark):
    """PIP join is one Arrow stage over the points scan: no join and no
    exchange of any kind, so the corpus side never shuffles (at 100 TB
    the shuffle IS the cost) and each point crosses to Python once."""
    plan = _plan_of(spark, "pip_boxes_join")
    for node in ("Exchange", "SortMergeJoin", "Join", "CartesianProduct"):
        assert node not in plan, (node, plan[:1500])
    assert plan.count("MapInArrow") == 1, plan[:1500]
    below = plan.split("MapInArrow", 1)[1]
    assert "FileScan parquet" in below and "orders.parquet" in below, plan[:1500]


def test_plan_guard_topk_uses_window_group_limit(spark):
    """Per-group top-k must compile to WindowGroupLimit with a Partial
    (map-side) phase — each task pre-prunes to k rows per group before
    the shuffle, the property that bounds shuffle volume at scale."""
    for name in ("top_docs_per_lang", "last_event_per_user", "merge_upsert"):
        plan = _plan_of(spark, name)
        assert "WindowGroupLimit" in plan, (name, plan[:1500])
        assert "Partial" in plan, (name, plan[:1500])


def test_plan_guard_global_topk_avoids_total_sort(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition heads +
    driver merge), never a full Sort of the aggregate."""
    plan = _plan_of(spark, "hot_cells_topk")
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_plan_guard_stored_filter_reaches_parquet_scan(spark):
    """A stored-column predicate must reach the scan as a PushedFilter,
    and scans must read only the projected columns."""
    plan = _plan_of(spark, "ship_priority")
    assert "PushedFilters: [IsNotNull(c_mktsegment), " in plan, plan[:2000]
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan[:2000]
    # column pruning: the lineitem scan reads exactly its 3 used columns
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,"
        "l_discount:double>" in plan
    ), plan[:2000]


def test_whole_surface_plan_hygiene(spark):
    """Every one of the gate queries compiles without a CartesianProduct,
    uses BroadcastNestedLoopJoin only where a broadcast pairing is the
    declared design, and runs Python stages only in operators whose
    kernels are declared Arrow-batched. A new query that regresses any
    of these fails here before it ships."""
    import __spark_entry__ as entry

    # intentional broadcast nested-loop pairings (small dim side)
    bnlj_ok = {
        "knn", "knn_rings", "knn_geo",  # broadcast query set / fallback
        "nearest_admin", "nearest_admin_geo",  # 25-box dimension
        "quality_deciles",           # broadcast scalar total
        "term_cooccur", "triangle_count",  # broadcast vocab threshold
        "qhist_quantiles",           # broadcast 3-row probability list
        "kmv_overlap",               # broadcast group-pair inequality
        "morans_i",                  # broadcast single-row totals
        "getis_ord",                 # broadcast single-row totals
        "ripley_k",                  # broadcast single-row totals
        "ams_f2",                    # 1-row est x 1-row exact combine
        "admin_neighbors",           # 25-box dimension self-join
        "heavy_hitters",             # broadcast 1-row threshold scalars
        "geofence_events",           # 25-box broadcast PIP dimension
        "pps_sample",                # broadcast 1-row total weight
        "chi2_parts",                # broadcast 1-row grand total
    }
    # declared Arrow-batched Python kernels (codec, geometry, ANN, media)
    python_ok = {
        "admin_areas", "ann_ivf", "ann_topk", "embed_neardup",
        "geom_centroid",
        "geobuf_files", "geobuf_roundtrip", "geobuf_roundtrip_3d",
        "geobuf_size_stats", "geohash_assign", "hilbert_index",
        "hilbert_ranges", "traj_diameter", "heavy_hitters",
        "incremental_neardup", "ivf_pruned", "ivfpq_topk",
        "lsh_neardup", "media_features",
        "media_stats", "minhash_neardup", "pip_boxes_agg", "wav_stats",
        "pip_boxes_join", "pip_concave", "pip_holes", "pip_large",
        "pq_ann_topk", "quadkey_assign", "simhash_neardup", "simplify",
        "hybrid_rrf",
        "star_centroid",
    }
    py_markers = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                  "MapInArrow", "FlatMapGroupsInPandas")
    problems = []
    for name, fn in entry.queries().items():
        # no view outlives a gate: a gate that reads a view it did not
        # bind fails here, not behind an earlier gate's binding
        for view in spark.sql("SHOW VIEWS").collect():
            if view.isTemporary:
                spark.catalog.dropTempView(view.viewName)
        plan = fn(spark, SF_SMALL)._jdf.queryExecution(
            ).executedPlan().toString()
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            problems.append(f"{name}: undeclared BroadcastNestedLoopJoin")
        if any(m in plan for m in py_markers) and name not in python_ok:
            problems.append(f"{name}: undeclared Python stage")
    assert not problems, problems


def test_every_gate_ships_the_package_first(spark, monkeypatch):
    """Every ``queries()`` entry ships the package before its gate
    function runs: a gate's Python stage imports geobuf_cpp_spark on the workers,
    which a session built without ``get_spark`` or ``--py-files`` cannot
    do otherwise."""
    import __spark_entry__ as entry

    class Shipped(Exception):
        pass

    def ship_package(_spark):
        raise Shipped

    monkeypatch.setattr(entry, "ship_package", ship_package)
    unshipped = []
    for name, fn in entry.queries().items():
        try:
            fn(spark, SF_SMALL)
        except Shipped:
            continue
        unshipped.append(name)
    assert unshipped == []
