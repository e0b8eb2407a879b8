"""Round-5 additions: snapshot optimistic concurrency and the new
operator gates.
"""

from __future__ import annotations

import json
import os
import threading

import pytest


# ---------------------------------------------------------------------------
# snapshot optimistic concurrency (VERDICT r4 #8, ADVICE medium)
# ---------------------------------------------------------------------------


def test_concurrent_snapshot_commits_both_land(spark, tmp_path):
    """Two racing committers must serialize under distinct versions with
    neither commit silently lost (the pre-round-5 rename-based publish
    let the later rename clobber the earlier one's manifest)."""
    from geobuf_cpp_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    table = str(tmp_path / "race")
    errors: list[Exception] = []

    def committer(lo: int) -> None:
        try:
            for k in range(3):
                write_snapshot(
                    spark.range(lo + 10 * k, lo + 10 * k + 10)
                    .selectExpr("id"),
                    table, mode="append")
        except Exception as exc:  # pragma: no cover - fail loudly below
            errors.append(exc)

    threads = [threading.Thread(target=committer, args=(lo,))
               for lo in (0, 1000)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    # all 6 commits landed, serialized 1..6, and the head sees every row
    assert snapshot_versions(table) == [1, 2, 3, 4, 5, 6]
    got = sorted(r["id"] for r in read_snapshot(spark, table).collect())
    want = sorted(list(range(0, 30)) + list(range(1000, 1030)))
    assert got == want


def test_publish_manifest_retries_after_lost_cas(spark, tmp_path, monkeypatch):
    """Deterministic CAS-loss: the first os.link attempt raises EEXIST
    (as if a racer published that version first); the publish loop must
    rebuild against the new head and land on the next version."""
    from geobuf_cpp_spark.sources import snapshots as snap

    table = str(tmp_path / "cas")
    snap.write_snapshot(spark.range(0, 5).selectExpr("id"), table,
                        mode="append")  # v1

    real_link = os.link
    state = {"failed": False}

    def flaky_link(src, dst, **kw):
        if not state["failed"]:
            state["failed"] = True
            # simulate the racer: publish a competing v2 first
            competing = snap._manifest_path(table, 2)
            with open(competing + ".rival", "w") as fh:
                json.dump({"version": 2,
                           "data_dirs": snap._read_manifest(table, 1)
                           ["data_dirs"]}, fh)
            os.rename(competing + ".rival", competing)
            raise FileExistsError(dst)
        return real_link(src, dst, **kw)

    monkeypatch.setattr(os, "link", flaky_link)
    v = snap.write_snapshot(spark.range(5, 9).selectExpr("id"), table,
                            mode="append")
    assert v == 3  # lost v2, retried, landed on v3 on top of the rival
    assert state["failed"]
    head = snap._read_manifest(table, 3)
    assert len(head["data_dirs"]) == 2  # rival's lineage + our dir
    assert snap.read_snapshot(spark, table).count() == 9


def test_hll_estimate_parts_merge_and_accuracy(spark):
    """Estimate parts computed from shard-merged registers equal the
    whole-corpus parts (max-idempotence), and resolving them lands
    within HLL's expected error of the true distinct count."""
    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.sketches import (
        hll_estimate_parts,
        hll_estimate_value,
        hll_registers,
    )

    docs = spark.range(0, 3000).selectExpr(
        "id AS doc_id",
        "concat('tok', cast(id % 2200 as string), ' x', "
        "cast(id % 7 as string)) AS text")
    whole = hll_estimate_parts(hll_registers(docs)).collect()[0]

    shards = [hll_registers(docs.filter(f"id % 2 = {i}")) for i in (0, 1)]
    merged_reg = (
        shards[0].unionByName(shards[1])
        .groupBy("bucket").agg(F.max("register").cast("int")
                               .alias("register"))
    )
    merged = hll_estimate_parts(merged_reg).collect()[0]
    assert tuple(whole) == tuple(merged)

    true_distinct = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter("t <> ''").distinct().count()
    )
    est = hll_estimate_value(whole["m"], whole["zero_registers"],
                             whole["den_scaled"])
    # sigma ~ 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(est - true_distinct) / true_distinct < 0.2, (
        est, true_distinct)


def test_quantile_sketch_merge_is_exact(spark):
    """Shard sketches merged with the additive groupBy equal the
    whole-data sketch ROW FOR ROW — the determinism randomized KLL
    cannot promise, and the property that makes the sketch safe to
    build per-partition at any scale."""
    from geobuf_cpp_spark.operators.qsketch import (
        merge_sketches,
        quantile_sketch,
    )

    rows = spark.range(0, 5000).selectExpr(
        "concat('g', cast(id % 3 as string)) AS g",
        "cast((id * id) % 1000000 + id % 97 as bigint) AS v")
    whole = quantile_sketch(rows, "v", "g")
    shards = [quantile_sketch(rows.filter(f"id % 4 = {i}"), "v", "g")
              for i in range(4)]
    merged = merge_sketches(*shards)
    key = ["grp", "bucket", "n", "vmin", "vmax"]
    assert sorted(map(tuple, whole.select(key).collect())) \
        == sorted(map(tuple, merged.select(key).collect()))


def test_sketch_quantiles_bracket_true_quantiles(spark):
    """Every resolved quantile brackets the exact rank-statistic and
    the bracket is tighter than the 2^-m geometric bound; values below
    2^(m+1) come back exact."""
    from geobuf_cpp_spark.operators.qsketch import (
        QSKETCH_M,
        quantile_sketch,
        sketch_quantiles,
    )

    rows = spark.range(0, 20000).selectExpr(
        "'a' AS g", "cast((id * 2654435761) % 3000000 as bigint) AS v")
    got = {r["p_bp"]: r for r in
           sketch_quantiles(quantile_sketch(rows, "v", "g"),
                            (100, 5000, 9900)).collect()}
    vals = sorted(r["v"] for r in rows.collect())
    n = len(vals)
    for p_bp, r in got.items():
        rank = -(-n * p_bp // 10000)  # ceil
        true_v = vals[rank - 1]
        assert r["rank"] == rank and r["n_total"] == n
        assert r["q_lo"] <= true_v <= r["q_hi"], (p_bp, true_v, dict(r))
        assert r["q_hi"] - r["q_lo"] <= max(
            1, r["q_lo"] >> QSKETCH_M), (p_bp, dict(r))
        if true_v < (1 << (QSKETCH_M + 1)):
            assert r["q_lo"] == r["q_hi"] == true_v


def test_geo_self_join_matches_brute_force_sphere(spark):
    """The banded-grid geodetic join finds EXACTLY the brute-force
    quantized-chord pairs on an adversarial set: antimeridian
    straddlers (ix near 0/36000), high-latitude clusters where
    meridians converge (planar blocking would miss these), and
    near-threshold spacings."""
    import math

    from geobuf_cpp_spark.operators.range_join import (
        SPHERE_SCALE,
        chord_threshold,
        geo_self_join,
    )

    r = 100  # 1 degree great-circle radius
    pts = []
    # seam straddlers at several latitudes (iy 8500 = equator)
    for i, iy in enumerate((1500, 8500, 15200)):
        for dx in (0, 30, 80, 35920, 35950, 35990):
            pts.append((100 * i + dx % 97 + len(pts), dx, iy + dx % 13))
    # high-latitude cluster: 1 deg of longitude is ~10 cdeg of arc here
    for j in range(12):
        pts.append((9000 + j, 18000 + 110 * j, 16900 + (j * 7) % 60))
    # mid-lat near-threshold ring
    for j in range(15):
        pts.append((7000 + j, 9000 + 99 * j, 4000 + (j * j) % 150))

    df = spark.createDataFrame(pts, "point_id long, ix long, iy long")
    got = sorted((r_["id_a"], r_["id_b"], r_["c2"])
                 for r_ in geo_self_join(df, r).collect())

    def xyz(ix, iy):
        lat = math.radians((iy - 8500) / 100.0)
        lon = math.radians((ix - 18000) / 100.0)
        s = SPHERE_SCALE
        return (round(s * math.cos(lat) * math.cos(lon)),
                round(s * math.cos(lat) * math.sin(lon)),
                round(s * math.sin(lat)))

    t2 = chord_threshold(r) ** 2
    vecs = {pid: xyz(ix, iy) for pid, ix, iy in pts}
    want = []
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            c2 = sum((u - v) ** 2 for u, v in zip(vecs[a], vecs[b]))
            if c2 <= t2:
                want.append((a, b, c2))
    assert got == sorted(want)
    # the adversarial set must actually exercise the seam and the pole
    seam = [(a, b) for a, b, _ in want
            if abs(dict((p, x) for p, x, _ in pts)[a]
                   - dict((p, x) for p, x, _ in pts)[b]) > 30000]
    polar = [(a, b) for a, b, _ in want if a >= 9000 and b >= 9000]
    assert seam and polar


def test_star_polygon_cover_and_reflex_membership():
    """cover_polygon on the concave star prunes cells the bbox cover
    keeps (the corner quadrants between spikes), and pip_mask resolves
    points around a reflex vertex per the even-odd rule."""
    import numpy as np

    from geobuf_cpp_spark.functions.cells import cover_bbox, cover_polygon
    from geobuf_cpp_spark.functions.geometry import pip_mask
    from geobuf_cpp_spark.sources.points import STAR_OFFSETS

    cx, cy = 18000, 8500  # lattice center -> (0 deg, 0 deg)
    ring = np.array(
        [((cx + ox) / 100.0 - 180.0, (cy + oy) / 100.0 - 85.0)
         for ox, oy in STAR_OFFSETS + STAR_OFFSETS[:1]])
    res = 10  # ~0.35 deg cells vs the 10-deg star: cover can see shape
    bbox = cover_bbox(ring[:, 1].min(), ring[:, 1].max(),
                      ring[:, 0].min(), ring[:, 0].max(), res)
    cover = cover_polygon([ring], res)
    assert set(cover) < set(bbox)  # strictly prunes concave corners
    assert len(cover) < 0.8 * len(bbox)

    # reflex vertex (141, 141): just outside along the diagonal is OUT
    # even though it is deep inside the bbox; toward the center is IN
    pts = {
        "beyond_reflex": (cx + 160, cy + 160, False),
        "inside_reflex": (cx + 120, cy + 120, True),
        "spike_tip_in": (cx + 490, cy + 0, True),
        "spike_gap_out": (cx + 350, cy + 350, False),
        "center": (cx, cy, True),
    }
    px = np.array([(x / 100.0 - 180.0) for x, _, _ in pts.values()])
    py = np.array([(y / 100.0 - 85.0) for _, y, _ in pts.values()])
    got = pip_mask(px, py, [ring])
    for (name, (_, _, want)), g in zip(pts.items(), got):
        assert bool(g) == want, name


def test_incremental_neardup_against_signature_index(spark, tmp_path):
    """A batch dedups against the persisted signature index of the
    corpus; rebuilding the index commits a new snapshot lineage that
    holds only the rebuilt corpus's bands."""
    from geobuf_cpp_spark.operators.incremental import (
        build_signature_index,
        incremental_neardup,
    )
    from geobuf_cpp_spark.sources.snapshots import snapshot_versions

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu")
    other = ("one two three four five six seven eight nine ten "
             "eleven twelve")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = docs([(1, base), (2, other)])
    b1 = docs([(10, base + " nu"),        # near-dup of corpus doc 1
               (11, "totally different words here entirely unique")])
    b2 = docs([(20, base + " nu xi")])    # near-dup of doc 1 AND doc 10

    table = str(tmp_path / "sigidx")
    assert build_signature_index(corpus, table) == 1

    p1 = incremental_neardup(spark, b1, corpus, table, threshold=0.5)
    assert sorted((r["id_a"], r["id_b"]) for r in p1.collect()) == [(10, 1)]

    # a rebuild over batch 1 alone starts a new lineage: doc 1 is no
    # longer indexed, so batch 2 only finds doc 10
    assert build_signature_index(b1, table) == 2
    assert snapshot_versions(table) == [1, 2]
    p2 = incremental_neardup(spark, b2, corpus.unionByName(b1), table,
                             threshold=0.5)
    assert sorted((r["id_a"], r["id_b"]) for r in p2.collect()) \
        == [(20, 10)]


def test_hll_grouped_shard_merge(spark):
    """Grouped register tables merge across shards by idempotent max —
    the union-then-max of shard sketches equals the whole-corpus
    grouped sketch."""
    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.sketches import hll_registers_grouped

    docs = spark.range(0, 2000).selectExpr(
        "concat('L', cast(id % 3 as string)) AS lang",
        "concat('w', cast(id % 700 as string), ' z', "
        "cast(id % 11 as string)) AS text")
    whole = hll_registers_grouped(docs)
    shards = [hll_registers_grouped(docs.filter(f"id % 2 = {i}"))
              for i in (0, 1)]
    merged = (
        shards[0].unionByName(shards[1])
        .groupBy("grp", "bucket")
        .agg(F.max("register").cast("int").alias("register"))
    )
    assert sorted(map(tuple, whole.collect())) \
        == sorted(map(tuple, merged.collect()))


def test_qbucket_sql_matches_bit_math_reference():
    """The generated log-linear bucket CASE (as DuckDB executes it)
    equals an independent bit-length reference over the full BIGINT
    domain — fuzzed across octaves including the 2^k boundaries."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geobuf_cpp_spark.operators.qsketch import QSKETCH_M, sql_qbucket

    sql = sql_qbucket("v").replace(" div ", " // ")
    con = duckdb.connect()

    def reference(v: int, m: int = QSKETCH_M) -> int:
        e = v.bit_length() - 1 if v > 0 else 0
        if e <= m:
            return v
        return (e - m) * (1 << m) + (v >> (e - m))

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(
        st.integers(min_value=0, max_value=2**63 - 1),
        # boundary-adjacent values at every octave
        st.integers(min_value=0, max_value=61).flatmap(
            lambda e: st.integers(min_value=max((1 << e) - 2, 0),
                                  max_value=(1 << e) + 2)),
    ))
    def check(v):
        got = con.execute(
            f"SELECT {sql} FROM (SELECT CAST({v} AS BIGINT) AS v)"
        ).fetchone()[0]
        assert got == reference(v), v

    check()


# ---------------------------------------------------------------------------
# late round-5 operators: skyline, trends, boilerplate, domains, centroids
# ---------------------------------------------------------------------------


def test_skyline_matches_bruteforce_with_duplicates(spark):
    """The two-window dominance encoding must agree with the O(n^2)
    definition, including ties on either axis; exact duplicates on the
    frontier both survive (neither dominates the other)."""
    import random

    from geobuf_cpp_spark.operators.skyline import skyline2d

    rnd = random.Random(7)
    rows = [(i, rnd.randrange(20), rnd.randrange(20)) for i in range(300)]
    rows += [(1000, 0, 100), (1001, 0, 100)]  # duplicate frontier points

    def dominated(p):
        return any(
            (q[1] < p[1] and q[2] >= p[2]) or (q[1] <= p[1] and q[2] > p[2])
            for q in rows
        )

    want = {p for p in rows if not dominated(p)}
    df = spark.createDataFrame(rows, "id long, cost long, gain long")
    got = {tuple(r) for r in skyline2d(df, "cost", "gain", "id").collect()}
    assert got == want
    assert {(1000, 0, 100), (1001, 0, 100)} <= got


def test_skyline_block_count_invariant(spark):
    """Local pruning must be lossless: any block partitioning yields the
    same frontier (a locally dominated row is globally dominated)."""
    import random

    from geobuf_cpp_spark.operators.skyline import _survivors, skyline2d

    rnd = random.Random(11)
    rows = [(i, rnd.randrange(50), rnd.randrange(50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, cost long, gain long")
    # one block: the exact global pass alone; many: skyline2d's 64 blocks
    one = {tuple(r) for r in
           _survivors(df, "cost", "gain", []).collect()}
    many = {tuple(r) for r in
            skyline2d(df, "cost", "gain", "id").collect()}
    want = {p for p in rows if not any(
        (q[1] < p[1] and q[2] >= p[2]) or (q[1] <= p[1] and q[2] > p[2])
        for q in rows)}
    assert one == many == want


def test_group_trend_recovers_planted_slope(spark):
    """A noiseless planted line value = 7 + 1.25*hour must yield
    slope_num/slope_den == exactly 1250 milli-units/hour and intercept
    (at x0) == 7000 milli-units."""
    from datetime import datetime, timedelta

    from geobuf_cpp_spark.operators.trends import group_trend

    t0 = datetime(2024, 3, 1)
    rows = [
        ("a", t0 + timedelta(hours=i), 7.0 + 1.25 * i) for i in range(48)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double")
    [r] = group_trend(df).collect()
    num, den, icept = int(r.slope_num), int(r.slope_den), int(r.icept_num)
    assert den > 0 and num == 1250 * den
    assert icept == 7000 * den
    assert r.n == 48


def test_group_trend_degenerate_single_bucket(spark):
    """All events in one hour bucket: slope_den == 0 and both numerators
    == 0 — the caller sees an explicit 0/0, never a crash."""
    from datetime import datetime, timedelta

    from geobuf_cpp_spark.operators.trends import group_trend

    t0 = datetime(2024, 3, 1)
    rows = [("a", t0 + timedelta(seconds=i), float(i)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double")
    [r] = group_trend(df).collect()
    assert int(r.slope_den) == 0 and int(r.slope_num) == 0


def test_boilerplate_flags_planted_header_only_when_frequent(spark):
    """A chunk shared by every doc of a source is boilerplate there; a
    single-doc source produces none (df >= 2 floor); unique tails are
    never flagged."""
    from geobuf_cpp_spark.operators.dedup import boilerplate_chunks

    header = "home about contact privacy terms login search srcA"
    rows = [
        (i, "srcA", f"{header} unique{i} tail{i} words{i} here{i}")
        for i in range(5)
    ] + [(99, "srcB", f"{header.replace('srcA', 'srcB')} lone doc")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r for r in
           boilerplate_chunks(df, chunk_words=8).collect()}
    for i in range(5):
        assert out[i].n_boiler == 1           # exactly the header chunk
        assert out[i].boiler_words == 8
        assert out[i].n_chunks == 2
    assert out[99].n_boiler == 0              # df=1 in srcB


def test_domain_rollup_counts(spark):
    """Host/path/query decomposition and the eTLD+1 grouping."""
    from geobuf_cpp_spark.operators.webstats import domain_rollup

    rows = [
        ("https://www.ex.com/a?x=1", "en", 10),
        ("https://blog.ex.com/a", "en", 20),
        ("https://www.ex.com/b", "de", 30),
        ("https://www.other.org/z", "en", 5),
    ]
    df = spark.createDataFrame(rows, "url string, lang string, n_chars long")
    out = {r.reg_domain: r for r in domain_rollup(df).collect()}
    ex = out["ex.com"]
    assert (ex.n_docs, ex.n_hosts, ex.n_paths, ex.n_langs) == (3, 2, 2, 2)
    assert ex.total_chars == 60 and ex.n_with_query == 1
    assert out["other.org"].n_docs == 1


def test_centroids_hole_subtraction_and_orientation(spark):
    """10x10 outer minus 2x2 hole at (2..4, 2..4): area 96, cx6 = cy6 =
    6*(100*5 - 4*3) = 2928 — and the result must be identical whether
    the hole ring is wound CW or CCW (per-ring sign normalization)."""
    from geobuf_cpp_spark.operators.geom_stats import centroids
    from geobuf_cpp_spark.sources.pages import ADMIN_SCHEMA

    outer = [0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0]
    hole_ccw = [2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0, 2.0, 2.0]
    hole_cw = [2.0, 2.0, 2.0, 4.0, 4.0, 4.0, 4.0, 2.0, 2.0, 2.0]
    rows = [
        {"admin_id": k,
         "geom": {"type": 4, "dim": 2, "lengths": [5, 5],
                  "coords": outer + hole}}
        for k, hole in ((0, hole_ccw), (1, hole_cw))
    ]
    df = spark.createDataFrame(rows, schema=ADMIN_SCHEMA)
    out = {r.admin_id: r for r in centroids(df).collect()}
    for k in (0, 1):
        assert out[k].area == 96.0
        assert out[k].cx6 == 2928.0 and out[k].cy6 == 2928.0


def test_compact_cover_reconstructs_and_is_minimal(spark):
    """Expanding every compacted cell back to its finest-resolution
    descendants must reproduce the original cover EXACTLY (coverage
    preserved, no overlap), and no full 4-sibling group may survive at
    any level (minimality)."""
    from geobuf_cpp_spark.functions.cells import RES_BASE, cell_parent
    from geobuf_cpp_spark.operators.compact import compact_cover

    res, min_res = 6, 3
    # an L-shaped region: grid rows 0..15 x cols 0..15 minus a quadrant
    cells = [
        (1, res * RES_BASE + y * (1 << res) + x)
        for y in range(16)
        for x in range(16)
        if not (y >= 8 and x >= 8)
    ]
    df = spark.createDataFrame(cells, "admin_id long, cell long")
    comp = compact_cover(df, res, min_res).collect()

    # minimality: per (admin, level) no 4 siblings all present
    by_level: dict[int, set[int]] = {}
    for r in comp:
        by_level.setdefault(r.res, set()).add(r.cell)
    for lvl, cs in by_level.items():
        if lvl == min_res:
            continue
        from collections import Counter

        sibs = Counter(int(cell_parent([c], lvl, lvl - 1)[0]) for c in cs)
        assert all(v < 4 for v in sibs.values()), (lvl, sibs)

    # reconstruction: expand everything to `res` and compare exactly
    def descendants(cell, lvl):
        if lvl == res:
            return [cell]
        n = 1 << lvl
        local = cell - lvl * RES_BASE
        iy, ix = divmod(local, n)
        out = []
        for dy in (0, 1):
            for dx in (0, 1):
                child = ((lvl + 1) * RES_BASE
                         + (2 * iy + dy) * (2 << lvl) + (2 * ix + dx))
                out.extend(descendants(child, lvl + 1))
        return out

    flat = []
    for r in comp:
        flat.extend(descendants(r.cell, r.res))
    assert sorted(flat) == sorted(c for _, c in cells)


def test_lm_surprisal_hand_computed(spark):
    """Exact whole-bit surprisal on a corpus small enough to score by
    hand; sub-2-token docs produce no row."""
    from geobuf_cpp_spark.operators.textstats import lm_surprisal

    rows = [
        (0, "a b a b"),   # bigrams: ab, ba, ab
        (1, "a b c"),     # bigrams: ab, bc
        (2, "solo"),      # no bigrams
    ]
    # corpus: c2(ab)=3, c2(ba)=1, c2(bc)=1; prefixes c1(a)=3, c1(b)=2.
    # ab: flog2(3)-flog2(3) = 0 bits; ba: flog2(2)-flog2(1) = 1;
    # bc: 1. doc0 = 0+1+0 = 1 bit, doc1 = 0+1 = 1 bit.
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in lm_surprisal(df).collect()}
    assert set(out) == {0, 1}
    assert (out[0].n_bigrams, out[0].surprisal_bits) == (3, 1)
    assert (out[1].n_bigrams, out[1].surprisal_bits) == (2, 1)


def test_morans_i_sign_and_exact_parts(spark):
    """Two adjacent occupied cells with counts (3, 1): N=2, T=4, devs
    (N*x - T) = (+2, -2), one forward pair -> num = 2*(2*-2) = -8,
    W = 2, den = 8: I = (N/W)*(num/den) = -1 (perfect dispersion)."""
    from geobuf_cpp_spark.functions.cells import cell_center
    from geobuf_cpp_spark.operators.spatial_stats import morans_i_parts

    res = 8
    # counts 3 and 1 planted at the centers of two x-adjacent cells
    base_cell = res * (1 << 52) + 100 * (1 << res) + 100
    lat0, lon0 = cell_center(base_cell, res)
    lat1, lon1 = cell_center(base_cell + 1, res)
    pts = [(float(lat0), float(lon0))] * 3 + [(float(lat1), float(lon1))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    [r] = morans_i_parts(df, res).collect()
    assert (r.n_cells, r.w_pairs) == (2, 2)
    assert (int(r.num), int(r.den)) == (-8, 8)


def test_morans_i_clustered_positive(spark):
    """A smooth blob (equal counts in a 3x3 block) autocorrelates
    positively against a distant outlier cell."""
    from geobuf_cpp_spark.functions.cells import cell_center
    from geobuf_cpp_spark.operators.spatial_stats import morans_i_parts

    res = 8
    pts = []
    for dy in range(3):
        for dx in range(3):
            c = res * (1 << 52) + (50 + dy) * (1 << res) + (50 + dx)
            lat, lon = cell_center(c, res)
            pts += [(float(lat), float(lon))] * 5
    far = res * (1 << 52) + 200 * (1 << res) + 200
    lat, lon = cell_center(far, res)
    pts += [(float(lat), float(lon))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    [r] = morans_i_parts(df, res).collect()
    n, w, num, den = r.n_cells, r.w_pairs, int(r.num), int(r.den)
    assert den > 0 and w > 0
    # blob devs are small vs the outlier's, so den is outlier-dominated:
    # I = (10/40)*(640/1440) ~ 0.11 — positive is the signal here
    assert num > 0 and (n * num) / (w * den) > 0.1


def test_getis_ord_hand_computed(spark):
    """Two x-adjacent occupied cells with counts (3, 1): each has the
    other as its one neighbor plus itself, so k=2 and local_sum=4 for
    both; N=2, T=4 -> gi_num = 2*4 - 2*4 = 0 for both (a two-cell
    field has no hotspot relative to its own mean), ssq = 9+1 = 10."""
    from geobuf_cpp_spark.functions.cells import cell_center
    from geobuf_cpp_spark.operators.spatial_stats import getis_ord_parts

    res = 8
    base_cell = res * (1 << 52) + 100 * (1 << res) + 100
    lat0, lon0 = cell_center(base_cell, res)
    lat1, lon1 = cell_center(base_cell + 1, res)
    pts = [(float(lat0), float(lon0))] * 3 + [(float(lat1), float(lon1))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rows = {r.cell: r for r in getis_ord_parts(df, res).collect()}
    assert set(rows) == {base_cell, base_cell + 1}
    for r in rows.values():
        assert (r.k, r.local_sum, r.gi_num) == (2, 4, 0)
        assert (r.n_cells, r.t_sum, int(r.ssq)) == (2, 4, 10)


def test_getis_ord_hotspot_sign(spark):
    """A 5-point cell inside a 3x3 blob of 1-point cells vs a distant
    1-point outlier: the blob center's gi_num is positive (hotspot),
    the outlier's negative (cold relative to the global mean)."""
    from geobuf_cpp_spark.functions.cells import cell_center
    from geobuf_cpp_spark.operators.spatial_stats import getis_ord_parts

    res = 8
    pts = []
    center = None
    for dy in range(3):
        for dx in range(3):
            c = res * (1 << 52) + (50 + dy) * (1 << res) + (50 + dx)
            lat, lon = cell_center(c, res)
            n = 5 if (dy, dx) == (1, 1) else 1
            if (dy, dx) == (1, 1):
                center = c
            pts += [(float(lat), float(lon))] * n
    far = res * (1 << 52) + 200 * (1 << res) + 200
    lat, lon = cell_center(far, res)
    pts += [(float(lat), float(lon))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rows = {r.cell: r for r in getis_ord_parts(df, res).collect()}
    assert len(rows) == 10
    # center: k=9, local_sum=13, N=10, T=14 -> 10*13 - 9*14 = 4 > 0
    assert rows[center].gi_num == 4
    # outlier: k=1, local_sum=1 -> 10*1 - 1*14 = -4 < 0
    assert rows[far].gi_num == -4


def test_kmeans_lite_hand_computed_1d(spark):
    """1-D, k=2, rounds=2: seeds 0.0 / 0.1; after round 1 the c1
    centroid drifts right (members 0.1, 1.0, 1.1), so round 2
    reassigns 0.1 to c0 — final clusters {0.0, 0.1} and {1.0, 1.1}
    with exact integer sums."""
    import numpy as np

    from geobuf_cpp_spark.operators.ann import kmeans_lite

    scale = 1 << 20
    vecs = [(0, [0.0]), (1, [0.1]), (2, [1.0]), (3, [1.1])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r.cluster_id: r for r in
           kmeans_lite(df, k=2, rounds=2, scale=scale).collect()}
    q = lambda v: round(float(np.float32(v)) * scale)  # noqa: E731
    assert (out[0].n, out[0].qsum) == (2, q(0.0) + q(0.1))
    assert (out[1].n, out[1].qsum) == (2, q(1.0) + q(1.1))


def test_markov_transitions_hand_computed(spark):
    """User 1: a -> a -> b (self-loop counted); user 2: a -> b.
    Transitions: (a,a)=1, (a,b)=2, from_total(a)=3."""
    import datetime as dt

    from geobuf_cpp_spark.operators.cohorts import markov_transitions

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, 1, t0, "a"), (2, 1, t0 + dt.timedelta(60), "a"),
        (3, 1, t0 + dt.timedelta(120), "b"),
        (4, 2, t0, "a"), (5, 2, t0 + dt.timedelta(60), "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = {(r.from_state, r.to_state): r
           for r in markov_transitions(df).collect()}
    assert set(out) == {("a", "a"), ("a", "b")}
    assert (out[("a", "a")].n_transitions, out[("a", "a")].from_total) == (1, 3)
    assert (out[("a", "b")].n_transitions, out[("a", "b")].from_total) == (2, 3)


def test_snap_to_segments_argmin_and_tiebreak(spark):
    """Point (1000,1000): segment 1 (horizontal, perpendicular distance
    5) ties the degenerate segment 2 (endpoint distance 5) at exactly
    25*scale -> the seg-id tiebreak keeps 1. Point (2000,2000) snaps to
    its only candidate at distance 1."""
    from geobuf_cpp_spark.operators.segments import (
        _point_seg_candidates,
        snap_to_segments,
    )

    pts = spark.createDataFrame(
        [(1, 1000, 1000), (2, 2000, 2000)], "point_id long, ix long, iy long")
    segs = spark.createDataFrame(
        [(1, 990, 1005, 1010, 1005),   # horizontal, 5 above the point
         (2, 1003, 1004, 1003, 1004),  # degenerate at distance 5
         (4, 2001, 1990, 2001, 2010)], # vertical, 1 right of point 2
        "seg_id long, ax long, ay long, bx long, by long")
    out = {r.point_id: r for r in
           snap_to_segments(_point_seg_candidates(
               pts, segs, 100, 512, "point_id", "seg_id")).collect()}
    scale = 1 << 20
    assert (out[1].seg_id, out[1].dist2_scaled) == (1, 25 * scale)
    assert (out[2].seg_id, out[2].dist2_scaled) == (4, 1 * scale)


def test_ripley_k_counts_nested(spark):
    """Pair counts are cumulative in r and match brute force on a tiny
    planted cloud (three points at pairwise distances 25, 50, 75)."""
    from geobuf_cpp_spark.operators.range_join import range_self_join

    from pyspark.sql import functions as F

    # collinear: p0=(0,0), p1=(25,0), p2=(75,0): d(0,1)=25, d(1,2)=50,
    # d(0,2)=75 -> pairs within 30: 1; within 60: 2; within 100: 3
    pts = spark.createDataFrame(
        [(0, 1000, 8000), (1, 1025, 8000), (2, 1075, 8000)],
        "point_id long, ix long, iy long")
    pairs = range_self_join(pts, 100)
    got = pairs.agg(*[
        F.sum(F.when(F.col("d2") <= r * r, 1).otherwise(0)).alias(f"p{r}")
        for r in (30, 60, 100)
    ]).collect()[0]
    assert (got.p30, got.p60, got.p100) == (1, 2, 3)


def test_mad_outliers_hand_computed(spark):
    """Group g: values [1, 2, 3, 4, 100]. Lower median = 3, deviations
    [2, 1, 0, 1, 97] -> MAD = 1; outliers are dev > 3*1: only 100.
    Group h: constant values -> MAD 0, every unequal value an outlier
    (none here)."""
    from geobuf_cpp_spark.operators.grouped_stats import mad_outliers

    rows = [("g", v) for v in (1, 2, 3, 4, 100)] + [("h", 7)] * 3
    df = spark.createDataFrame(rows, "grp string, y long")
    out = {r.grp: r for r in mad_outliers(df, "grp", "y").collect()}
    g = out["g"]
    assert (g.n_rows, g.med, g.mad, g.n_outliers) == (5, 3, 1, 1)
    h = out["h"]
    assert (h.n_rows, h.med, h.mad, h.n_outliers) == (3, 7, 0, 0)


def test_sql_isqrt_exact_past_2_53(spark):
    """The corrected floor-sqrt is exact at the top of the chord^2
    domain, where the raw double seed can be off by one."""
    from geobuf_cpp_spark.operators.trajectory import sql_isqrt_exact

    x = 2 * 10 ** 9
    cases = [0, 1, 2, 3, 4, x * x, x * x - 1, (x - 1) * (x - 1),
             (x - 1) * (x - 1) - 1, x * x + 2 * x,  # = (x+1)^2 - 1
             2 ** 53 + 1, (94906265 ** 2) - 1, 94906265 ** 2]
    df = spark.createDataFrame([(v,) for v in cases], "n long")
    out = df.selectExpr("n", sql_isqrt_exact("n") + " AS s").collect()
    import math
    for r in out:
        assert r.s == math.isqrt(r.n), (r.n, r.s)


def test_geo_path_stats_equator_quarter(spark):
    """Two pings 90 deg apart on the equator: one step whose chord is
    isqrt(dx^2+dy^2+dz^2) of the quantized sphere vectors (computed
    independently in Python), ~ scale*sqrt(2)."""
    import datetime as dt
    import math

    from geobuf_cpp_spark.operators.range_join import SPHERE_SCALE
    from geobuf_cpp_spark.operators.trajectory import geo_path_stats

    def quant(ix, iy):
        lat = math.radians((iy - 8500) / 100.0)
        lon = math.radians((ix - 18000) / 100.0)
        s = SPHERE_SCALE
        return (round(s * math.cos(lat) * math.cos(lon)),
                round(s * math.cos(lat) * math.sin(lon)),
                round(s * math.sin(lat)))

    t0 = dt.datetime(2026, 1, 1)
    # equator (iy=8500), lon 0 and lon 90E (ix 18000 and 27000)
    rows = [(1, 7, t0, 18000, 8500),
            (2, 7, t0 + dt.timedelta(60), 27000, 8500)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    [r] = geo_path_stats(df).collect()
    a, b = quant(18000, 8500), quant(27000, 8500)
    d2 = sum((ai - bi) ** 2 for ai, bi in zip(a, b))
    want = math.isqrt(d2)
    assert (r.n_steps, r.chord_len, r.max_step) == (1, want, want)
    assert abs(want - SPHERE_SCALE * math.sqrt(2)) <= 2


def test_od_matrix_hand_computed(spark):
    """User 1 walks zones 0 -> 1 -> 1 -> 0 (the stay emits nothing),
    user 2 makes 0 -> 1 once: flow (0,1) has 2 trips / 2 users,
    flow (1,0) has 1 trip / 1 user."""
    import datetime as dt

    from geobuf_cpp_spark.operators.trajectory import od_matrix

    t0 = dt.datetime(2026, 1, 1)

    def ping(eid, uid, sec, ix, iy):
        return (eid, uid, t0 + dt.timedelta(seconds=sec), ix, iy)

    rows = [
        ping(1, 1, 0, 10, 10),      # zone 0
        ping(2, 1, 60, 2300, 10),   # zone 1
        ping(3, 1, 120, 2400, 10),  # zone 1 (stay — dropped)
        ping(4, 1, 180, 5, 5),      # zone 0
        ping(5, 2, 0, 0, 0),        # zone 0
        ping(6, 2, 60, 3000, 0),    # zone 1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    out = {(r.cell_from, r.cell_to): r for r in od_matrix(df).collect()}
    assert set(out) == {(0, 1), (1, 0)}
    assert (out[(0, 1)].n_trips, out[(0, 1)].n_users) == (2, 2)
    assert (out[(1, 0)].n_trips, out[(1, 0)].n_users) == (1, 1)


def test_importance_weights_matches_pure_python(spark):
    """Replicates the bucket hash (md5 bytes 8/9) and whole-bit log
    ratio in pure Python and checks every doc's score exactly."""
    import hashlib
    from collections import Counter

    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.curation import importance_weights

    docs = {0: ("en", "aa bb aa"), 1: ("de", "bb cc"),
            2: ("en", "cc dd")}
    df = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in docs.items()],
        "doc_id long, lang string, text string")
    out = {r.doc_id: r for r in importance_weights(
        df, F.col("lang") == "en", n_buckets=4096).collect()}

    def bucket(tok):
        d = hashlib.md5((tok + "|0").encode()).digest()
        return (d[8] + 256 * d[9]) % 4096

    a_cnt, t_cnt = Counter(), Counter()
    for lang, text in docs.values():
        for tok in text.split():
            a_cnt[bucket(tok)] += 1
            if lang == "en":
                t_cnt[bucket(tok)] += 1

    def flog2(v):
        return v.bit_length() - 1

    for did, (lang, text) in docs.items():
        toks = text.split()
        score = sum(
            flog2(t_cnt[bucket(x)] + 1) - flog2(a_cnt[bucket(x)] + 1)
            for x in toks)
        assert (out[did].n_toks, out[did].logratio_bits) == (
            len(toks), score), did


def test_kmv_overlap_exact_small_vocab(spark):
    """Vocabularies smaller than k make the sketches exact sets, so the
    overlap counts are exact set algebra: identical vocab -> full
    intersection, disjoint -> zero, one shared token -> one."""
    from geobuf_cpp_spark.operators.sketches import kmv_overlap

    rows = [("a", "x y z"), ("b", "x y z"), ("c", "p q r"),
            ("d", "x p q")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r.source_a, r.source_b): r
           for r in kmv_overlap(df, k=8).collect()}
    assert len(out) == 6
    assert (out[("a", "b")].k_union, out[("a", "b")].n_common) == (3, 3)
    assert (out[("a", "c")].k_union, out[("a", "c")].n_common) == (6, 0)
    assert (out[("a", "d")].k_union, out[("a", "d")].n_common) == (5, 1)


def test_kmv_overlap_union_sketch_is_kmv_of_union(spark):
    """Mergeability: the pair (a, b) union sketch's theta equals the kth
    smallest hash of the combined corpus's own KMV sketch."""
    from geobuf_cpp_spark.operators.sketches import (
        KMV_K,
        kmv_overlap,
        kmv_sketch,
    )

    k = KMV_K
    a = " ".join(f"t{i}" for i in range(20))
    b = " ".join(f"t{i}" for i in range(10, 30))
    df = spark.createDataFrame([("a", a), ("b", b)],
                               "source string, text string")
    [pair] = kmv_overlap(df, k=k).collect()
    combined = spark.createDataFrame([(a + " " + b,)], "text string")
    ref = kmv_sketch(combined).collect()
    assert pair.k_union == k
    assert pair.theta == max(r.hash_val for r in ref)


def test_pagerank_dangling_chain(spark, loop_paths):
    """a->b only, base=100, damp=85%: a gets pure teleport 15; b's
    inflow decays 100 -> 15 across rounds, fixpoint b = 15 + 85% of
    (15 div 1) = 27. Dangling b leaks its rank — documented. Both
    paths."""
    from geobuf_cpp_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1)], "src string, dst string, w long")
    nodes = spark.createDataFrame([("a",), ("b",)], "node string")
    for cap in loop_paths():
        out = {r.node: r.pr for r in pagerank(
            edges, nodes, n_iter=5, base=100, damp_pct=85).collect()}
        assert out == {"a": 15, "b": 27}, cap


def test_pagerank_weighted_split(spark, loop_paths):
    """a->b w=3, a->c w=1 (deg 4): after a's rank settles at teleport
    15, contribution 15 div 4 = 3 per weight unit -> b = 15 +
    (3*3)*85//100 = 22, c = 15 + 3*85//100 = 17. Both paths."""
    from geobuf_cpp_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "src string, dst string, w long")
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "node string")
    for cap in loop_paths():
        out = {r.node: r.pr for r in pagerank(
            edges, nodes, n_iter=5, base=100, damp_pct=85).collect()}
        assert out == {"a": 15, "b": 22, "c": 17}, cap


def test_ngram_repetition_hand_computed(spark):
    """'a a a b': 2-grams (aa, aa, ab) -> 3 grams, 2 dup occurrences of
    1 distinct gram; 3-grams all unique; a 1-token doc emits no rows."""
    from geobuf_cpp_spark.operators.textstats import ngram_repetition

    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "x")], "doc_id long, text string")
    out = {(r.doc_id, r.n): r
           for r in ngram_repetition(df).collect()}
    assert set(out) == {(0, 2), (0, 3)}
    r2, r3 = out[(0, 2)], out[(0, 3)]
    assert (r2.n_grams, r2.dup_occurrences, r2.dup_distinct) == (3, 2, 1)
    assert (r3.n_grams, r3.dup_occurrences, r3.dup_distinct) == (2, 0, 0)


def test_cdc_chunks_shift_robust(spark):
    """The CDC selling point: prepending a word to a long shared text
    leaves every chunk after the first boundary identical, so most
    chunks still dedup across the two revisions. With fixed 8-word
    windows the same edit would misalign every window. Also checks the
    per-doc chunk count equals boundaries+1 replayed in pure Python."""
    import hashlib

    from geobuf_cpp_spark.operators.dedup import cdc_chunk_dedup

    words = [f"w{i}" for i in range(200)]

    def low64_mod(word: str, m: int) -> int:
        dig = hashlib.md5(word.encode()).digest()
        return int.from_bytes(dig[8:16], "little") % m

    mod = 4
    base = " ".join(words)
    shifted = "zzz " + base  # one-word prepend, a new revision
    df = spark.createDataFrame(
        [(0, base), (1, shifted)], "doc_id long, text string")
    out = {r.doc_id: r for r in cdc_chunk_dedup(df, mod).collect()}

    # pure-python replay of the boundary rule for the base doc
    n_chunks = 1 + sum(1 for w in words[:-1] if low64_mod(w, mod) == 0)
    assert out[0].n_chunks == n_chunks
    # every chunk after the first boundary is shared between revisions:
    # at most ONE chunk per doc (the head chunk) fails to dedup
    assert out[0].n_chunks - out[0].n_dup_chunks <= 1
    assert out[1].n_chunks - out[1].n_dup_chunks <= 1
    assert out[0].n_dup_chunks >= n_chunks - 1


def test_bfs_hops_path_graph_two_sources(spark, loop_paths):
    """Path 0-1-2-3-4-5-6 plus isolated 9; sources {0, 6}, rounds=2:
    hops are the min over the two seeds, nodes 3 (center, dist 3) and 9
    (unreachable) are absent. Both paths."""
    from geobuf_cpp_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long")
    src = spark.createDataFrame([(0,), (6,)], "id long")
    for cap in loop_paths():
        out = {r.id: r.hops for r in bfs_hops(edges, src, 2).collect()}
        assert out == {0: 0, 6: 0, 1: 1, 5: 1, 2: 2, 4: 2}, cap


def test_bfs_hops_early_stop_and_min_over_seeds(spark, loop_paths):
    """Triangle 0-1-2 with both 0 and 1 as seeds, generous rounds:
    frontier drains after round 1 (early stop), node 2 keeps hop 1.
    Both paths."""
    from geobuf_cpp_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "id_a long, id_b long")
    src = spark.createDataFrame([(0,), (1,)], "id long")
    for cap in loop_paths():
        out = {r.id: r.hops for r in bfs_hops(edges, src, 10).collect()}
        assert out == {0: 0, 1: 0, 2: 1}, cap


def test_ams_sketch_linear_merge_and_replay(spark):
    """AMS is a LINEAR sketch: counters of two shards sum to the
    counters of the union; every counter equals a pure-python replay of
    the md5-low-64 parity signs; est_f2 is the 5th-smallest squared
    counter and exact_f2 matches the hand count."""
    import hashlib

    from geobuf_cpp_spark.operators.sketches import ams_f2, ams_sketch

    def sign(word: str, r: int) -> int:
        dig = hashlib.md5(word.encode()).digest()
        bit = (int.from_bytes(dig[8:16], "little") >> r) & 1
        return 1 if bit == 0 else -1

    shard_a = [(0, "a b b"), (1, "c a")]
    shard_b = [(2, "b b b d")]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string")
    ca = {r.r: r.counter for r in ams_sketch(mk(shard_a)).collect()}
    cb = {r.r: r.counter for r in ams_sketch(mk(shard_b)).collect()}
    cu = {r.r: r.counter
          for r in ams_sketch(mk(shard_a + shard_b)).collect()}
    toks = "a b b c a b b b d".split()
    for r in range(9):
        assert ca[r] + cb[r] == cu[r]
        assert cu[r] == sum(sign(t, r) for t in toks)

    row = ams_f2(mk(shard_a + shard_b),
                 ams_sketch(mk(shard_a + shard_b))).collect()[0]
    # counts: a=2, b=5, c=1, d=1 -> F2 = 4+25+1+1 = 31
    assert row.exact_f2 == 31
    sq = sorted((cu[r] * cu[r], r) for r in range(9))
    assert row.est_f2 == sq[4][0]


def test_kcore_peeling_cascade(spark, loop_paths):
    """Clique {0,1,2,3} (deg 3) plus a pendant chain 3-4-5: k=2 peels 5
    (deg 1), then 4 (its degree FELL to 1 — the cascade), leaving the
    clique; every survivor reports its within-core degree 3. k=4 peels
    everything. Both paths."""
    from geobuf_cpp_spark.operators.graph import kcore

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(
        clique + [(3, 4), (4, 5)], "id_a long, id_b long")
    for cap in loop_paths():
        out = {r.node: r.deg for r in kcore(edges, 2, 4).collect()}
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}, cap
        assert kcore(edges, 4, 4).count() == 0, cap


def _on_both_paths(loop_paths, build):
    """Sorted rows and dtypes of ``build()`` on the driver path, then on
    the distributed path."""
    out = []
    for _ in loop_paths():
        df = build()
        out.append((sorted(map(tuple, df.collect()), key=repr), df.dtypes))
    return out


def test_pagerank_paths_agree(spark, loop_paths):
    """Seeded host graph with string ids: sinks (no out-edges), a ranked
    node with no edges, an edge into an unranked node and one out of an
    unranked node. Both paths give the same rows and dtypes."""
    import random

    from geobuf_cpp_spark.operators.graph import pagerank

    rng = random.Random(11)
    hosts = [f"h{i}" for i in range(30)]
    edges = {(rng.choice(hosts[:24]), rng.choice(hosts)): rng.randint(1, 9)
             for _ in range(120)}
    edges = [(a, b, w) for (a, b), w in edges.items() if a != b]
    edges += [("h3", "unranked", 4), ("unranked", "h5", 2)]
    edges_df = spark.createDataFrame(edges, "src string, dst string, w long")
    nodes = spark.createDataFrame([(h,) for h in hosts + ["lonely"]],
                                  "node string")
    driver, dist = _on_both_paths(
        loop_paths, lambda: pagerank(edges_df, nodes, 5, 10 ** 9, 85))
    assert driver == dist
    assert len(driver[0]) == 31 and driver[1] == [("node", "string"),
                                                  ("pr", "bigint")]


def test_pagerank_overflow_raises_on_both_paths(spark, loop_paths):
    """A weight whose product with a rank leaves BIGINT raises, as ANSI
    mode does, on the driver path too (degree 2^62 + 1 - 2^62 = 1)."""
    from pyspark.errors import ArithmeticException

    from geobuf_cpp_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b", 2 ** 62), ("a", "c", 1 - 2 ** 62)],
                                  "src string, dst string, w long")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    for _ in loop_paths():
        with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
            pagerank(edges, nodes, 5, 100, 85).collect()


def test_bfs_hops_paths_agree(spark, loop_paths):
    """Seeded random graph, a source id listed twice (emitted twice with
    hop 0) and a source outside the graph: same rows and dtypes."""
    import random

    from geobuf_cpp_spark.operators.graph import bfs_hops

    rng = random.Random(5)
    edges = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(70)],
        "id_a long, id_b long")
    src = spark.createDataFrame([(0,), (0,), (17,), (999,)], "id long")
    driver, dist = _on_both_paths(loop_paths,
                                  lambda: bfs_hops(edges, src, 3))
    assert driver == dist
    assert [r for r in driver[0] if r[1] == 0] == [(0, 0), (0, 0), (17, 0),
                                                  (999, 0)]
    assert driver[1] == [("id", "bigint"), ("hops", "bigint")]


def test_kcore_paths_agree(spark, loop_paths):
    """Seeded graph with duplicate edges (each row counts toward the
    degree) and two disconnected dense parts; a k that peels everything
    gives the same empty result with the same dtypes."""
    import random

    from geobuf_cpp_spark.operators.graph import kcore

    rng = random.Random(3)
    rows = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    rows += [(a, b) for a in range(20, 26) for b in range(a + 1, 26)]
    rows += [(rng.randrange(40), rng.randrange(40)) for _ in range(40)]
    rows += rows[:12]
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    driver, dist = _on_both_paths(loop_paths, lambda: kcore(edges, 5, 4))
    assert driver == dist and len(driver[0]) >= 10
    driver, dist = _on_both_paths(loop_paths, lambda: kcore(edges, 99, 4))
    assert driver == dist and driver[0] == []
    assert driver[1] == [("node", "bigint"), ("deg", "bigint")]


def _coactive_pairs_brute(events, min_days):
    """Per-day self-join on the driver: user pairs (a < b) sharing at
    least ``min_days`` distinct active days."""
    import collections
    import itertools

    days = collections.defaultdict(set)
    for user, ts in events:
        days[ts.date()].add(user)
    shared = collections.Counter(
        pair for users in days.values()
        for pair in itertools.combinations(sorted(users), 2))
    return {pair for pair, n in shared.items() if n >= min_days}


def test_coactivity_edges_across_day_chunks(spark):
    """The multi-chunk edge build (a day span of 64 or more) against the
    brute-force per-day self-join: a seeded 150-day calendar, and a
    30-day window at days 50-79 behind one early event, so the window
    straddles the 64-day chunk boundary. There a pair sharing 14 days
    in the first chunk and 11 in the second is an edge (25 days), and
    one sharing 14 and 10 is not."""
    import datetime
    import random

    from __spark_entry__ import KCORE_MIN_DAYS
    from geobuf_cpp_spark.operators.graph import coactivity_edges

    assert KCORE_MIN_DAYS == 25
    day0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rng = random.Random(17)

    def at(day):
        return day0 + datetime.timedelta(days=day,
                                         seconds=rng.randrange(86400))

    long_cal = [(u, at(d)) for u in range(12) for d in range(150)
                if rng.random() < 0.4 for _ in range(rng.randint(1, 2))]
    window = [(99, at(0))]
    window += [(u, at(d)) for u in range(10) for d in range(50, 80)
               if rng.random() < 0.85]
    window += [(u, at(d)) for u, days in ((20, range(50, 75)),
                                          (21, range(50, 75)),
                                          (22, range(50, 74)),
                                          (23, range(50, 74)))
               for d in days]
    for events in (long_cal, window):
        span = max(ts for _, ts in events) - min(ts for _, ts in events)
        assert span.days >= 64
        df = spark.createDataFrame(events, "user_id long, ts timestamp")
        got = {tuple(r) for r in coactivity_edges(df, KCORE_MIN_DAYS)
               .collect()}
        want = _coactive_pairs_brute(events, KCORE_MIN_DAYS)
        assert got == want and 0 < len(want)
    assert (20, 21) in got and (22, 23) not in got


def test_dedup_clusters_paths_agree(spark, loop_paths):
    """Seeded pairs whose endpoints 50-59 are absent from docs_df: both
    paths label them, and give the same rows and dtypes."""
    import random

    from geobuf_cpp_spark.operators.dedup import dedup_clusters

    rng = random.Random(9)
    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    pairs = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(30)],
        "id_a long, id_b long")
    driver, dist = _on_both_paths(loop_paths,
                                  lambda: dedup_clusters(docs, pairs))
    assert driver == dist
    assert {r[0] for r in driver[0]} > set(range(50))
    assert driver[1] == [("doc_id", "bigint"), ("cluster_id", "bigint")]


def test_small_driver_results_are_local_relations(spark):
    """Under Arrow, ``createDataFrame(pandas, schema)`` keeps a frame
    below ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) on the driver as a ``LocalRelation``: a small graph's
    driver-path result of ``kcore`` or ``bfs_hops`` is read back from
    the plan, not from an RDD."""
    from geobuf_cpp_spark.operators.graph import bfs_hops, kcore

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "id_a long, id_b long")
    src = spark.createDataFrame([(0,)], "id long")
    for df in (kcore(edges, 2, 3), bfs_hops(edges, src, 2)):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_probe_does_not_rerun_the_edge_build(spark, monkeypatch):
    """A probe that declines (cutoff below the graph size) reads the
    loop's checkpointed pairs. It fires exactly one job more than the
    same call with the probe stubbed out, and the operator reads its
    input edges as often as one pass over them does (counted by an
    accumulator in the input's map), so the edge build is not run
    twice."""
    import geobuf_cpp_spark.operators.dedup as D
    import geobuf_cpp_spark.operators.graph as G

    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def counted(batches):
        for pdf in batches:
            reads.add(len(pdf))
            yield pdf

    # the shuffle after the counted map makes any re-run of the build
    # read every input row, as a real edge build's aggregates do
    edges = (spark.range(0, 400, numPartitions=4)
             .selectExpr("id % 97 AS id_a", "(id * 7) % 89 AS id_b")
             .mapInPandas(counted, "id_a long, id_b long").distinct())
    docs = spark.range(0, 120).selectExpr("id AS doc_id")
    ops = {"kcore": lambda: G.kcore(edges, 3, 1),
           "bfs_hops": lambda: G.bfs_hops(
               edges, docs.selectExpr("doc_id AS id").limit(3), 1),
           "dedup_clusters": lambda: D.dedup_clusters(docs, edges)}

    def run(name, group):
        reads.value = 0
        sc.setJobGroup(group, group)
        try:
            ops[name]().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), reads.value

    edges.count()
    one_build = reads.value
    for name in ops:
        monkeypatch.setattr(G, "DRIVER_LOOP_MAX_EDGES", 1)
        probed, probed_reads = run(name, f"probe-{name}")
        monkeypatch.setattr(G, "_driver_rows", lambda df: None)
        unprobed, _ = run(name, f"no-probe-{name}")
        monkeypatch.undo()
        assert probed == unprobed + 1, (name, probed, unprobed)
        assert probed_reads == one_build, (name, probed_reads, one_build)


def test_driver_paths_build_no_doubled_edge_list(spark, monkeypatch):
    """Below the cutoff, bfs_hops, kcore and dedup_clusters run from the
    probed pairs alone: neither ``_doubled_edges`` nor any repartition
    (the distributed rounds' edge-list layout) is called."""
    from pyspark.sql import DataFrame

    import geobuf_cpp_spark.operators.dedup as D
    import geobuf_cpp_spark.operators.graph as G

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (7, 8)],
                                  "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long")
    seeds = spark.createDataFrame([(1,)], "id long")

    def forbid(name):
        def called(*args, **kwargs):
            raise AssertionError(f"a driver path called {name}")
        return called

    monkeypatch.setattr(G, "_doubled_edges", forbid("_doubled_edges"))
    monkeypatch.setattr(D, "_doubled_edges", forbid("_doubled_edges"),
                        raising=False)
    monkeypatch.setattr(DataFrame, "repartition", forbid("repartition"))
    hops = sorted(map(tuple, G.bfs_hops(edges, seeds, 2).collect()))
    core = sorted(map(tuple, G.kcore(edges, 2, 3).collect()))
    clusters = dict(map(tuple, D.dedup_clusters(docs, edges).collect()))
    assert hops == [(1, 0), (2, 1), (3, 1), (4, 2)]
    assert core == [(1, 2), (2, 2), (3, 2)]
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 7, 8: 7,
                        9: 9}


def test_ngram_jaccard_matches_python_sets_on_boilerplate_corpus(spark):
    """On a corpus where every doc shares a boilerplate shingle (the
    worst case for the inverted-index join: every pair meets on it),
    the exact Jaccard pairs equal a pure-Python set Jaccard over the
    same 3-word shingles, jaccard values included. A doc shorter than
    one shingle has an empty set and pairs with nothing."""
    from itertools import combinations

    from geobuf_cpp_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_sets,
    )

    boiler = "copyright acme corp"
    rows = [
        (0, f"{boiler} alpha beta gamma delta"),
        (1, f"{boiler} alpha beta gamma epsilon"),
        (2, f"{boiler} zeta eta theta iota"),
        (3, f"{boiler} zeta eta theta kappa"),
        (4, f"{boiler} solo unique words here"),
        (5, "short doc"),
    ]
    sets = {}
    for d, text in rows:
        toks = text.split(" ")
        sets[d] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.5:
            want[(a, b)] = j
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(shingle_sets(df), 0.5).collect()}
    assert got == pytest.approx(want)
    assert set(want) == {(0, 1), (2, 3)}


def test_cell_dwell_hand_computed(spark):
    """One user, zone sequence A A B A (10s apart): zone A gets 3
    pings, 2 visits (the run is broken by B), dwell 10+10+0s charged to
    starting pings; B gets 1 ping, 1 visit, 10s."""
    import datetime as dt

    from geobuf_cpp_spark.operators.trajectory import cell_dwell

    t0 = dt.datetime(2026, 1, 1)
    # cell_w=2250: ix=0 -> zone 0 (A); ix=3000 -> zone 1 (B); iy=0
    rows = [
        (1, 7, t0, 0, 0),
        (2, 7, t0 + dt.timedelta(seconds=10), 100, 0),
        (3, 7, t0 + dt.timedelta(seconds=20), 3000, 0),
        (4, 7, t0 + dt.timedelta(seconds=30), 50, 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    out = {r.cell: r for r in cell_dwell(df).collect()}
    assert (out[0].n_pings, out[0].n_visits, out[0].dwell_secs) == (3, 2, 20)
    assert (out[1].n_pings, out[1].n_visits, out[1].dwell_secs) == (1, 1, 10)


def test_source_quality_wilson_bound_properties(spark):
    """Wilson LB (z=2): matches the closed form on hand counts, and the
    3/3 source does NOT outrank the 95/100 one even though its raw rate
    is 1.0 — the reason the bound exists."""
    import math

    from geobuf_cpp_spark.operators.textstats import source_quality_ci

    good_doc = " ".join(["word"] * 20)      # keep=1 (20 toks, len 4)
    bad_doc = "x y"                          # keep=0 (2 tokens < 10)
    rows = ([(i, good_doc, "tiny") for i in range(3)]
            + [(100 + i, good_doc, "big") for i in range(95)]
            + [(300 + i, bad_doc, "big") for i in range(5)])
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in source_quality_ci(df).collect()}

    def lb(x, n):
        return ((x + 2) - 2 * math.sqrt((x * (n - x) + n) / n)) / (n + 4)

    for src, (x, n) in {"tiny": (3, 3), "big": (95, 100)}.items():
        r = out[src]
        assert (r.n_docs, r.n_keep) == (n, x)
        # integer parts resolve to the closed form within isqrt flooring
        assert abs(r.lb_num / r.lb_den - lb(x, n)) < 1e-4
    assert (out["tiny"].lb_num * out["big"].lb_den
            < out["big"].lb_num * out["tiny"].lb_den)


def test_robots_filter_longest_prefix_wins(spark):
    """Google-rule semantics: /p1 disallows, the LONGER /p1/en
    re-allows; /p1/enx matches the allow too (prefix semantics); no
    rule -> default allow; other hosts unaffected by this host's
    rules."""
    from geobuf_cpp_spark.operators.curation import robots_filter

    urls = spark.createDataFrame(
        [(0, "a", "/p1/fr"), (1, "a", "/p1/en"), (2, "a", "/p1/enx"),
         (3, "a", "/q"), (4, "b", "/p1/fr")],
        "doc_id long, host string, path string")
    rules = spark.createDataFrame(
        [("a", "/p1", 0), ("a", "/p1/en", 1)],
        "host string, prefix string, allow int")
    out = {r.doc_id: (r.matched_prefix, r.allowed)
           for r in robots_filter(urls, rules).collect()}
    assert out == {0: ("/p1", 0), 1: ("/p1/en", 1), 2: ("/p1/en", 1),
                   3: ("", 1), 4: ("", 1)}


def test_cusum_changepoint_planted_step(spark):
    """Rate steps 1/hour -> 3/hour at hour 4 of 8: |s| peaks exactly at
    the last pre-change hour (h0+3), s negative there (below-mean
    run); n-scaled s at the peak = sum(8*c - 16) over 4 hours = -32."""
    import datetime as dt

    from geobuf_cpp_spark.operators.cohorts import cusum_changepoint

    t0 = dt.datetime(2026, 1, 1)
    rows, eid = [], 0
    for h in range(8):
        per = 1 if h < 4 else 3
        for k in range(per):
            rows.append((eid, 1, t0 + dt.timedelta(hours=h, minutes=k),
                         "click"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    r = cusum_changepoint(df).collect()[0]
    h0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
    assert (r.n_hours, r.total) == (8, 16)
    assert r.peak_hour == h0 + 3
    assert r.peak_s == -32


def test_snapshot_schema_evolution_and_time_travel(spark, tmp_path):
    """Additive evolution: the v2 append introduces a column; the
    latest read NULL-fills pre-evolution rows, time travel to v1 keeps
    the OLD schema (no phantom column), and a TYPE change on a shared
    column is refused rather than coerced."""
    import pytest as _pytest

    from geobuf_cpp_spark.sources.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "en"), (2, "fr")], "id long, lang string")
    write_snapshot(v1, t, mode="overwrite")
    v2 = spark.createDataFrame([(3, "de", 10)],
                               "id long, lang string, n long")
    write_snapshot(v2, t, mode="append")

    latest = read_snapshot(spark, t)
    assert set(latest.columns) == {"id", "lang", "n"}
    rows = {r.id: r.n for r in latest.collect()}
    assert rows == {1: None, 2: None, 3: 10}
    assert read_snapshot(spark, t, version=1).columns == ["id", "lang"]

    bad = spark.createDataFrame([("x", "en")], "id string, lang string")
    write_snapshot(bad, t, mode="append")
    with _pytest.raises(Exception):
        read_snapshot(spark, t).collect()


def test_self_crossings_figure_eight_and_straight(spark):
    """A bowtie track counts exactly 1 crossing (steps 1 and 3 cross at
    the center); a straight-line track counts 0; adjacent steps sharing
    an endpoint never count."""
    import datetime as dt

    from geobuf_cpp_spark.operators.trajectory import self_crossings

    t0 = dt.datetime(2026, 1, 1)

    def ping(eid, uid, k, x, y):
        return (eid, uid, t0 + dt.timedelta(minutes=k), x, y)

    # user 1 bowtie: (0,0)->(10,10)->(10,0)->(0,10): step 1 [(0,0)-(10,10)]
    # and step 3 [(10,0)-(0,10)] cross at (5,5); middle step adjacent to both
    # user 2 straight line: no crossings
    rows = [
        ping(1, 1, 0, 0, 0), ping(2, 1, 1, 10, 10),
        ping(3, 1, 2, 10, 0), ping(4, 1, 3, 0, 10),
        ping(5, 2, 0, 0, 0), ping(6, 2, 1, 5, 0), ping(7, 2, 2, 9, 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    out = {r.user_id: r for r in self_crossings(df).collect()}
    assert (out[1].n_segs, out[1].n_crossings) == (3, 1)
    assert (out[2].n_segs, out[2].n_crossings) == (2, 0)


def test_ams_grouped_sums_to_global(spark):
    """Group counters are a partition of the global sketch: summing
    per-source AMS counters over sources reproduces ams_sketch exactly
    (linearity again, now across the group dimension)."""
    from geobuf_cpp_spark.operators.sketches import (
        ams_sketch,
        ams_sketch_grouped,
    )

    rows = [(0, "a b b", "s1"), (1, "c a", "s2"), (2, "b d", "s1")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    grouped = ams_sketch_grouped(df).collect()
    glob = {r.r: r.counter for r in ams_sketch(df).collect()}
    acc = {}
    for r in grouped:
        acc[r.r] = acc.get(r.r, 0) + r.counter
    assert acc == glob


def test_cdc_partition_invariant(spark):
    """cdc_chunk_dedup is order-sensitive and must not depend on input
    partitioning: it rebuilds chunk text via sort_array (collect_list
    alone is order-unstable). Same corpus at 1 and 13 partitions ->
    identical rows."""
    from geobuf_cpp_spark.operators.dedup import cdc_chunk_dedup

    rows = [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30)))
            for i in range(24)]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, cdc_chunk_dedup(base.repartition(1), 8).collect()))
    b = sorted(map(tuple, cdc_chunk_dedup(base.repartition(13), 8).collect()))
    assert a == b and a


def test_grid_cluster_geo_matches_interval_union_find(spark, loop_paths):
    """Geodetic dense-cell components equal a scalar union-find over the
    same adjacency, derived independently here as INTERVAL OVERLAP (cell
    expanded one own-width each side vs the other band's cells) rather
    than the operator's floor-division enumeration — the two must agree
    exactly, on the driver path and on the distributed one. High-latitude
    bands exercise unequal adjacent widths."""
    from geobuf_cpp_spark.operators.clustering import (
        GEO_CELL_BASE,
        grid_cluster_geo,
    )
    from geobuf_cpp_spark.operators.range_join import geo_band_widths

    r, min_pts = 300, 2
    widths = dict(geo_band_widths(r))
    pts, pid = [], 0
    for i in range(240):
        ix = (i * 2654435761) % 36000
        iy = 15000 + (i * 40503) % 2000      # bands 50..56 (lat 65-85N)
        for _ in range(2 if i % 3 else 1):   # every 3rd point stays sparse
            pts.append((pid, ix, iy))
            pid += 1
    df = spark.createDataFrame(pts, "point_id long, ix long, iy long")
    got = [{(row.band, row.cx): (row.n_points, row.cluster_id)
            for row in grid_cluster_geo(df, r, min_pts).collect()}
           for _ in loop_paths()]

    from collections import Counter
    cnt = Counter((iy // r, ix // widths[iy // r]) for _, ix, iy in pts)
    dense = {c: n for c, n in cnt.items() if n >= min_pts}
    parent = {c: c for c in dense}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)   # root stays component min

    for b1, c1 in dense:
        w1 = widths[b1]
        if (b1, c1 + 1) in dense:
            union((b1, c1), (b1, c1 + 1))
        if b1 + 1 in widths:
            w2 = widths[b1 + 1]
            for bb, c2 in dense:
                if (bb == b1 + 1
                        and c2 * w2 <= (c1 + 2) * w1 - 1
                        and (c2 + 1) * w2 - 1 >= (c1 - 1) * w1):
                    union((b1, c1), (bb, c2))
    expect = {c: (n, find(c)[0] * GEO_CELL_BASE + find(c)[1])
              for c, n in dense.items()}
    assert got == [expect, expect] and len(dense) > 10
    # the fixture must actually exercise a cross-band merge
    assert any(find(c)[0] != c[0] for c in dense)


def test_hilbert_coarse_ranges_cover_and_skip(spark, tmp_path):
    """(a) Exhaustive cover: every bbox cell's Hilbert index falls in
    some planned interval, intervals are sorted/disjoint and respect the
    cap. (b) The 100 TB point: on a hilbert-range-clustered layout the
    planned intervals let the zone map skip most files."""
    import numpy as np

    from geobuf_cpp_spark.functions.hilbert import (
        hilbert_coarse_ranges,
        hilbert_d,
    )
    from geobuf_cpp_spark.plans.zonemap import collect_zone_map, prune_files

    order = 7                       # 128x128 — exhaustive check is cheap
    # (0, 127, 63, 64): a 2-row strip across the curve's middle fold has
    # 85 raw runs at the fine order, so the gap fusion down to 64 runs
    for bbox in [(5, 90, 17, 73), (0, 127, 0, 127), (33, 34, 90, 90),
                 (0, 127, 63, 64)]:
        x0, x1, y0, y1 = bbox
        plan = hilbert_coarse_ranges(x0, x1, y0, y1, order)
        assert 1 <= len(plan) <= 64
        assert all(lo <= hi for lo, hi in plan)
        assert all(plan[i][1] < plan[i + 1][0] for i in range(len(plan) - 1))
        gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        d = hilbert_d(gx.ravel(), gy.ravel(), order)
        starts = np.array([lo for lo, _ in plan])
        idx = np.searchsorted(starts, d, side="right") - 1
        assert (idx >= 0).all()
        assert (d <= np.array([hi for _, hi in plan])[idx]).all()
        if bbox == (0, 127, 63, 64):
            ds = np.sort(d)
            assert 1 + int((np.diff(ds) != 1).sum()) > 64
            assert len(plan) == 64

    # file-skip: 16 range-clustered files, a small bbox's intervals
    # must not touch most of them
    n, order = 4096, 7
    xs = (np.arange(n) * 2654435761 % 128).tolist()
    ys = (np.arange(n) * 40503 % 128).tolist()
    h = hilbert_d(np.array(xs), np.array(ys), order).tolist()
    df = spark.createDataFrame(
        list(zip(range(n), xs, ys, h)), "id long, x long, y long, h long")
    path = str(tmp_path / "hsorted")
    df.repartitionByRange(16, "h").write.mode("overwrite").parquet(path)
    zmap = collect_zone_map(spark, path, ["h"]).cache()
    n_files = zmap.count()
    plan = hilbert_coarse_ranges(40, 55, 40, 55, order)
    touched = set()
    for lo, hi in plan:
        touched.update(prune_files(zmap, "h", lo, hi))
    assert n_files == 16 and len(touched) <= n_files // 2
    # and the pruned read still finds exactly the bbox rows
    got = 0
    for lo, hi in plan:
        files = prune_files(zmap, "h", lo, hi)
        if not files:
            continue
        got += (
            spark.read.parquet(*files)
            .where(f"h BETWEEN {lo} AND {hi} "
                   "AND x BETWEEN 40 AND 55 AND y BETWEEN 40 AND 55")
            .count()
        )
    expect = sum(1 for x, y in zip(xs, ys) if 40 <= x <= 55 and 40 <= y <= 55)
    assert got == expect > 0
    zmap.unpersist()


def test_colocation_pairs_matches_bruteforce(spark):
    """Blocked 2x2x2 contact join == the O(n^2) brute force, on a
    fixture salted with exact-boundary pairs (distance == radius,
    dt == tau, both-side block edges) and same-user near-pairs that
    must NOT count."""
    import datetime as dt
    import itertools

    from geobuf_cpp_spark.operators.colocation import colocation_pairs

    r, tau = 50, 600
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ping(u, sec, x, y):
        nonlocal eid
        eid += 1
        rows.append((eid, u, t0 + dt.timedelta(seconds=sec), x, y))

    ping(1, 0, 1000, 1000)
    ping(2, 600, 1050, 1000)       # dt == tau, dx == r: counts
    ping(3, 601, 1000, 1050)       # dt == tau + 1 vs u1: no
    ping(4, 300, 1051, 1000)       # dx == r + 1 vs u1: no
    ping(1, 200, 1049, 930)        # same-user near u1's first: no pair
                                   # (dy 70 > r from u2/u3/u4's pings)
    ping(5, 100, 99, 599)          # straddles block corner (w = 100)
    ping(6, 150, 101, 601)         # counts with u5
    for i in range(40):            # pseudo-random cloud
        ping(7 + i % 5, (i * 977) % 2000, (i * 313) % 400,
             (i * 661) % 400)
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    got = {(x.user_a, x.user_b): x.n_contacts
           for x in colocation_pairs(df, r, tau).collect()}

    brute = {}
    for a, b in itertools.combinations(rows, 2):
        if a[1] == b[1]:
            continue
        if (abs((a[2] - b[2]).total_seconds()) <= tau
                and abs(a[3] - b[3]) <= r and abs(a[4] - b[4]) <= r):
            k = tuple(sorted((a[1], b[1])))
            brute[k] = brute.get(k, 0) + 1
    assert got == brute
    # boundary probes against u1 ping#1: dt == tau and dx == r count,
    # dt == tau + 1 (u3) and dx == r + 1 (u4) do not
    assert got[(1, 2)] == 1 and (1, 3) not in got and (1, 4) not in got
    assert got[(5, 6)] == 1


def test_traj_diameter_matches_bruteforce(spark):
    """Hull + rotating calipers through the operator == all-pairs max,
    including singleton (diam2 = 0), duplicate-point, and collinear
    tracks."""
    from geobuf_cpp_spark.operators.trajectory import traj_diameter

    rows, eid = [], 0
    tracks = {
        1: [(0, 0)],                               # singleton
        2: [(5, 5), (5, 5), (5, 5)],               # all-duplicate
        3: [(0, 0), (10, 10), (20, 20), (30, 30)],  # collinear
        4: [((i * 37) % 100, (i * 59) % 100) for i in range(25)],
        5: [(0, 0), (100, 0), (50, 87), (50, 30)],  # interior point
    }
    for u, pts in tracks.items():
        for x, y in pts:
            eid += 1
            rows.append((u, x, y))
    df = spark.createDataFrame(rows, "user_id long, ix long, iy long")
    got = {x.user_id: (x.n_pings, x.diam2)
           for x in traj_diameter(df).collect()}
    for u, pts in tracks.items():
        brute = max((a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
                    for a in pts for b in pts)
        assert got[u] == (len(pts), brute), u


def test_kde_density_matches_bruteforce(spark):
    """Explode-join KDE == direct per-cell kernel sums over all points;
    kernel support boundary (d2 == r2 excluded) exercised."""
    from geobuf_cpp_spark.operators.spatial_stats import kde_density

    r = 10
    pts = [(i, (i * 37) % 55, (i * 23) % 40) for i in range(80)]
    # plant an exact-boundary pair: center of cell (9,9) is (95, 95)
    pts.append((900, 95 + r, 95))          # d2 == r2 from that center: out
    pts.append((901, 95, 95))              # occupies cell (9, 9)
    df = spark.createDataFrame(pts, "point_id long, ix long, iy long")
    got = {(x.cx, x.cy): (x.n_points, x.density)
           for x in kde_density(df, r).collect()}

    from collections import Counter
    occ = Counter((x // r, y // r) for _, x, y in pts)
    expect = {}
    for (cx, cy), n in occ.items():
        ccx, ccy = cx * r + r // 2, cy * r + r // 2
        dens = sum(r * r - ((x - ccx) ** 2 + (y - ccy) ** 2)
                   for _, x, y in pts
                   if (x - ccx) ** 2 + (y - ccy) ** 2 < r * r)
        expect[(cx, cy)] = (n, dens)
    assert got == expect
    # the planted boundary point contributes to its own cell but not
    # to (9,9)'s center at exactly d2 == r2
    assert (10, 9) in got


def test_inverted_index_postings_sorted_and_pruned(spark):
    from geobuf_cpp_spark.operators.textstats import inverted_index

    docs = spark.createDataFrame(
        [(10, "b a a"), (2, "a c"), (1, "a  b")],
        "doc_id long, text string")
    got = {x.term: (x.df, x.postings)
           for x in inverted_index(docs, min_df=2).collect()}
    # numeric sort (1,2,10), per-doc dedup of the double 'a', empty
    # token from the double space dropped, hapax 'c' pruned
    assert got == {"a": (3, "1,2,10"), "b": (2, "1,10")}


def test_rect_union_area_overlaps_and_gaps(spark):
    """Union area of overlapping + disjoint + nested boxes == the
    brute-force lattice count; per-slab rows carry exact coverage."""
    from geobuf_cpp_spark.operators.spatial_stats import rect_union_area

    boxes = [
        (1, 0, 0, 10, 10),        # base
        (2, 5, 5, 15, 12),        # overlaps 1
        (3, 20, 0, 25, 4),        # disjoint
        (4, 1, 1, 3, 3),          # nested inside 1
        (5, -7, -5, -2, -1),      # negative quadrant
    ]
    df = spark.createDataFrame(
        boxes, "admin_id long, lon0 long, lat0 long, lon1 long, lat1 long")
    rows = rect_union_area(df).collect()
    total = sum(r.area for r in rows)
    # brute force over unit lattice cells
    brute = sum(
        1
        for x in range(-10, 30)
        for y in range(-10, 15)
        if any(x0 <= x < x1 and y0 <= y < y1
               for _, x0, y0, x1, y1 in boxes)
    )
    assert total == brute
    # every slab's covered length <= slab count of any y-range
    for r in rows:
        assert 0 < r.covered and r.area == (r.slab_x1 - r.slab_x0) * r.covered


def test_adaptive_quadtree_leaves_partition_points(spark):
    """Leaves are disjoint, cover every point, and obey the cap except
    at forced max depth."""
    from geobuf_cpp_spark.operators.tiles import adaptive_quadtree

    # clustered + sparse points: dense blob at origin, scatter elsewhere
    pts = [(i, i % 40, (i * 7) % 40) for i in range(400)]
    pts += [(1000 + i, 30000 + (i * 13) % 5000, 10000 + (i * 29) % 5000)
            for i in range(100)]
    df = spark.createDataFrame(pts, "point_id long, ix long, iy long")
    leaves = adaptive_quadtree(df, cap=32, max_z=6).collect()
    assert sum(x.n_points for x in leaves) == len(pts)
    # cap respected except forced leaves at max depth
    for x in leaves:
        assert x.n_points <= 32 or x.z == 6
    # leaves are disjoint: no leaf is an ancestor of another
    cells = {(x.z, x.cx, x.cy) for x in leaves}
    for z, cx, cy in cells:
        for za in range(z):
            assert (za, cx >> (z - za), cy >> (z - za)) not in cells


def test_heavy_hitters_two_pass_exact(spark):
    """Two-pass MG == direct exact heavy set, at two parallelism
    levels (the merge guarantee is what makes them equal)."""
    from collections import Counter
    from geobuf_cpp_spark.operators.sketches import heavy_hitters

    words = []
    for i in range(500):
        words.append("hot" if i % 3 == 0 else f"w{i % 97}")
    docs = [(i, " ".join(words[i * 50:(i + 1) * 50])) for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cnt = Counter(words)
    n = len(words)
    k = 7
    expect = {(w, c) for w, c in cnt.items() if c * (k + 1) > n}
    for parts in (1, 8):
        got = {(x.tok, x.n)
               for x in heavy_hitters(df.repartition(parts), k).collect()}
        assert got == expect and ("hot", cnt["hot"]) in got


def test_shingle_containment_catches_partial_copy(spark):
    """A short doc pasted into a long one: low Jaccard, high
    containment — the asymmetric detector fires, Jaccard's would not."""
    from geobuf_cpp_spark.operators.dedup import (
        ngram_jaccard_pairs, shingle_containment_pairs, shingle_sets)

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"x{i}" for i in range(60))
    docs = [(1, quote), (2, filler + " " + quote),
            (3, "unrelated words only here today")]
    ds = shingle_sets(spark.createDataFrame(docs, "doc_id long, text string"))
    cont = shingle_containment_pairs(ds, 4, 5)
    assert cont.dtypes == [("id_a", "bigint"), ("id_b", "bigint"),
                           ("i", "bigint"), ("n_a", "bigint"),
                           ("n_b", "bigint")]
    pairs = {(x.id_a, x.id_b): (x.i, x.n_a, x.n_b)
             for x in cont.collect()}
    assert (1, 2) in pairs
    i, n_a, n_b = pairs[(1, 2)]
    assert i == n_a == 4  # all 4 shingles of the quote appear in doc 2
    # the symmetric Jaccard at 0.5 misses the same pair
    jac = {(x.id_a, x.id_b)
           for x in ngram_jaccard_pairs(ds, 0.5).collect()}
    assert (1, 2) not in jac


def test_pps_sample_multiplicity_and_two_level_scan(spark):
    """sum(mult) == n when no weight spans a grid step; heavy item gets
    multiplicity > 1; result invariant to input partitioning (the
    two-level prefix sum is order-deterministic)."""
    from geobuf_cpp_spark.operators.curation import pps_systematic_sample

    def want(rows, n):
        # global prefix sum over the id-ordered weight line
        total = sum(wt for _, wt in rows)
        out, c = {}, 0
        for i, wt in sorted(rows):
            c += wt
            m = c * n // total - (c - wt) * n // total
            if m >= 1:
                out[i] = m
        return out

    # ids step by 97 so the rows span 38 of the 256-id buckets and the
    # cross-bucket offsets (not just the within-bucket sums) are exercised
    rows = [(i * 97, 10) for i in range(100)]     # W=1000, step=10 @ n=100
    assert len({i // 256 for i, _ in rows}) > 1
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = pps_systematic_sample(df, 20, "n_chars").collect()
    assert sum(x.mult for x in got) == 20
    assert all(x.mult == 1 for x in got)
    assert {x.doc_id: x.mult for x in got} == want(rows, 20)

    heavy = [(0, 500)] + [(i * 97, 5) for i in range(1, 101)]  # W=1000
    hdf = spark.createDataFrame(heavy, "doc_id long, n_chars long")
    for parts in (1, 7):
        hs = {x.doc_id: x.mult for x in pps_systematic_sample(
            hdf.repartition(parts), 10, "n_chars"
        ).collect()}
        assert hs[0] == 5          # half the mass -> half the picks
        assert sum(hs.values()) == 10
        assert hs == want(heavy, 10)


def test_gps_jumps_exact_threshold(spark):
    """Boundary cases: speed exactly vmax is NOT a jump; zero-dt with
    displacement IS; zero-dt zero-move is not."""
    from pyspark.sql import functions as F
    from geobuf_cpp_spark.operators.trajectory import gps_jumps

    rows = [
        (1, 1, "2024-01-01 00:00:00", 0, 0),
        (2, 1, "2024-01-01 00:00:10", 30, 40),   # d=50, dt=10, v=5 == vmax
        (3, 1, "2024-01-01 00:00:20", 90, 120),  # d=100, dt=10, v=10 > 5
        (4, 1, "2024-01-01 00:00:20", 91, 120),  # dt=0, moved: jump
        (5, 1, "2024-01-01 00:00:20", 91, 120),  # dt=0, same spot: not
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, ix long, iy long"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {x.seq: (x.dt, x.d2) for x in gps_jumps(df, 5).collect()}
    assert set(got) == {3, 4}
    assert got[3] == (10, 60 * 60 + 80 * 80)
    assert got[4] == (0, 1)


def test_geofence_events_enter_exit_overlap(spark):
    """First ping enters from -2; leaving all boxes emits region -1;
    overlapping boxes resolve to min id; no event without a change."""
    from pyspark.sql import functions as F
    from geobuf_cpp_spark.operators.trajectory import geofence_events

    boxes = spark.createDataFrame(
        [(1, 0, 0, 10, 10), (2, 5, 5, 20, 20)],
        "admin_id long, lon0 long, lat0 long, lon1 long, lat1 long")
    rows = [
        (1, 7, "2024-01-01 00:00:00", 2, 2),    # enter 1
        (2, 7, "2024-01-01 00:00:01", 3, 3),    # still 1: no event
        (3, 7, "2024-01-01 00:00:02", 7, 7),    # overlap -> min = 1: none
        (4, 7, "2024-01-01 00:00:03", 15, 15),  # box 2 only: enter 2
        (5, 7, "2024-01-01 00:00:04", 99, 99),  # outside: enter -1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, ix long, iy long"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [(x.seq, x.region, x.prev_region)
           for x in sorted(geofence_events(df, boxes).collect(),
                           key=lambda r: r.seq)]
    assert got == [(1, 1, -2), (4, 2, 1), (5, -1, 2)]


def test_rrf_fuse_exact_integer_ordering(spark):
    """Fused ordering == rational RRF ordering on a hand case where the
    two systems disagree; scale constant is the true lcm; absent items
    contribute 0."""
    import math
    from fractions import Fraction
    import __spark_entry__ as entry
    from geobuf_cpp_spark.operators.ann import rrf_fuse

    assert entry.RRF_SCALE == math.lcm(*range(61, 71))

    a = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 11), (0, 3, 12)],
        "query_id long, rank int, vec_id long")
    b = spark.createDataFrame(
        [(0, 1, 12), (0, 2, 13), (0, 3, 10)],
        "query_id long, rank int, vec_id long")
    got = [(x.vec_id, x.rrf_score)
           for x in rrf_fuse(a, b, 60, entry.RRF_SCALE).collect()]
    # rational reference
    K = 60
    ra = {10: 1, 11: 2, 12: 3}
    rb = {12: 1, 13: 2, 10: 3}
    ref = {}
    for v in {10, 11, 12, 13}:
        s = Fraction(0)
        if v in ra:
            s += Fraction(1, K + ra[v])
        if v in rb:
            s += Fraction(1, K + rb[v])
        ref[v] = s
    order = sorted(ref, key=lambda v: (-ref[v], v))
    assert [v for v, _ in got] == order
    # direct exactness check: score == scale * rational
    for v, sc in got:
        assert sc == entry.RRF_SCALE * ref[v]


def test_token_overlap_topk_ranking(spark):
    from geobuf_cpp_spark.operators.textstats import token_overlap_topk

    docs = [(0, "a b c d"), (1, "a b c x"), (2, "a y z w"),
            (3, "q r s t"), (4, "a b q q")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for x in token_overlap_topk(df, 1).collect():
        got[x.vec_id] = x.rank
    # overlaps with doc0: d1=3, d4=2, d2=1, d3=0(absent)
    assert got == {1: 1, 4: 2, 2: 3}


def test_loop_checkpoint_resets_inherited_stats(spark):
    """Plain localCheckpoint inherits the checkpointed plan's estimated
    stats, whose digit count DOUBLES per loop round (the Catalyst
    BigInteger grind that hung grid_cluster_geo); loop_checkpoint must
    hold the digit count constant while preserving the data."""
    from pyspark.sql import functions as F
    from geobuf_cpp_spark.plans.iterate import loop_checkpoint

    def digits(df):
        return len(str(df._jdf.queryExecution().analyzed()
                       .stats().sizeInBytes()))

    lab = loop_checkpoint(spark.range(20).withColumn("lbl", F.col("id")))
    plain = lab
    plain_digits, reset_digits = [], []
    for _ in range(4):
        def body(frame):
            a = frame.select("id", "lbl")
            j = a.join(
                a.withColumnRenamed("id", "id2")
                .withColumnRenamed("lbl", "lbl2"),
                a.lbl == F.col("lbl2"), "left")
            return j.select("id", F.coalesce("lbl2", "lbl").alias("lbl"))

        plain = body(plain).localCheckpoint(eager=False)
        lab = loop_checkpoint(body(lab))
        plain_digits.append(digits(plain))
        reset_digits.append(digits(lab))
    assert plain_digits[-1] > 2 * plain_digits[0]   # the blowup exists
    assert len(set(reset_digits)) == 1               # ...and is fixed
    assert lab.count() == 20
    assert sorted(r.lbl for r in lab.collect()) == list(range(20))


def test_session_paths_order_and_gap(spark):
    """Path strings follow (ts, seq) order within a session; gap cuts
    sessions; min_sessions prunes singletons."""
    from pyspark.sql import functions as F
    from geobuf_cpp_spark.operators.cohorts import session_paths

    rows = [
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:00:30", "click"),
        (3, 1, "2024-01-01 09:00:00", "view"),   # new session (gap > 1h)
        (4, 1, "2024-01-01 09:00:10", "click"),
        (5, 2, "2024-01-01 00:00:05", "view"),
        (6, 2, "2024-01-01 00:00:06", "click"),
        (7, 2, "2024-01-01 00:00:06", "buy"),    # same ts: seq breaks tie
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {x.path: x.n_sessions
           for x in session_paths(df, 3600, 1).collect()}
    assert got == {"view>click": 2, "view>click>buy": 1}
    pruned = {x.path for x in session_paths(df, 3600, 2).collect()}
    assert pruned == {"view>click"}


def test_trimmed_stats_tie_invariance(spark):
    """Cut is by count: equal values straddling the cut keep the same
    survivor multiset at any partitioning."""
    from geobuf_cpp_spark.operators.grouped_stats import trimmed_stats

    vals = [5, 5, 5, 1, 9, 5, 5, 5, 2, 8]   # n=10, trim 10% -> drop 1+1
    rows = [(i, "g", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, lang string, n_chars long")
    for parts in (1, 4):
        got = trimmed_stats(df.repartition(parts), "lang", "n_chars",
                            10).first()
        # dropped: one min (1) and one max (9); survivors sum = 2+8+6*5
        assert (got.n_rows, got.n_kept, got.trimmed_sum) == (10, 8, 40)


def test_kanon_cells_suppression(spark):
    from pyspark.sql import functions as F
    from geobuf_cpp_spark.operators.grouped_stats import kanon_cells

    rows = [
        (1, 1, "2024-01-01 01:00:00", 10, 10),
        (2, 2, "2024-01-01 02:00:00", 12, 11),   # same cell, 2nd user
        (3, 1, "2024-01-01 03:00:00", 11, 10),   # same cell again
        (4, 3, "2024-01-01 01:00:00", 500, 10),  # lone user cell: suppress
        (5, 1, "2024-01-02 01:00:00", 10, 10),   # next day: suppressed
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, ix long, iy long"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [(x.cx, x.cy, x.day, x.n_pings, x.n_entities)
           for x in kanon_cells(df, 100, 2).collect()]
    assert got == [(0, 0, "2024-01-01", 3, 2)]


def test_bpe_pair_counts_hand_case(spark):
    from geobuf_cpp_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "aaab ab x"), (2, "ab")], "doc_id long, text string")
    got = [(x.rank, x.pair, x.n) for x in
           bpe_pair_counts(docs, 10).collect()]
    # pairs: aaab -> aa,aa,ab ; ab -> ab ; x skipped ; ab -> ab
    assert got == [(1, "ab", 3), (2, "aa", 2)]


def test_temperature_weights_exact_sqrt(spark):
    import math
    from geobuf_cpp_spark.operators.curation import temperature_weights

    docs = [(i, "s%d" % (i % 3)) for i in range(70)]
    df = spark.createDataFrame(docs, "doc_id long, source string")
    got = {x.source: (x.n_docs, x.w_num)
           for x in temperature_weights(df, 1000).collect()}
    for s, (n, w) in got.items():
        assert w == math.isqrt(n * 1000 * 1000)
    # sqrt compresses the head: ratio of weights < ratio of counts
    ns = sorted(v[0] for v in got.values())
    ws = sorted(v[1] for v in got.values())
    assert ws[-1] / ws[0] < ns[-1] / ns[0] or ns[-1] == ns[0]


def test_cell_top_terms_and_term_drift_deterministic(spark):
    """The two rank-window gates are partition-count invariant (global
    windows over bounded count tables; ties broken lexicographically)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    base_t = [tuple(r) for r in sorted(
        entry.q_cell_top_terms(spark, sf).collect())]
    base_d = [tuple(r) for r in sorted(
        entry.q_term_drift(spark, sf).collect())]
    assert len(base_t) > 10 and len(base_d) == entry.DRIFT_TOP
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again_t = [tuple(r) for r in sorted(
            entry.q_cell_top_terms(spark, sf).collect())]
        again_d = [tuple(r) for r in sorted(
            entry.q_term_drift(spark, sf).collect())]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert again_t == base_t and again_d == base_d


def test_polyline_encode_matches_canonical_algorithm(spark):
    """Spark-side polyline string == the canonical reference encoder
    (independent python implementation), and decodes back to the exact
    input track."""
    from pyspark.sql import functions as F
    from geobuf_cpp_spark.operators.trajectory import polyline_encode

    def ref_enc_value(v):
        v2 = ~(v << 1) if v < 0 else v << 1
        out = ""
        while v2 >= 0x20:
            out += chr((0x20 | (v2 & 0x1F)) + 63)
            v2 >>= 5
        return out + chr(v2 + 63)

    def ref_decode(s):
        vals, i = [], 0
        while i < len(s):
            shift = result = 0
            while True:
                b = ord(s[i]) - 63
                i += 1
                result |= (b & 0x1F) << shift
                shift += 5
                if b < 0x20:
                    break
            vals.append(~(result >> 1) if result & 1 else result >> 1)
        return vals

    track = [(1, 7, "2024-01-01 00:00:00", 100, -200),
             (2, 7, "2024-01-01 00:00:01", 105, -190),
             (3, 7, "2024-01-01 00:00:02", 90, -190),
             (4, 7, "2024-01-01 00:00:03", 17999, 8000)]
    df = spark.createDataFrame(
        track, "event_id long, user_id long, ts string, ix long, iy long"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = polyline_encode(df).first()
    # reference: encode deltas (first point absolute)
    ref = ""
    px = py = 0
    for _, _, _, x, y in track:
        ref += ref_enc_value(x - px) + ref_enc_value(y - py)
        px, py = x, y
    assert got.polyline == ref and got.n_pings == 4
    # decode round-trip reproduces the track exactly
    flat = ref_decode(got.polyline)
    pts, cx, cy = [], 0, 0
    for dx, dy in zip(flat[0::2], flat[1::2]):
        cx, cy = cx + dx, cy + dy
        pts.append((cx, cy))
    assert pts == [(x, y) for _, _, _, x, y in track]
