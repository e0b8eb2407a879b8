"""Property-based tests (hypothesis) for the pure kernels added in
round 3: spatial codes and sketch primitives. No Spark session — these
pin the scalar/numpy semantics every gated query builds on."""

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geobuf_cpp_spark.functions.cells import GEOHASH_ALPHABET, geohash_of

lats = st.floats(min_value=-89.999, max_value=89.999,
                 allow_nan=False, allow_infinity=False)
lons = st.floats(min_value=-179.999, max_value=179.999,
                 allow_nan=False, allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(lats, lons)
def test_geohash_prefix_nesting(lat, lon):
    """The defining geohash property: a shorter hash of the same point
    is a PREFIX of the longer one (cells nest)."""
    h4 = geohash_of([lat], [lon], 4)[0]
    h6 = geohash_of([lat], [lon], 6)[0]
    h8 = geohash_of([lat], [lon], 8)[0]
    assert h8.startswith(h6) and h6.startswith(h4)
    assert len(h8) == 8 and set(h8) <= set(GEOHASH_ALPHABET)


@settings(max_examples=100, deadline=None)
@given(lats, lons, lats, lons)
def test_geohash_shared_prefix_implies_proximity(lat1, lon1, lat2, lon2):
    """Same length-5 geohash => the two points fall in the same cell,
    whose extent is bounded (<= 0.0879 deg lat x 0.3516 deg lon)."""
    g1 = geohash_of([lat1], [lon1], 5)[0]
    g2 = geohash_of([lat2], [lon2], 5)[0]
    if g1 == g2:
        # 5 chars = 25 bits = 13 lon + 12 lat bits
        assert abs(lat1 - lat2) <= 180.0 / (1 << 12)
        assert abs(lon1 - lon2) <= 360.0 / (1 << 13)


words = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=12)


@settings(max_examples=100, deadline=None)
@given(st.lists(words, min_size=17, max_size=120))
def test_kmv_estimator_scalar_mirror(tokens):
    """Scalar mirror of the KMV estimator the gate runs: on >= k distinct
    tokens the floored (k-1)*2^64/h_k estimate is positive, scales
    inversely with h_k, and is exactly n when n < k (the fallback
    branch); the k-th min is unique so the sketch is deterministic."""
    from geobuf_cpp_spark.operators.sketches import KMV_K

    hashes = sorted({
        int.from_bytes(hashlib.md5(t.encode()).digest()[8:16], "little")
        for t in tokens
    })
    n = len(hashes)
    if n < KMV_K:
        est = n  # exact branch — identical to the operator's CASE
        assert est == n
        return
    hk = hashes[KMV_K - 1]
    est = ((KMV_K - 1) << 64) // hk
    assert est >= 1
    # monotonicity: removing the largest retained hash (denser bottom-k)
    # can only raise or keep the estimate
    hk_smaller = hashes[KMV_K - 2]
    assert ((KMV_K - 1) << 64) // hk_smaller >= est


@settings(max_examples=60, deadline=None)
@given(st.lists(words, min_size=1, max_size=30),
       st.lists(words, min_size=0, max_size=10))
def test_bloom_scalar_contract_no_false_negatives(corpus, probes):
    """Scalar mirror of the Bloom bit math: every corpus word's 3 bits
    are set, so membership never false-negatives."""
    m, h = 1 << 16, 3

    def bucket(tok, row):
        d = hashlib.md5(f"{tok}|{row}".encode()).digest()
        return int.from_bytes(d[8:16], "little") % m

    bits = {bucket(t, r) for t in corpus for r in range(h)}
    for t in corpus:
        assert all(bucket(t, r) in bits for r in range(h))


@settings(max_examples=50, deadline=None)
@given(st.integers(1, 40), st.integers(1, 8), st.integers(1, 8))
def test_token_window_membership_arithmetic(n_tokens, stride, extra):
    """Scalar mirror of the chunking fan-out bounds: every token position
    belongs to exactly the windows [ceil((p-size+1)/stride), p//stride]
    clipped at 0 — between floor and ceil of size/stride windows once
    p >= size-1, depending on p mod stride — and the windows tile the
    document with no position unassigned."""
    size = stride + extra - 1 if stride + extra - 1 >= stride else stride
    assigned = {}
    for p in range(n_tokens):
        lo = max(0, -((size - 1 - p) // stride))
        hi = p // stride
        assert lo <= hi  # every position lands somewhere
        for w in range(lo, hi + 1):
            # membership is exactly the interval definition
            assert w * stride <= p < w * stride + size
            assigned.setdefault(w, []).append(p)
        if p >= size - 1:
            assert size // stride <= hi - lo + 1 <= -(-size // stride)
    # windows are contiguous position ranges (no holes inside a window)
    for w, ps in assigned.items():
        assert ps == list(range(ps[0], ps[-1] + 1))


# ---------------------------------------------------------------------------
# geometry predicate SQL text: the EXACT string both engines execute,
# property-tested in DuckDB against rational-arithmetic oracles
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    st.tuples(*[st.integers(min_value=-50, max_value=50)] * 8)
)
def test_segments_intersect_sql_matches_rational_oracle(coords):
    import duckdb

    from geobuf_cpp_spark.operators.segments import sql_segments_intersect

    ax, ay, bx, by, cx, cy, dx, dy = coords

    def oracle():
        from fractions import Fraction

        def on_seg(px, py, qx, qy, rx, ry):
            if (qx - px) * (ry - py) - (qy - py) * (rx - px) != 0:
                return False
            return (min(px, qx) <= rx <= max(px, qx)
                    and min(py, qy) <= ry <= max(py, qy))

        d1x, d1y = bx - ax, by - ay
        d2x, d2y = dx - cx, dy - cy
        # degenerate (point) segments first: the parallel-collinearity
        # test below degenerates to 0 against a zero direction vector
        # and must not fall through to bbox overlap
        if (d1x, d1y) == (0, 0) and (d2x, d2y) == (0, 0):
            return (ax, ay) == (cx, cy)
        if (d1x, d1y) == (0, 0):
            return on_seg(cx, cy, dx, dy, ax, ay)
        if (d2x, d2y) == (0, 0):
            return on_seg(ax, ay, bx, by, cx, cy)
        denom = d1x * d2y - d1y * d2x
        if denom != 0:
            t = Fraction((cx - ax) * d2y - (cy - ay) * d2x, denom)
            u = Fraction((cx - ax) * d1y - (cy - ay) * d1x, denom)
            return 0 <= t <= 1 and 0 <= u <= 1
        if (cx - ax) * d1y - (cy - ay) * d1x != 0:
            return False
        # collinear: interval overlap on both axes
        return (min(ax, bx) <= max(cx, dx) and min(cx, dx) <= max(ax, bx)
                and min(ay, by) <= max(cy, dy)
                and min(cy, dy) <= max(ay, by))

    row = (f"SELECT {ax} AS a_ax, {ay} AS a_ay, {bx} AS a_bx, "
           f"{by} AS a_by, {cx} AS b_ax, {cy} AS b_ay, {dx} AS b_bx, "
           f"{dy} AS b_by")
    got = duckdb.sql(
        f"SELECT {sql_segments_intersect()} FROM ({row})").fetchone()[0]
    assert bool(got) == oracle(), coords


@settings(max_examples=300, deadline=None)
@given(
    st.tuples(*[st.integers(min_value=-40, max_value=40)] * 6),
    st.integers(min_value=1, max_value=30),
)
def test_point_segment_within_sql_matches_rational_oracle(coords, r):
    import duckdb

    from geobuf_cpp_spark.operators.segments import sql_point_segment_within

    px, py, ax, ay, bx, by = coords

    def oracle():
        from fractions import Fraction
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        if len2 == 0:
            d2 = Fraction((px - ax) ** 2 + (py - ay) ** 2)
        else:
            t = Fraction((px - ax) * dx + (py - ay) * dy, len2)
            t = min(Fraction(1), max(Fraction(0), t))
            d2 = ((px - (ax + t * dx)) ** 2 + (py - (ay + t * dy)) ** 2)
        return d2 <= r * r

    row = (f"SELECT {px} AS p_x, {py} AS p_y, {ax} AS s_ax, "
           f"{ay} AS s_ay, {bx} AS s_bx, {by} AS s_by")
    got = duckdb.sql(
        f"SELECT {sql_point_segment_within(r)} FROM ({row})").fetchone()[0]
    assert bool(got) == oracle(), (coords, r)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=40000),
       st.integers(min_value=0, max_value=17000))
def test_hex_candidates_sql_argmin_matches_brute_force(x, y):
    """The hex-bin SQL text (as DuckDB executes it, `//` floor division)
    picks the true nearest triangular-lattice center for arbitrary
    lattice points — fuzzed against a wide brute-force search."""
    import duckdb

    from geobuf_cpp_spark.functions.cells import (
        HEX_VY,
        HEX_W,
        hex_candidates_sql,
    )

    cands = [s.replace(" div ", " // ") for s in
             hex_candidates_sql("ix", "iy")]
    union = " UNION ALL ".join(
        f"SELECT {s.replace('struct(', '').rstrip(')')} "
        f"FROM (SELECT {x} AS ix, {y} AS iy)"
        for s in cands
    )
    got = duckdb.sql(
        f"SELECT d2, hr, hc FROM ({union}) ORDER BY d2, hr, hc LIMIT 1"
    ).fetchone()

    best = None
    r0 = y // HEX_VY
    for r in range(max(r0 - 2, 0), r0 + 3):
        sx = (r % 2) * HEX_W  # doubled-space stagger: real shift = w/2
        c0 = (2 * x - sx) // (2 * HEX_W)
        for c in range(c0 - 2, c0 + 3):
            cx2, cy2 = 2 * c * HEX_W + sx, 2 * r * HEX_VY
            d2 = (2 * x - cx2) ** 2 + (2 * y - cy2) ** 2
            cand = (d2, r, c)
            if best is None or cand < best:
                best = cand
    assert tuple(got) == best, (x, y)


coords = st.integers(min_value=-500, max_value=500)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(coords, coords), min_size=1, max_size=40))
def test_hull_calipers_diameter_matches_bruteforce(pts):
    """Rotating-calipers squared diameter == O(k^2) all-pairs max for
    any integer point multiset (duplicates, collinear runs,
    singletons)."""
    from geobuf_cpp_spark.operators.trajectory import hull_diam2

    got = hull_diam2([p[0] for p in pts], [p[1] for p in pts])
    brute = max(
        ((a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
         for a in pts for b in pts),
        default=0,
    )
    assert got == brute


boxes_strategy = st.lists(
    st.tuples(coords, coords, st.integers(1, 60), st.integers(1, 60)),
    min_size=1, max_size=12,
)


@settings(max_examples=150, deadline=None)
@given(boxes_strategy)
def test_union_find_pairs_matches_networkx_free_closure(bxs):
    """Driver union-find labels == a reference BFS closure on a random
    interval-overlap graph built from the boxes' x-projections."""
    from geobuf_cpp_spark.operators.dedup import _driver_union_find_pairs

    ids = list(range(len(bxs)))
    ivs = [(x, x + w) for x, _, w, _ in bxs]
    pairs = [
        (a, b)
        for a in ids for b in ids
        if a < b and ivs[a][0] < ivs[b][1] and ivs[b][0] < ivs[a][1]
    ]
    ends = np.array(pairs, dtype=np.int64).reshape(-1, 2)
    got = dict(zip(*_driver_union_find_pairs(ids, ends[:, 0], ends[:, 1])))
    # reference: BFS components
    adj = {i: set() for i in ids}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    seen: dict[int, int] = {}
    for root in ids:
        if root in seen:
            continue
        comp, stack = [], [root]
        while stack:
            v = stack.pop()
            if v in seen:
                continue
            seen[v] = -1
            comp.append(v)
            stack.extend(adj[v])
        lbl = min(comp)
        for v in comp:
            seen[v] = lbl
    assert got == seen
