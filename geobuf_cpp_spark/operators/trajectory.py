"""Trajectory (GPS-track) statistics — per-entity path length over time.

A spatio-temporal primitive the reference's point encoding feeds (a
geobuf LineString IS a stored trajectory; cf. the delta-coded coord
stream, src/geobuf/geobuf.cpp populateLine): order an entity's points by
event time and sum consecutive step lengths. On Spark this is one key
shuffle (partition by entity) + a lag window — no join, no Python.

Arithmetic portability: coordinates are integer planar (centidegrees),
so the squared step is exact BIGINT; the step length uses
floor(sqrt(d2)), which is deterministic cross-engine because IEEE-754
sqrt is correctly rounded and d2 < 2^53. Summing the floored integer
steps keeps the per-entity total exact — no float accumulation order
dependence, unlike summing raw sqrt values.

At 100 TB the plan is scale-right: the only exchange is the entity-key
hash partition; the window is a per-partition sort (spillable); skewed
entities (one user with 10^9 pings) are bounded by the narrow
(entity, ts, x, y) projection entering the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# coarse mobility zones of od_matrix and cell_dwell:
# zone = (ix div ZONE_W) + ZONE_NX * (iy div ZONE_H)
ZONE_W, ZONE_H, ZONE_NX = 2250, 2125, 16


def _floor_isqrt(d2col):
    """floor(sqrt(n)) for exact-integer n < 2^53 — portable (IEEE sqrt
    is correctly rounded, so both engines see the identical double)."""
    return F.floor(F.sqrt(d2col.cast("double"))).cast("long")


def path_stats(points: DataFrame) -> DataFrame:
    """Per-entity track stats: steps, exact integer path length, net
    displacement (floor of straight-line start→end distance).

    Ordering is (ts, tiebreak) so duplicate timestamps are deterministic.
    Output: (user_id, n_steps, path_len, net_disp), all BIGINT.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = points.select(
        "user_id", "ts", "event_id",
        F.col("ix").alias("_x"), F.col("iy").alias("_y"),
    ).select(
        "user_id", "_x", "_y",
        F.lag("_x").over(w).alias("_px"),
        F.lag("_y").over(w).alias("_py"),
        F.row_number().over(w).alias("_rn"),
    )
    dx = F.col("_x") - F.col("_px")
    dy = F.col("_y") - F.col("_py")
    stepped = lagged.withColumn("_step", _floor_isqrt(dx * dx + dy * dy))
    fx = F.min_by("_x", F.col("_rn"))   # first point (rn==1)
    fy = F.min_by("_y", F.col("_rn"))
    lx = F.max_by("_x", F.col("_rn"))   # last point (max rn)
    ly = F.max_by("_y", F.col("_rn"))
    return stepped.groupBy("user_id").agg(
        (F.count("*") - 1).cast("long").alias("n_steps"),
        F.coalesce(F.sum("_step"), F.lit(0)).cast("long").alias("path_len"),
        _floor_isqrt((fx - lx) * (fx - lx) + (fy - ly) * (fy - ly))
        .alias("net_disp"),
    )


def od_matrix(pings: DataFrame) -> DataFrame:
    """Origin-destination matrix: per-entity cell-to-cell transition
    counts — the standard mobility-analytics rollup (where do trips
    between zones actually flow?).

    Each ping lands in a coarse zone ``cell = (ix div ZONE_W) + ZONE_NX *
    (iy div ZONE_H)``; consecutive pings of the same entity (ordered by
    timestamp, ties broken by the id column so the order is total and
    cross-engine deterministic) emit one transition; stays
    (from == to) are excluded — an OD matrix counts movements. Output:
    (cell_from, cell_to, n_trips, n_users). Integer division on
    nonnegative coords, so Spark ``div`` == DuckDB ``//``.

    Plan: ONE entity-key hash exchange feeds the lag window (a
    per-partition spillable sort), then a map-side-combined groupBy on
    the (from, to) pair — zone pairs are bounded by (grid size)^2
    however many pings flow through. The n_users distinct count rides
    the same aggregation (partial distinct on the pair key)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = pings.select(
        "user_id", "ts", "event_id",
        (F.expr(f"ix div {ZONE_W}")
         + ZONE_NX * F.expr(f"iy div {ZONE_H}")).alias("cell"),
    )
    t = cells.withColumn("prev", F.lag("cell").over(w))
    return (
        t.filter(F.col("prev").isNotNull()
                 & (F.col("prev") != F.col("cell")))
        .groupBy(F.col("prev").alias("cell_from"),
                 F.col("cell").alias("cell_to"))
        .agg(
            F.count("*").cast("long").alias("n_trips"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


def sql_isqrt_exact(v: str) -> str:
    """EXACT floor(sqrt(n)) for BIGINT ``0 <= n < 4.2e18`` as portable
    SQL text. The double seed floor(sqrt(CAST(n AS DOUBLE))) is within
    +-1 of the truth even past 2^53 (the cast rounds n by <= 512, which
    moves sqrt by ~1e-7 at 2e9), and both engines compute the identical
    seed (IEEE cast + correctly-rounded sqrt); the two integer CASE
    corrections then pin the exact value. (s+1)^2 stays < 2^63 for the
    chord^2 domain (max 4*SPHERE_SCALE^2)."""
    s = f"CAST(floor(sqrt(CAST(({v}) AS DOUBLE))) AS BIGINT)"
    return (
        f"({s} + (CASE WHEN ({s} + 1) * ({s} + 1) <= ({v}) THEN 1 "
        f"ELSE 0 END) - (CASE WHEN {s} * {s} > ({v}) THEN 1 ELSE 0 END))"
    )


def geo_path_stats(pings: DataFrame) -> DataFrame:
    """Per-entity GREAT-CIRCLE track stats — the geodetic sibling of
    `path_stats`, closing the flat-earth gap for lat/lon corpora.

    Each ping maps to the quantized unit sphere (`sql_sphere_xyz`, the
    same exact-BIGINT contract as `range_join_geo`); a step's length is
    the exact integer chord floor(sqrt(dx^2+dy^2+dz^2)) in sphere-scale
    units (monotone with great-circle distance; the caller resolves
    arc = 2*R*asin(chord/(2*scale)) in floats if metres are wanted).
    Summing exact integer chords keeps per-entity totals reproducible —
    no float accumulation order dependence. Output: (entity, n_steps,
    chord_len, max_step); single-ping entities emit no row.

    Plan shape is identical to `path_stats`: one entity-key exchange,
    one spillable per-partition sort window, one hash agg."""
    from geobuf_cpp_spark.operators.range_join import sql_sphere_xyz

    xyz = pings.selectExpr(
        "user_id", "ts", "event_id", *sql_sphere_xyz())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        xyz.withColumn("px", F.lag("sx").over(w))
        .withColumn("py", F.lag("sy").over(w))
        .withColumn("pz", F.lag("sz").over(w))
        .filter(F.col("px").isNotNull())
        .withColumn("d2", F.expr(
            "(sx-px)*(sx-px) + (sy-py)*(sy-py) + (sz-pz)*(sz-pz)"))
    )
    step = F.expr(sql_isqrt_exact("d2"))
    return d.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_steps"),
        F.sum(step).cast("long").alias("chord_len"),
        F.max(step).cast("long").alias("max_step"),
    )


def cell_dwell(pings: DataFrame) -> DataFrame:
    """Dwell-time rollup: per (entity, zone) — ping count, VISIT count
    (maximal runs of consecutive same-zone pings, the gaps-and-islands
    segmentation), and total dwell seconds (each inter-ping interval is
    charged to the zone of its starting ping; the final ping contributes
    zero). The mobility-side complement of `od_matrix`: trips count the
    movements, dwell measures the stays.

    Zone ids and ordering are identical to `od_matrix` (nonnegative
    integer division, total (ts, id) order), and seconds are integer
    epoch differences — every output column is an exact BIGINT both
    engines reproduce bit-for-bit. Plan: ONE entity-key exchange feeds
    both lag/lead windows (same sorted partition), then a map-side-
    combined groupBy on (entity, zone) — output bounded by entities x
    zones, never by ping count.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = pings.select(
        "user_id", "ts", "event_id",
        (F.expr(f"ix div {ZONE_W}")
         + ZONE_NX * F.expr(f"iy div {ZONE_H}")).alias("cell"),
    )
    t = cells.select(
        "user_id", "cell",
        F.when(F.lag("cell").over(w).isNull()
               | (F.lag("cell").over(w) != F.col("cell")), 1)
        .otherwise(0).alias("new_visit"),
        (F.coalesce(
            F.unix_timestamp(F.lead("ts").over(w)),
            F.unix_timestamp(F.col("ts")))
         - F.unix_timestamp(F.col("ts"))).alias("dwell_secs"),
    )
    return t.groupBy("user_id", "cell").agg(
        F.count("*").cast("long").alias("n_pings"),
        F.sum("new_visit").cast("long").alias("n_visits"),
        F.sum("dwell_secs").cast("long").alias("dwell_secs"),
    )


def self_crossings(pings: DataFrame) -> DataFrame:
    """Per-entity path self-intersection count — the GPS-quality /
    route-complexity metric (a clean commute crosses itself rarely; a
    noisy or looping track constantly).

    Steps are consecutive ping pairs in the (ts, id) total order; a
    self-crossing is any NON-ADJACENT step pair (|i-j| >= 2 — adjacent
    steps share an endpoint by construction) that intersects under the
    exact integer CLRS predicate (operators/segments.py — orientation
    cross products + on-segment boxes, no floats).

    Plan note: steps of one trajectory span the whole space, so grid
    blocking buys nothing here (a long step overlaps every cell);
    the honest plan is the ENTITY-keyed self-join — per-entity O(k^2)
    on k = track length, with a bbox-overlap prefilter ahead of the
    exact predicate. Bounded by max track length squared, never by
    corpus size: more users add reducers, not pair volume. Returns
    (entity, n_segs, n_crossings), zero rows included.
    """
    from geobuf_cpp_spark.operators.segments import sql_segments_intersect

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        pings.select(
            "user_id",
            F.row_number().over(w).alias("i"),
            F.col("ix").alias("ax"), F.col("iy").alias("ay"),
            F.lead("ix").over(w).alias("bx"),
            F.lead("iy").over(w).alias("by"),
        )
        .filter(F.col("bx").isNotNull())
        # no checkpoint: both join sides prune identically, so the
        # window's exchange is reused (interleaved A/B: 0.65 s vs
        # 0.78 s with the checkpoint)
    )
    a = steps.selectExpr(
        "user_id", "i AS ia", "ax AS a_ax", "ay AS a_ay",
        "bx AS a_bx", "by AS a_by")
    b = steps.selectExpr(
        "user_id", "i AS ib", "ax AS b_ax", "ay AS b_ay",
        "bx AS b_bx", "by AS b_by")
    pairs = (
        a.join(b, "user_id")
        .where("ib >= ia + 2")
        .where("LEAST(a_ax, a_bx) <= GREATEST(b_ax, b_bx) AND "
               "LEAST(b_ax, b_bx) <= GREATEST(a_ax, a_bx) AND "
               "LEAST(a_ay, a_by) <= GREATEST(b_ay, b_by) AND "
               "LEAST(b_ay, b_by) <= GREATEST(a_ay, a_by)")
        .where(F.expr(sql_segments_intersect()))
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_crossings"))
    )
    totals = steps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_segs"))
    return totals.join(pairs, "user_id", "left").select(
        "user_id", "n_segs",
        F.coalesce("n_crossings", F.lit(0)).cast("long")
        .alias("n_crossings"),
    )


def traj_diameter(pings: DataFrame) -> DataFrame:
    """Per-entity trajectory diameter: the exact maximum squared
    Euclidean distance between any two of the entity's pings — the
    "how far does this user range" metric.

    The subquadratic plan: group by entity, then per group build the
    convex hull (Andrew monotone chain, pure integer cross products)
    and rotate calipers over antipodal hull vertex pairs — O(k log k)
    per entity vs the naive O(k^2) all-pairs max (which is what the
    DuckDB oracle computes, so the gate cross-checks the two
    algorithms, not two copies of one). The diameter of a point set is
    attained at hull vertices, and calipers enumerates every antipodal
    pair, so the result is exact; with BIGINT lattice coords every
    cross product and squared distance is exact integer arithmetic.

    Runs as applyInPandas (Arrow-batched; one shuffle on the entity
    key). Per-entity work is bounded by max track length — corpus
    growth adds groups, not group size. Singleton entities return 0.

    Returns (entity, n_pings, diam2) — diam2 the exact squared
    diameter in lattice units.
    """
    import pandas as pd

    def per_entity(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "entity": [pdf["entity"].iloc[0]],
            "n_pings": [len(pdf)],
            "diam2": [hull_diam2(pdf["x"].tolist(), pdf["y"].tolist())],
        })

    from ..plans.partitioning import spread_groups

    prepared = pings.select(
        F.col("user_id").alias("entity"),
        F.col("ix").cast("long").alias("x"),
        F.col("iy").cast("long").alias("y"),
    )
    return (
        spread_groups(prepared, "entity")
        .groupBy("entity")
        .applyInPandas(per_entity, "entity long, n_pings long, diam2 long")
        .withColumnRenamed("entity", "user_id")
    )


def hull_diam2(xs: list[int], ys: list[int]) -> int:
    """Exact squared diameter of an integer point multiset: Andrew
    monotone-chain hull + rotating calipers, pure-int arithmetic —
    the kernel behind ``traj_diameter``, exposed for direct
    property-testing against the O(k^2) brute force."""
    pts = sorted(set(zip(xs, ys)))
    if len(pts) == 1:
        return 0

    def half(seq):
        h: list[tuple[int, int]] = []
        for p in seq:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(p)
        return h

    lower, upper = half(pts), half(reversed(pts))
    hull = lower[:-1] + upper[:-1]
    if len(hull) == 2:
        (ax, ay), (bx, by) = hull
        return (ax - bx) ** 2 + (ay - by) ** 2

    # rotating calipers over the CCW hull
    m = len(hull)
    best, j = 0, 1
    for i in range(m):
        ni = (i + 1) % m
        ex, ey = hull[ni][0] - hull[i][0], hull[ni][1] - hull[i][1]
        while True:
            nj = (j + 1) % m
            adv = ex * (hull[nj][1] - hull[j][1]) \
                - ey * (hull[nj][0] - hull[j][0])
            if adv > 0:
                j = nj
            else:
                break
        for q in (hull[j], hull[(j + 1) % m]):
            for p in (hull[i], hull[ni]):
                d2 = (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2
                if d2 > best:
                    best = d2
    return best




def gps_jumps(pings: DataFrame, vmax_num: int) -> DataFrame:
    """Teleportation detection — the first cleaning pass every GPS /
    geotagged-web corpus needs: flag consecutive ping pairs whose
    implied speed exceeds vmax, i.e. dx^2 + dy^2 > (vmax * dt)^2.

    The comparison runs fully in BIGINT with an integer vmax =
    vmax_num (lattice units per second):

        dx^2 + dy^2  >  vmax_num^2 * dt^2

    — no sqrt, no floats, bit-identical across engines. dt uses
    floor()ed epoch seconds (the cross-engine discipline of
    colocation). Zero-dt pairs with any displacement are always jumps
    (infinite speed); zero-dt zero-displacement pairs are not.

    Plan: one lag() window per entity ordered by (ts, seq) — the
    shuffle is the entity repartition a trajectory pipeline already
    pays once and shares across gap/dwell/speed passes. Per-row O(1).

    Returns (entity, seq, dt, d2) per flagged pair, seq = the later
    ping's sequence id.
    """
    from pyspark.sql import Window

    vn = int(vmax_num)
    w = Window.partitionBy("entity").orderBy("e", "seq")
    base = pings.select(
        F.col("user_id").alias("entity"),
        F.col("event_id").alias("seq"),
        F.floor(F.unix_timestamp("ts").cast("double")).cast("long")
        .alias("e"),
        F.col("ix").cast("long").alias("x"),
        F.col("iy").cast("long").alias("y"),
    )
    lagged = base.select(
        "entity", "seq", "e", "x", "y",
        F.lag("e").over(w).alias("pe"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    ).where(F.col("pe").isNotNull())
    d2 = (F.col("x") - F.col("px")) ** 2 + (F.col("y") - F.col("py")) ** 2
    dt = F.col("e") - F.col("pe")
    return (
        lagged.withColumn("dt", dt.cast("long"))
        .withColumn("d2", d2.cast("long"))
        .where(F.col("d2") > (vn * vn) * F.col("dt") * F.col("dt"))
        .select(F.col("entity").alias("user_id"), "seq", "dt", "d2")
    )


def geofence_events(pings: DataFrame, boxes: DataFrame) -> DataFrame:
    """Geofence transition stream: per entity, the pings where the
    containing admin region CHANGED since the previous ping — the
    enter/exit event feed behind location-based alerting, visit
    attribution, and region-level session cuts.

    Region resolution is the broadcast PIP the pip gates use (boxes is
    a dimension: lon0/lat0/lon1/lat1 half-open boxes); overlapping
    boxes resolve to min(admin_id) so the assignment is a function.
    Outside-every-box is region -1, a real state (leaving all fences
    IS an exit event). The transition test is one lag() per entity over
    (ts, seq); the first ping of every entity is an unconditional
    entry event (prev state "nowhere" = -2 sentinel never equals any
    region).

    Plan: broadcast range-predicate join (25-box dim — the declared
    BNLJ pairing of the pip family) + min() agg + one entity window.
    Shuffles: one groupBy and one window, both on the entity key.

    Returns (entity, seq, e, region, prev_region) per transition.
    """
    from pyspark.sql import Window

    base = pings.select(
        F.col("user_id").alias("entity"),
        F.col("event_id").alias("seq"),
        F.floor(F.unix_timestamp("ts").cast("double")).cast("long")
        .alias("e"),
        F.col("ix").cast("long").alias("x"),
        F.col("iy").cast("long").alias("y"),
    )
    hit = (
        base.join(
            F.broadcast(boxes),
            (F.col("x") >= F.col("lon0")) & (F.col("x") < F.col("lon1"))
            & (F.col("y") >= F.col("lat0")) & (F.col("y") < F.col("lat1")),
            "left",
        )
        .groupBy("entity", "seq", "e")
        .agg(F.coalesce(F.min("admin_id"), F.lit(-1)).cast("long")
             .alias("region"))
    )
    w = Window.partitionBy("entity").orderBy("e", "seq")
    return (
        hit.withColumn(
            "prev_region",
            F.coalesce(F.lag("region").over(w), F.lit(-2)).cast("long"))
        .where(F.col("region") != F.col("prev_region"))
        .select(F.col("entity").alias("user_id"), "seq", "e",
                "region", "prev_region")
    )


def sql_polyline_chunks(v: str) -> str:
    """Google encoded-polyline encoding of ONE signed integer value as
    portable SQL text (the second wire codec in the engine, after
    Geobuf — same zigzag heart, ASCII chunk armor instead of varint
    bytes): zigzag to v2 = 2v (or -2v-1 for negatives), split into
    5-bit little-endian groups, OR every non-final group with 0x20,
    add 63, emit as characters.

    Pure integer CASE arithmetic + chr(): evaluates identically in
    Spark SQL and DuckDB (the engine's one-formula-three-engines
    discipline), so the polyline STRING itself is oracle-checkable.
    Supports |v| < 2^24 (5 groups) — lattice-coordinate deltas are
    bounded far below that; the bound is asserted by the encoder's
    final ELSE NULL arm, which would fail the gate loudly rather than
    truncate silently.
    """
    v2 = f"(CASE WHEN ({v}) < 0 THEN -2 * ({v}) - 1 ELSE 2 * ({v}) END)"
    def grp(g: int, last: bool) -> str:
        c = f"((({v2}) >> {5 * g}) & 31)"
        body = f"{c} + 63" if last else f"({c} | 32) + 63"
        return f"chr(CAST({body} AS INT))"
    def enc(n: int) -> str:
        return " || ".join(grp(g, g == n - 1) for g in range(n))
    return (
        f"(CASE WHEN {v2} < 32 THEN {enc(1)} "
        f"WHEN {v2} < 1024 THEN {enc(2)} "
        f"WHEN {v2} < 32768 THEN {enc(3)} "
        f"WHEN {v2} < 1048576 THEN {enc(4)} "
        f"WHEN {v2} < 33554432 THEN {enc(5)} "
        "ELSE NULL END)"
    )


def polyline_encode(pings: DataFrame) -> DataFrame:
    """Per-entity Google-polyline trajectory encoding over lattice
    coordinates: deltas against the previous ping in (ts, seq) order,
    each delta armored by ``sql_polyline_chunks``, concatenated
    order-deterministically (array_sort over (e, seq, chunk) structs —
    never collect_list order).

    One entity-keyed window shuffle (the shared trajectory shuffle) +
    one hash agg. Polyline length is bounded by track length; the
    format is the interchange every web map consumes, so this is the
    serving-side export of the trajectory store.

    Returns (entity, n_pings, polyline).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("entity").orderBy("e", "seq")
    base = pings.select(
        F.col("user_id").alias("entity"),
        F.col("event_id").alias("seq"),
        F.floor(F.unix_timestamp("ts").cast("double")).cast("long")
        .alias("e"),
        F.col("ix").cast("long").alias("x"),
        F.col("iy").cast("long").alias("y"),
    )
    deltas = base.select(
        "entity", "seq", "e",
        (F.col("x") - F.coalesce(F.lag("x").over(w), F.lit(0)))
        .alias("dx"),
        (F.col("y") - F.coalesce(F.lag("y").over(w), F.lit(0)))
        .alias("dy"),
    )
    chunk = F.concat(F.expr(sql_polyline_chunks("dx")),
                     F.expr(sql_polyline_chunks("dy")))
    return (
        deltas.withColumn("s", chunk)
        .groupBy("entity")
        .agg(
            F.count("*").cast("long").alias("n_pings"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("e", "seq", "s"))),
                    lambda r: r["s"],
                ),
                "",
            ).alias("polyline"),
        )
        .withColumnRenamed("entity", "user_id")
    )
