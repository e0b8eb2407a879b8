"""Round-3 additions: range join, trajectory stats, chunk dedup,
repetition stats, token rarity, PII scrub.

Each operator is tested against a small in-test brute-force oracle
(independent of the DuckDB gate SQL), plus plan-shape assertions where
the scale contract matters.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------


def _brute_pairs(pts, r):
    out = set()
    for i, (ida, xa, ya) in enumerate(pts):
        for idb, xb, yb in pts[i + 1:]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r * r:
                a, b = min(ida, idb), max(ida, idb)
                out.add((a, b, d2))
    return out


def test_range_self_join_matches_brute_force(spark):
    from geobuf_cpp_spark.operators.range_join import range_self_join

    # deterministic scatter incl. co-located points, cell-boundary pairs,
    # and negative coordinates (floor-div cell keys must stay correct)
    pts = [(i, (i * 37) % 211 - 80, (i * 91) % 173 - 60) for i in range(400)]
    pts += [(1000, 0, 0), (1001, 0, 0), (1002, 25, 0), (1003, -25, 0)]
    df = spark.createDataFrame(pts, "point_id long, ix long, iy long")
    r = 25
    got = {
        (row.id_a, row.id_b, row.d2)
        for row in range_self_join(df, r).collect()
    }
    assert got == _brute_pairs(pts, r)
    # boundary inclusivity: (1002, 25, 0) is EXACTLY r from (1000, 0, 0)
    assert (1000, 1002, 625) in got


def test_range_self_join_antimeridian_wrap(spark):
    from geobuf_cpp_spark.operators.range_join import range_self_join

    P, r = 36000, 100
    pts = [
        (1, 10, 500),       # just east of the seam
        (2, 35950, 520),    # just west of it: wrapped dx=60, dy=20
        (3, 35990, 500),    # wrapped dx=20 from id 1, dx=40 from id 2
        (4, 18000, 500),    # far from the seam, no wrap partner
        (5, 18050, 500),    # planar pair with id 4
    ]
    df = spark.createDataFrame(pts, "point_id long, ix long, iy long")

    unwrapped = {
        (row.id_a, row.id_b, row.d2)
        for row in range_self_join(df, r).collect()
    }
    assert unwrapped == {(4, 5, 2500), (2, 3, 2000)}

    wrapped = {
        (row.id_a, row.id_b, row.d2)
        for row in range_self_join(df, r, wrap_x=P).collect()
    }
    # seam pairs appear exactly once, with the exact WRAPPED distance;
    # planar pairs are untouched
    assert wrapped == {
        (4, 5, 2500), (2, 3, 2000),
        (1, 2, 60 * 60 + 20 * 20), (1, 3, 20 * 20),
    }


def test_range_join_plan_is_single_equi_join_no_python(spark):
    from geobuf_cpp_spark.operators.range_join import range_self_join

    df = spark.range(500).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 37) % 1000).alias("ix"),
        ((F.col("id") * 91) % 1000).alias("iy"),
    )
    plan = range_self_join(df, 50)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") >= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# trajectory stats
# ---------------------------------------------------------------------------


def test_path_stats_matches_scalar_oracle(spark):
    from geobuf_cpp_spark.operators.trajectory import path_stats

    rows = []
    # user 1: a deterministic wiggly walk; user 2: single point;
    # user 3: duplicate timestamps (tiebreak on event_id)
    for i in range(50):
        rows.append((i, 1, float(i), (i * 13) % 100, (i * 29) % 100))
    rows.append((100, 2, 0.0, 5, 5))
    rows.append((200, 3, 1.0, 0, 0))
    rows.append((201, 3, 1.0, 30, 40))
    rows.append((199, 3, 1.0, 60, 80))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, ix long, iy long"
    )
    got = {r.user_id: (r.n_steps, r.path_len, r.net_disp)
           for r in path_stats(df).collect()}

    def oracle(seq):
        seq = sorted(seq, key=lambda t: (t[2], t[0]))
        steps = 0
        for (ea, _, _, xa, ya), (eb, _, _, xb, yb) in zip(seq, seq[1:]):
            steps += math.floor(math.sqrt((xa - xb) ** 2 + (ya - yb) ** 2))
        (x0, y0), (x1, y1) = (seq[0][3], seq[0][4]), (seq[-1][3], seq[-1][4])
        disp = math.floor(math.sqrt((x0 - x1) ** 2 + (y0 - y1) ** 2))
        return len(seq) - 1, steps, disp

    for uid in (1, 2, 3):
        seq = [r for r in rows if r[1] == uid]
        assert got[uid] == oracle(seq), uid
    # user 3's tiebreak order: 199 -> 200 -> 201, i.e. (60,80)->(0,0)->(30,40)
    assert got[3] == (2, 150, 50)


# ---------------------------------------------------------------------------
# chunk dedup
# ---------------------------------------------------------------------------


def test_chunk_dedup_first_occurrence_wins(spark):
    from geobuf_cpp_spark.operators.dedup import chunk_dedup

    boiler = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, boiler + " tail a b"),            # chunks: boiler, "tail a b"
            (2, boiler),                           # duplicate of doc 1's chunk
            (3, "unique words only here"),        # one short chunk
            (4, boiler + " " + boiler),           # self-repeat: second copy dies
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_chunks, r.n_kept, r.kept_words)
           for r in chunk_dedup(df, chunk_words=8).collect()}
    assert got[1] == (2, 2, 11)       # both kept (first writer)
    assert got[2] == (1, 0, 0)        # its only chunk lost to doc 1
    assert got[3] == (1, 1, 4)
    assert got[4] == (2, 0, 0)        # both copies lost to doc 1's chunk
    # corpus conservation: every distinct chunk text kept exactly once
    total_kept = sum(v[1] for v in got.values())
    assert total_kept == 3            # boiler, "tail a b", doc 3's chunk


# ---------------------------------------------------------------------------
# repetition stats / token rarity
# ---------------------------------------------------------------------------


def test_repetition_stats_counts(spark):
    from geobuf_cpp_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a c a"), (2, "x y z"), (3, "  w w   ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.n_distinct, r.n_dup_tokens, r.top_token_count)
           for r in repetition_stats(df).collect()}
    assert got[1] == (5, 3, 2, 3)
    assert got[2] == (3, 3, 0, 1)
    assert got[3] == (2, 1, 1, 2)     # trim + empty-token filter


def test_token_rarity_corpus_frequencies(spark):
    from geobuf_cpp_spark.operators.textstats import token_rarity

    df = spark.createDataFrame(
        [(1, "the the rare"), (2, "the common common")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.freq_sum, r.min_freq)
           for r in token_rarity(df).collect()}
    # corpus: the=3, rare=1, common=2
    assert got[1] == (3, 3 + 3 + 1, 1)
    assert got[2] == (3, 3 + 2 + 2, 2)


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def test_scrub_pii_counts_and_redaction(spark):
    from geobuf_cpp_spark.operators.pii import (
        EMAIL_RE, IPV4_RE, PHONE_RE, scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.org and bob@x.io from 10.0.3.4 tel +1 555-0101"),
            (2, "no pii here"),
            (3, "ip only 192.168.1.255"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (2, 1, 1)
    assert got[1].clean_text == (
        "mail <EMAIL> and <EMAIL> from <IP> tel <PHONE>"
    )
    assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 0, 0)
    assert got[2].clean_text == "no pii here"
    assert got[3].n_ips == 1 and "<IP>" in got[3].clean_text
    # the python re module agrees with both engines on this pattern subset
    assert re.findall(EMAIL_RE, "a@b.co c@d.org") == ["a@b.co", "c@d.org"]
    assert re.findall(IPV4_RE, "1.2.3.4") == ["1.2.3.4"]
    assert re.findall(PHONE_RE, "+44 123-4567") == ["+44 123-4567"]


def test_text_ops_stay_jvm_side(spark):
    """None of the new text operators may put Python in the plan."""
    from geobuf_cpp_spark.operators.dedup import chunk_dedup
    from geobuf_cpp_spark.operators.pii import scrub_pii
    from geobuf_cpp_spark.operators.textstats import (
        repetition_stats, token_rarity,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    for name, out in (("chunk_dedup", chunk_dedup(df, 8)),
                      ("scrub_pii", scrub_pii(df)),
                      ("repetition_stats", repetition_stats(df)),
                      ("token_rarity", token_rarity(df))):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "ArrowEval" not in plan, name


# ---------------------------------------------------------------------------
# n-gram decontamination
# ---------------------------------------------------------------------------


def test_ngram_decontaminate_catches_partial_copies(spark):
    from geobuf_cpp_spark.operators.dedup import (
        decontaminate, ngram_decontaminate,
    )

    held = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # exact copy — both methods drop it
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # PARTIAL copy (shares the 5-gram "beta gamma delta epsilon
            # zeta") — only the n-gram method drops it
            (2, "intro beta gamma delta epsilon zeta outro words"),
            # clean doc
            (3, "completely different sentence with fresh words here"),
            # shorter than n words — must not crash, must survive
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    exact_ids = {r.doc_id for r in decontaminate(train, held).collect()}
    ngram_ids = {r.doc_id
                 for r in ngram_decontaminate(train, held).collect()}
    assert exact_ids == {2, 3, 4}
    assert ngram_ids == {3, 4}


# ---------------------------------------------------------------------------
# tile clipping
# ---------------------------------------------------------------------------


def test_clip_boxes_area_conservation(spark):
    from geobuf_cpp_spark.operators.tiles import clip_boxes_to_tiles

    boxes = [
        (0, -180.0, -85.0, -168.0, -76.0),   # corner of the grid
        (1, -3.0, -2.0, 14.0, 7.5),          # straddles tile borders
        (2, 0.0, 0.0, 11.25, 5.625),         # EXACTLY one z=5 tile
        (3, 100.1, 20.2, 100.2, 20.3),       # strictly inside one tile
    ]
    df = spark.createDataFrame(
        boxes, "admin_id long, lon0 double, lat0 double, "
        "lon1 double, lat1 double"
    )
    out = clip_boxes_to_tiles(df, 5).collect()
    # conservation: per-box clipped area sums to the box area
    got = {}
    for r in out:
        got[r.admin_id] = got.get(r.admin_id, 0.0) + r.clip_area
        assert r.clip_w > 0 and r.clip_h > 0
        assert 0 <= r.tx < 32 and 0 <= r.ty < 32
    for aid, lon0, lat0, lon1, lat1 in boxes:
        assert abs(got[aid] - (lon1 - lon0) * (lat1 - lat0)) < 1e-9, aid
    # the exactly-one-tile box emits exactly one row (half-open bounds)
    assert sum(1 for r in out if r.admin_id == 2) == 1
    assert sum(1 for r in out if r.admin_id == 3) == 1


def test_clip_boxes_plan_no_join_no_python(spark):
    from geobuf_cpp_spark.operators.tiles import clip_boxes_to_tiles

    df = spark.range(20).selectExpr(
        "id AS admin_id", "CAST(id AS DOUBLE) AS lon0",
        "CAST(id AS DOUBLE) AS lat0", "CAST(id + 15 AS DOUBLE) AS lon1",
        "CAST(id + 12 AS DOUBLE) AS lat1",
    )
    plan = clip_boxes_to_tiles(df, 5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# simplification
# ---------------------------------------------------------------------------


def _dp_recursive(pts, tol):
    """Independent recursive reference implementation."""
    import numpy as np

    n = len(pts)
    if n <= 2:
        return np.ones(n, dtype=bool) if n == 2 else np.array([True])
    a, b = np.asarray(pts[0]), np.asarray(pts[-1])
    ab = b - a
    denom = float(ab @ ab)
    best, bi = -1.0, -1
    for i in range(1, n - 1):
        p = np.asarray(pts[i])
        if denom == 0.0:
            d2 = float(((p - a) ** 2).sum())
        else:
            t = min(max(float((p - a) @ ab) / denom, 0.0), 1.0)
            proj = a + t * ab
            d2 = float(((p - proj) ** 2).sum())
        if d2 > best:
            best, bi = d2, i
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    if best > tol * tol:
        left = _dp_recursive(pts[: bi + 1], tol)
        right = _dp_recursive(pts[bi:], tol)
        keep[: bi + 1] |= left
        keep[bi:] |= right
    return keep


def test_dp_mask_matches_recursive_reference():
    import numpy as np

    from geobuf_cpp_spark.operators.simplify import dp_mask

    rng = [(i, ((i * 37) % 23) - 11 + (0.01 * i if i % 5 else 0))
           for i in range(200)]
    pts = np.asarray(rng, dtype=float)
    for tol in (0.5, 2.0, 8.0, 100.0):
        got = dp_mask(pts, tol)
        ref = _dp_recursive(pts, tol)
        assert (got == ref).all(), tol


def test_dp_error_bound_and_endpoints():
    import numpy as np

    from geobuf_cpp_spark.operators.simplify import dp_mask

    pts = np.asarray(
        [(i, ((i * 91) % 47) * 0.25) for i in range(500)], dtype=float
    )
    tol = 3.0
    keep = dp_mask(pts, tol)
    assert keep[0] and keep[-1]
    kept_idx = np.where(keep)[0]
    # every dropped vertex within tol of the kept edge that covers it
    for a_i, b_i in zip(kept_idx, kept_idx[1:]):
        a, b = pts[a_i], pts[b_i]
        ab = b - a
        denom = float(ab @ ab)
        for m in range(a_i + 1, b_i):
            p = pts[m]
            t = min(max(float((p - a) @ ab) / denom, 0.0), 1.0) if denom else 0.0
            proj = a + t * ab
            assert float(((p - proj) ** 2).sum()) <= tol * tol + 1e-9


def test_simplify_wire_polygon_ring_validity():
    import numpy as np

    from geobuf_cpp_spark.operators.simplify import simplify_wire

    # a noisy square ring, closed, 17 points
    sq = []
    for k in range(4):
        x0, y0 = [(0, 0), (10, 0), (10, 10), (0, 10)][k]
        x1, y1 = [(10, 0), (10, 10), (0, 10), (0, 0)][k]
        for s in range(4):
            f = s / 4.0
            sq.append((x0 + (x1 - x0) * f + 0.05 * ((k * 4 + s) % 3),
                       y0 + (y1 - y0) * f))
    sq.append(sq[0])
    coords = [c for p in sq for c in p]
    lengths, flat = simplify_wire(4, 2, [17], coords, tol=0.5)
    assert lengths[0] >= 4
    mat = np.asarray(flat).reshape(-1, 2)
    assert (mat[0] == mat[-1]).all()          # still closed
    assert lengths[0] < 17                    # actually simplified


def test_simplify_lines_spark_roundtrip(spark):
    from geobuf_cpp_spark.operators.simplify import simplify_lines

    line = {"type": 2, "dim": 2, "lengths": [6],
            "coords": [0.0, 0.0, 1.0, 0.01, 2.0, -0.01, 3.0, 0.0,
                       4.0, 5.0, 5.0, 5.0]}
    point = {"type": 0, "dim": 2, "lengths": [], "coords": [7.0, 8.0]}
    df = spark.createDataFrame(
        [(1, line), (2, point)],
        "id long, geom struct<type:int, dim:int, lengths:array<int>, "
        "coords:array<double>>",
    )
    out = {r.id: r.geom for r in simplify_lines(df, 0.1).collect()}
    # collinear-ish prefix collapses; the corner at (3,0) and ends survive
    assert out[1]["coords"] == [0.0, 0.0, 3.0, 0.0, 4.0, 5.0, 5.0, 5.0]
    assert out[1]["lengths"] == [4]
    assert out[2]["coords"] == [7.0, 8.0]     # points pass through


def test_simplify_idempotent_on_fixtures():
    from geobuf_cpp_spark.operators.simplify import simplify_wire

    coords = [c for i in range(300)
              for c in (float(i), float(((i * 53) % 29) - 14))]
    l1, c1 = simplify_wire(2, 2, [300], coords, tol=2.5)
    l2, c2 = simplify_wire(2, 2, l1, c1, tol=2.5)
    assert l1 == l2 and c1 == c2


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def test_stratified_sample_rates_and_partition_invariance(spark):
    from geobuf_cpp_spark.operators.curation import stratified_sample

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(9000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.1, "de": 0.5}          # fr falls to default 0.0
    got = stratified_sample(df, rates).groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in got}
    assert "fr" not in by_lang
    assert abs(by_lang["en"] / 3000 - 0.1) < 0.03
    assert abs(by_lang["de"] / 3000 - 0.5) < 0.03
    # identical selection regardless of layout
    ids_1 = {r.doc_id for r in stratified_sample(df, rates).collect()}
    ids_2 = {r.doc_id
             for r in stratified_sample(df.repartition(17), rates).collect()}
    assert ids_1 == ids_2


def test_event_pivot_single_aggregate_no_join(spark):
    from pyspark.sql import functions as FN

    import __spark_entry__ as E

    df = E.q_event_pivot(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1      # one user-key shuffle only
    # equivalence with Spark's built-in pivot (which plans 2 exchanges)
    evs = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    piv = (
        evs.groupBy("user_id").pivot("event_type", E.EVENT_TYPES).count()
        .select(
            "user_id",
            *[FN.coalesce(FN.col(t), FN.lit(0)).cast("long").alias(f"n_{t}")
              for t in E.EVENT_TYPES],
        )
    )
    assert df.exceptAll(piv).count() == 0 and piv.exceptAll(df).count() == 0


# ---------------------------------------------------------------------------
# funnel / raster smoothing
# ---------------------------------------------------------------------------


def test_funnel_in_order_semantics(spark):
    from geobuf_cpp_spark.operators.funnel import (
        funnel_counts, funnel_earliest,
    )

    rows = [
        # user 1 completes in order: view(1) click(3) purchase(5)
        (10, 1, 1.0, "view"), (11, 1, 3.0, "click"), (12, 1, 5.0, "purchase"),
        # user 2 out of order: click before any view -> stops at view
        (20, 2, 1.0, "click"), (21, 2, 2.0, "view"), (22, 2, 3.0, "purchase"),
        # user 3: purchase before click -> completes steps 1-2 only
        (30, 3, 1.0, "view"), (31, 3, 2.0, "purchase"), (32, 3, 3.0, "click"),
        # user 4: never views
        (40, 4, 1.0, "click"), (41, 4, 2.0, "purchase"),
        # user 5: repeat views; earliest chain counted
        (50, 5, 1.0, "view"), (51, 5, 2.0, "view"), (52, 5, 2.5, "click"),
        (53, 5, 9.0, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, event_type string"
    )
    steps = ["view", "click", "purchase"]
    got = {r.user_id: (r.t_1, r.t_2, r.t_3)
           for r in funnel_earliest(df, steps, ts_col="ts").collect()}
    assert got[1] == (1.0, 3.0, 5.0)
    assert got[2] == (2.0, None, None)      # click at 1.0 precedes view
    assert got[3] == (1.0, 3.0, None)       # purchase(2.0) precedes click
    assert got[4] == (None, None, None)
    assert got[5] == (1.0, 2.5, 9.0)
    counts = funnel_counts(df, steps, ts_col="ts").collect()[0]
    assert (counts.n_step1, counts.n_step2, counts.n_step3) == (4, 3, 2)
    # horizon: user 5's purchase at 9.0 is outside a 5s window of t_1
    h = {r.user_id: r.t_3 for r in funnel_earliest(
        df, steps, ts_col="ts", horizon_s=5.0).collect()}
    assert h[5] is None and h[1] == 5.0


def test_funnel_single_shuffle(spark):
    from geobuf_cpp_spark.operators.funnel import funnel_earliest

    df = spark.range(100).selectExpr(
        "id AS event_id", "id % 10 AS user_id",
        "CAST(id AS DOUBLE) AS ts",
        "CASE id % 3 WHEN 0 THEN 'view' WHEN 1 THEN 'click' "
        "ELSE 'purchase' END AS event_type",
    )
    plan = funnel_earliest(df, ["view", "click", "purchase"], ts_col="ts") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # one exchange for the window key + one for the final groupBy on the
    # same key (Catalyst reuses the partitioning: count real exchanges)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_smooth_cell_counts_scalar_oracle(spark):
    from geobuf_cpp_spark.operators.tiles import smooth_cell_counts

    cells = [(0, 0, 1), (1, 0, 10), (2, 0, 100), (0, 1, 1000), (5, 5, 7)]
    df = spark.createDataFrame(cells, "ix long, iy long, n_points long")
    got = {(r.ix, r.iy): (r.n_points, r.smoothed)
           for r in smooth_cell_counts(df).collect()}
    by_pos = {(x, y): n for x, y, n in cells}

    def ref(x, y):
        return sum(by_pos.get((x + dx, y + dy), 0)
                   for dx in (-1, 0, 1) for dy in (-1, 0, 1))

    assert set(got) == set(by_pos)           # only real cells survive
    for (x, y), (n, s) in got.items():
        assert n == by_pos[(x, y)] and s == ref(x, y), (x, y)
    assert got[(5, 5)] == (7, 7)             # isolated cell = own count


# ---------------------------------------------------------------------------
# hilbert index / cohort retention
# ---------------------------------------------------------------------------


def test_hilbert_bijection_adjacency_and_sql_parity():
    import duckdb
    import numpy as np

    from geobuf_cpp_spark.functions.hilbert import hilbert_d, sql_hilbert_query

    order, n = 5, 32
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = hilbert_d(xs.ravel(), ys.ravel(), order)
    # space-filling bijection
    assert sorted(d.tolist()) == list(range(n * n))
    # THE Hilbert property Morton lacks: consecutive indices are
    # 4-adjacent grid neighbors
    o = np.argsort(d)
    px, py = xs.ravel()[o], ys.ravel()[o]
    assert (np.abs(np.diff(px)) + np.abs(np.diff(py)) == 1).all()
    # the unrolled SQL chain (DuckDB) equals the numpy kernel per cell
    con = duckdb.connect()
    con.execute(f"CREATE TABLE g AS SELECT a.range AS x, b.range AS y "
                f"FROM range({n}) a, range({n}) b")
    q = sql_hilbert_query("SELECT x, y, x AS px, y AS py FROM g",
                          ["px", "py"], "x", "y", order)
    got = {(r[0], r[1]): r[2] for r in con.execute(q).fetchall()}
    for x, y, dd in zip(xs.ravel(), ys.ravel(), d):
        assert got[(int(x), int(y))] == int(dd)


def test_hilbert_layout_beats_morton_locality():
    """Sorting by Hilbert gives output chunks ('files') with tighter
    spatial bounding boxes than Morton order — the zone-map pruning win."""
    import numpy as np

    from geobuf_cpp_spark.functions.hilbert import hilbert_d

    n, chunks = 64, 32
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    xs, ys = xs.ravel(), ys.ravel()

    def mean_bbox_area(order_key):
        idx = np.argsort(order_key, kind="stable")
        cx, cy = xs[idx], ys[idx]
        areas = []
        for c in np.array_split(np.arange(n * n), chunks):
            areas.append(
                (cx[c].max() - cx[c].min() + 1)
                * (cy[c].max() - cy[c].min() + 1)
            )
        return float(np.mean(areas))

    morton = np.zeros(n * n, dtype=np.int64)
    for b in range(6):
        morton |= ((xs >> b) & 1) << (2 * b)
        morton |= ((ys >> b) & 1) << (2 * b + 1)
    hil = hilbert_d(xs, ys, 6)
    assert mean_bbox_area(hil) <= mean_bbox_area(morton)


def test_cohort_retention_scalar_oracle(spark):
    from geobuf_cpp_spark.operators.cohorts import cohort_retention

    W = 604800
    rows = [
        # user 1: weeks 0, 1, 3 (two events in week 0 count once)
        (1, 1.0), (1, 2.0), (1, W + 5.0), (1, 3 * W + 1.0),
        # user 2: first seen week 1, active week 2
        (2, W + 10.0), (2, 2 * W + 10.0),
        # user 3: only week 0
        (3, 100.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, sec double").selectExpr(
        "user_id", "CAST(sec AS TIMESTAMP) AS ts"
    )
    got = {(r.cohort_week, r.k): r.n_users
           for r in cohort_retention(df).collect()}
    assert got == {
        (0, 0): 2,   # users 1, 3
        (0, 1): 1,   # user 1
        (0, 3): 1,   # user 1
        (1, 0): 1,   # user 2
        (1, 1): 1,   # user 2
    }


# ---------------------------------------------------------------------------
# grid-density clustering (DBSCAN-lite)
# ---------------------------------------------------------------------------


def test_grid_cluster_matches_union_find(spark):
    """Dense-cell components equal a scalar union-find over the same
    8-neighbor adjacency; sparse cells are dropped as noise."""
    from geobuf_cpp_spark.functions.cells import cell_of
    from geobuf_cpp_spark.operators.clustering import grid_cluster

    res, min_pts = 6, 2
    # three dense blobs (one L-shaped, diagonally connected), plus noise
    dense_cells = [(10, 10), (10, 11), (11, 12),      # diagonal chain
                   (40, 40), (41, 41),                # diagonal pair
                   (55, 5)]                           # singleton
    pts = []
    pid = 0
    n = 1 << res
    for iy, ix in dense_cells:
        lat = (iy + 0.5) / n * 180.0 - 90.0
        lon = (ix + 0.5) / n * 360.0 - 180.0
        for _ in range(min_pts):
            pts.append((pid, lat, lon)); pid += 1
    # noise: one point alone in its own cell
    pts.append((pid, (3 + 0.5) / n * 180.0 - 90.0, (3 + 0.5) / n * 360.0 - 180.0))

    df = spark.createDataFrame(pts, "point_id long, lat double, lon double")
    got = {r["cell"]: r["cluster_id"]
           for r in grid_cluster(df, res, min_pts).collect()}

    ids = {c: int(cell_of([(iy + 0.5) / n * 180.0 - 90.0],
                          [(ix + 0.5) / n * 360.0 - 180.0], res)[0])
           for c in dense_cells for iy, ix in [c]}
    # expected components by construction
    comp = {(10, 10): [(10, 10), (10, 11), (11, 12)],
            (40, 40): [(40, 40), (41, 41)],
            (55, 5): [(55, 5)]}
    expect = {}
    for members in comp.values():
        lbl = min(ids[m] for m in members)
        for m in members:
            expect[ids[m]] = lbl
    assert got == expect  # noise cell absent, components exact


def test_dedup_clusters_long_chain_pointer_jumping(spark, loop_paths):
    """A diameter-60 chain converges without plan blowup — the case that
    OOM'd the pre-pointer-jumping O(diameter) loop (plan doubled per
    round). Pointer jumping needs ~log2(60) rounds. Both paths."""
    from geobuf_cpp_spark.operators.dedup import dedup_clusters

    n = 61
    edges = [(i, i + 1) for i in range(n - 1)]
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for cap in loop_paths():
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup_clusters(docs, pairs).collect()}
        assert got == {i: 0 for i in range(n)}, cap


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def test_cms_estimate_upper_bounds_true_counts(spark):
    """CMS point query is always >= the true count (min over rows of
    counters that each over-count), and exact for terms with no
    colliding neighbors in any row."""
    from geobuf_cpp_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    docs = spark.createDataFrame(
        [(i, ("alpha " * (i + 1)).strip() + " beta gamma") for i in range(5)],
        "doc_id long, text string",
    )
    sketch = count_min_sketch(docs)
    terms = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("absent",)], "term string"
    )
    est = {r["term"]: r["est"] for r in cms_estimate(sketch, terms).collect()}
    true = {"alpha": 15, "beta": 5, "gamma": 5, "absent": 0}
    for t, c in true.items():
        assert est[t] >= c, (t, est[t], c)
    # 3 distinct live tokens in 1024 buckets: collisions would need an
    # md5 bucket clash in every one of the 4 rows — assert exactness
    assert est == true


def test_cms_shard_merge_is_same_aggregation(spark):
    """Sketch(union of shards) == elementwise sum of per-shard sketches:
    CMS merge is literally the same groupBy over the union."""
    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.sketches import count_min_sketch

    a = spark.createDataFrame(
        [(1, "x y z"), (2, "x x w")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(3, "y q"), (4, "z z q")], "doc_id long, text string")
    merged = (
        count_min_sketch(a).unionByName(count_min_sketch(b))
        .groupBy("sketch_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = count_min_sketch(a.unionByName(b))
    key = lambda r: (r["sketch_row"], r["bucket"], r["cnt"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, whole.collect()))


def test_md5_low64_matches_duckdb_anchor(spark):
    """Spark's hex-pair reconstruction of the little-endian uint64 of
    md5 digest bytes 8..16 equals the value DuckDB exposes as
    md5_number_lower (computed here via hashlib, same definition)."""
    import hashlib

    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.sketches import md5_low64

    words = ["alpha", "beta", "hello world", "", "ünïcödé", "a" * 300]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r["s"]: int(r["v"])
           for r in df.select("s", md5_low64(F.col("s")).alias("v")).collect()}
    for w in words:
        want = int.from_bytes(hashlib.md5(w.encode()).digest()[8:16], "little")
        assert got[w] == want, w


def test_kmv_estimate_within_error_bound(spark):
    """KMV relative error is ~1/sqrt(k-2); on a 2000-token vocabulary
    with k=KMV_K the estimate must land within 3 standard errors."""
    import hashlib

    from geobuf_cpp_spark.operators.sketches import (
        KMV_K,
        kmv_distinct,
        kmv_sketch,
    )

    n = 2000
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i * 20, (i + 1) * 20)))
         for i in range(n // 20)],
        "doc_id long, text string",
    )
    row = kmv_distinct(kmv_sketch(docs)).collect()[0]
    assert row["n_sketch"] == KMV_K
    rel_err = abs(row["est_distinct"] - n) / n
    assert rel_err < 3 / ((KMV_K - 2) ** 0.5), rel_err
    # pin the estimator exactly: the KMV_K-th smallest md5-low64 token
    # hash, recomputed here, and (k-1) * 2^64 div h_k from it
    hashes = sorted(
        int.from_bytes(hashlib.md5(f"w{j}".encode()).digest()[8:16],
                       "little")
        for j in range(n))
    assert int(row["kth_hash"]) == hashes[KMV_K - 1]
    assert row["est_distinct"] == ((KMV_K - 1) << 64) // hashes[KMV_K - 1]


def test_kmv_sketch_merge_is_union_bottom_k(spark):
    """Sketch(A union B) == bottom-k of (sketch(A) union sketch(B)):
    KMV merge needs only the two k-row sketches, never the shards."""
    from pyspark.sql import Window, functions as F

    from geobuf_cpp_spark.operators.sketches import kmv_sketch

    a = spark.createDataFrame(
        [(i, " ".join(f"a{j}" for j in range(40))) for i in range(2)],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(3, " ".join(f"b{j}" for j in range(40)))],
        "doc_id long, text string")
    k = 16
    merged = (
        kmv_sketch(a).select("hash_val")
        .unionByName(kmv_sketch(b).select("hash_val"))
        .distinct()
        .orderBy("hash_val").limit(k)
        .select(F.row_number().over(Window.orderBy("hash_val"))
                .cast("int").alias("rank"), "hash_val")
    )
    whole = kmv_sketch(a.unionByName(b))
    key = lambda r: (r["rank"], r["hash_val"])  # noqa: E731
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, whole.collect()))


def test_term_cooccurrence_hand_counts(spark):
    """Pair doc-counts on a hand-built corpus: each unordered pair once,
    doc-level (duplicates inside a doc don't double count), marginals
    and n_docs carried for the caller's PMI."""
    from geobuf_cpp_spark.operators.textstats import term_cooccurrence

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "cat dog fish"), (3, "dog fish"),
         (4, "cat")],
        "doc_id long, text string",
    )
    rows = {(r["term_a"], r["term_b"]):
            (r["pair_docs"], r["docs_a"], r["docs_b"], r["n_docs"])
            for r in term_cooccurrence(docs).collect()}
    assert rows == {
        ("cat", "dog"): (2, 3, 3, 4),
        ("cat", "fish"): (1, 3, 2, 4),
        ("dog", "fish"): (2, 3, 2, 4),
    }


def test_grid_cluster_driver_and_distributed_paths_agree(spark, loop_paths):
    """The bounded driver union-find fast path and the distributed
    pointer-jumping fallback produce identical labels on the same
    clustered point cloud."""
    import geobuf_cpp_spark.operators.clustering as C

    import numpy as np
    rng = np.random.default_rng(7)
    pts = []
    for blob, (clat, clon) in enumerate([(10, 20), (-30, 50), (10.4, 20.4)]):
        for i in range(60):
            pts.append((blob * 100 + i,
                        clat + rng.uniform(-0.4, 0.4),
                        clon + rng.uniform(-0.4, 0.4)))
    df = spark.createDataFrame(pts, "point_id long, lat double, lon double")

    fast, slow = [{(r["cell"], r["n_points"], r["cluster_id"])
                   for r in C.grid_cluster(df, 7, 2).collect()}
                  for _ in loop_paths()]
    assert fast == slow and len(fast) > 0


def test_bloom_probe_no_false_negatives(spark):
    """Every inserted term probes maybe_present=True (Bloom filters
    cannot false-negative), and absent terms miss at the production
    width."""
    from geobuf_cpp_spark.operators.sketches import bloom_build, bloom_probe

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    bloom = bloom_build(docs)
    probe = spark.createDataFrame(
        [(t,) for t in
         ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "omega"]],
        "term string",
    )
    got = {r["term"]: r["maybe_present"]
           for r in bloom_probe(bloom, probe).collect()}
    for t in ["alpha", "beta", "gamma", "delta", "epsilon"]:
        assert got[t] is True, t
    # 15 set bits in 65536: absent terms must miss at least one bucket
    assert got["zeta"] is False and got["omega"] is False


def test_bloom_shard_union_is_same_distinct(spark):
    """bloom(A union B) == DISTINCT(bloom(A) union bloom(B)): filter
    merge is a union of the two bit tables."""
    from geobuf_cpp_spark.operators.sketches import bloom_build

    a = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "y q w")], "doc_id long, text string")
    merged = sorted(
        r["bit"] for r in bloom_build(a).unionByName(bloom_build(b))
        .distinct().collect())
    whole = sorted(
        r["bit"] for r in bloom_build(a.unionByName(b)).collect())
    assert merged == whole and len(whole) > 0


def test_gapfill_locf_semantics(spark):
    """Dense range per key; gaps carry the last value forward; within a
    bucket the latest (ts, id) wins; ranges are per-key, not global."""
    from datetime import datetime as dt

    from geobuf_cpp_spark.operators.resample import gapfill_locf

    rows = [
        # user 1: buckets 0 and 3 observed -> 1 and 2 gap-filled
        (1, dt(2024, 1, 1, 0, 10), 1, 10.0),
        (2, dt(2024, 1, 1, 0, 50), 1, 20.0),   # same bucket, later ts wins
        (3, dt(2024, 1, 1, 3, 5), 1, 30.0),
        # user 2: single bucket, two events at the SAME ts -> max id wins
        (4, dt(2024, 1, 1, 5, 0), 2, 40.0),
        (5, dt(2024, 1, 1, 5, 0), 2, 50.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")
    got = {(r["user_id"], r["bucket"]): r["v_locf"]
           for r in gapfill_locf(df).collect()}
    base = 473352  # 2024-01-01T00 epoch hours
    assert got == {
        (1, base + 0): 20.0,
        (1, base + 1): 20.0,
        (1, base + 2): 20.0,
        (1, base + 3): 30.0,
        (2, base + 5): 50.0,
    }


def test_triangle_counts_hand_graph(spark):
    """K4 (every node in 3 triangles) + pendant + disconnected edge
    (zero triangles); also exercises the hub case the degree
    orientation bounds."""
    from geobuf_cpp_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(0, 9), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["n_triangles"]
           for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 9: 0, 20: 0, 21: 0}


def test_triangle_counts_star_hub_has_none(spark):
    """A star (hub degree n, no closing edges) has zero triangles —
    the wedge join must produce nothing despite the hub fan-out."""
    from geobuf_cpp_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 30)], "id_a long, id_b long")
    rows = triangle_counts(df).collect()
    assert len(rows) == 30 and all(r["n_triangles"] == 0 for r in rows)


def test_profile_single_scan_and_null_handling(spark):
    """Profiling handles nulls (count excludes them, n_null counts them,
    distinct ignores them) and the whole profile is ONE scan — the plan
    contains exactly one parquet/LocalTableScan leaf."""
    import io
    from contextlib import redirect_stdout

    from geobuf_cpp_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "x int, s string",
    )
    got = {r["col_name"]: (r["n"], r["n_null"], r["n_distinct"],
                           r["min_s"], r["max_s"])
           for r in profile_table(df, ["x", "s"]).collect()}
    assert got == {"x": (3, 1, 3, "1", "3"), "s": (3, 1, 2, "a", "b")}

    buf = io.StringIO()
    with redirect_stdout(buf):
        profile_table(df, ["x", "s"]).explain("formatted")
    plan = buf.getvalue()
    leaves = [ln for ln in plan.splitlines()
              if ln.strip().startswith("(") and "Scan" in ln]
    assert len(leaves) == 1, leaves  # one source scan feeds everything
    assert "Expand" in plan  # multi-column distinct in a single pass


def test_token_windows_overlap_semantics(spark):
    """Hand-checkable chunking: 10 tokens, size 4 / stride 2 -> windows
    at 0,2,4,6,8 with the tail shortened; every token lands in exactly
    ceil(size/stride)=2 windows except edges; reconstructed text md5
    matches a scalar recomputation."""
    import hashlib

    from geobuf_cpp_spark.operators.chunking import token_windows

    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame([(1, " ".join(words))],
                                 "doc_id long, text string")
    rows = {r["window_id"]: (r["n_tokens"], r["text_md5"])
            for r in token_windows(docs, size=4, stride=2).collect()}
    expect = {}
    for w in range(5):
        chunk = words[w * 2: w * 2 + 4]
        expect[w] = (len(chunk),
                     hashlib.md5(" ".join(chunk).encode()).hexdigest())
    assert rows == expect


def test_tile_pyramid_single_scan_and_conservation(spark):
    """The pyramid is one aggregation: its plan reads the source ONCE
    and caches nothing, its schema is fixed, and every level equals the
    direct per-level tile counts (so every level conserves the total
    point count), including a pyramid down to z=0 and a single level."""
    import io
    from contextlib import redirect_stdout

    from geobuf_cpp_spark.operators.tiles import assign_tiles, tile_pyramid

    import numpy as np
    rng = np.random.default_rng(3)
    pts = [(i, float(la), float(lo)) for i, (la, lo) in enumerate(
        zip(rng.uniform(-80, 80, 500), rng.uniform(-170, 170, 500)))]
    df = spark.createDataFrame(pts, "point_id long, lat double, lon double")

    for z_base, z_min in [(5, 2), (2, 0), (4, 4)]:
        pyr = tile_pyramid(df, z_base=z_base, z_min=z_min)
        assert pyr.schema.simpleString() == \
            "struct<z:int,tx:bigint,ty:bigint,n_points:bigint>"
        got = sorted(tuple(r) for r in pyr.collect())
        direct = sorted(
            tuple(r) for z in range(z_min, z_base + 1)
            for r in assign_tiles(df, z).groupBy("z", "tx", "ty")
            .agg(F.count("*").alias("n_points")).collect())
        assert got == direct, (z_base, z_min)
        per_level = {}
        for z, _, _, n in got:
            per_level[z] = per_level.get(z, 0) + n
        assert per_level == {z: 500 for z in range(z_min, z_base + 1)}

    buf = io.StringIO()
    with redirect_stdout(buf):
        tile_pyramid(df, z_base=5, z_min=2).explain("formatted")
    plan = buf.getvalue()
    nodes = [ln for ln in plan.splitlines() if ln.strip().startswith("(")]
    assert len([ln for ln in nodes if "Scan" in ln]) == 1, nodes
    assert "InMemoryTableScan" not in plan


def test_sketches_partition_invariant(spark):
    """CMS, KMV and Bloom outputs are identical at 1 vs 13 input
    partitions — the determinism a resumable 1000-executor run needs
    (no accidental dependence on partition boundaries or merge order)."""
    from geobuf_cpp_spark.operators.sketches import (
        bloom_build,
        count_min_sketch,
        kmv_sketch,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 37} tok{i % 11} common") for i in range(200)],
        "doc_id long, text string",
    )
    for build, key in [
        (count_min_sketch, lambda r: (r["sketch_row"], r["bucket"], r["cnt"])),
        (kmv_sketch, lambda r: (r["rank"], str(r["hash_val"]))),
        (bloom_build, lambda r: r["bit"]),
    ]:
        one = sorted(map(key, build(docs.repartition(1)).collect()))
        many = sorted(map(key, build(docs.repartition(13)).collect()))
        assert one == many and len(one) > 0, build.__name__


def test_vocab_topk_plans_take_ordered(spark):
    """Regression: the co-occurrence vocabulary and KMV bottom-k must
    plan as TakeOrderedAndProject (per-partition local k), never as a
    row_number over an unpartitioned window (single-task funnel)."""
    import io
    from contextlib import redirect_stdout

    from geobuf_cpp_spark.operators.sketches import kmv_sketch
    from geobuf_cpp_spark.operators.textstats import term_cooccurrence

    docs = spark.createDataFrame(
        [(i, f"a{i % 5} b{i % 3} c") for i in range(50)],
        "doc_id long, text string",
    )
    for df in [term_cooccurrence(docs), kmv_sketch(docs)]:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "TakeOrderedAndProject" in plan
        # a Window with an empty PARTITION BY would appear as
        # 'Window [...row_number()...], [x ASC' with no partition spec;
        # the kmv rank window only ever sees k rows post-limit, which
        # plans AFTER the TakeOrderedAndProject
        assert plan.index("TakeOrderedAndProject") > -1


def test_merge_upsert_updates_beat_base_on_ties(spark):
    from geobuf_cpp_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "old", "2024-01-01 00:00:00"), (2, "keep", "2024-06-01 00:00:00")],
        "k long, v string, ts string",
    ).selectExpr("k", "v", "CAST(ts AS TIMESTAMP) AS ts", "v AS segment")
    updates = spark.createDataFrame(
        [
            (1, "tie-wins", "2024-01-01 00:00:00"),   # equal ts: update wins
            (2, "stale", "2024-01-01 00:00:00"),      # older than base: loses
            (3, "insert", "2024-03-01 00:00:00"),     # new key
            (3, "insert-late", "2024-04-01 00:00:00"),  # latest wins in-source
        ],
        "k long, v string, ts string",
    ).selectExpr("k", "v", "CAST(ts AS TIMESTAMP) AS ts", "v AS segment")
    got = {
        r["k"]: r["v"]
        for r in merge_upsert(base, updates, ["k"], "ts").collect()
    }
    assert got == {1: "tie-wins", 2: "keep", 3: "insert-late"}


def test_nearest_box_inside_boundary_and_ties(spark):
    from geobuf_cpp_spark.operators.nearest import nearest_box

    boxes = spark.createDataFrame(
        [(10, 0, 0, 10, 10), (20, 20, 0, 30, 10)],
        "admin_id long, lon0 long, lat0 long, lon1 long, lat1 long",
    )
    pts = spark.createDataFrame(
        [
            (1, 5, 5),     # inside box 10 -> d2 = 0
            (2, 10, 5),    # on the shared-edge x of box 10 -> closed box, 0
            (3, 15, 5),    # exactly midway (5 from both) -> tie -> admin 10
            (4, 33, 14),   # outside both; nearest corner of box 20 is (30,10)
        ],
        "point_id long, ix long, iy long",
    )
    got = {r["point_id"]: (r["admin_id"], r["d2"])
           for r in nearest_box(pts, boxes).collect()}
    assert got == {1: (10, 0), 2: (10, 0), 3: (10, 25), 4: (20, 25)}


def test_exact_rank_buckets_matches_global_ntile_semantics(spark):
    from geobuf_cpp_spark.operators.curation import exact_rank_buckets

    import pandas as pd

    pdf = pd.DataFrame({
        "id": range(37),
        "v": [(i * 13) % 7 for i in range(37)],   # heavy value ties
    })
    got = exact_rank_buckets(
        spark.createDataFrame(pdf), "v", "id"
    ).toPandas().sort_values("id").reset_index(drop=True)
    expect = pdf.sort_values(["v", "id"]).reset_index(drop=True)
    expect["rank"] = range(1, len(expect) + 1)
    expect["bucket"] = (expect["rank"] - 1) * 10 // len(expect) + 1
    merged = got.merge(expect, on="id", suffixes=("", "_e"))
    assert (merged["rank"] == merged["rank_e"]).all()
    assert (merged["bucket"] == merged["bucket_e"]).all()
    # buckets are contiguous in rank order and near-equal in size
    sizes = got.groupby("bucket").size()
    assert sizes.max() - sizes.min() <= 1


# ---------------------------------------------------------------------------
# segment-intersection join
# ---------------------------------------------------------------------------


def _segs_intersect_fractions(s1, s2):
    """Independent oracle: exact rational parametric solve (no orientation
    tests — different math from the operator's CLRS predicate)."""
    from fractions import Fraction

    (x1, y1, x2, y2), (x3, y3, x4, y4) = s1, s2
    dx1, dy1 = x2 - x1, y2 - y1
    dx2, dy2 = x4 - x3, y4 - y3

    def _on(px, py, qx, qy, rx, ry):
        if (qx - px) * (ry - py) - (qy - py) * (rx - px) != 0:
            return False
        return (min(px, qx) <= rx <= max(px, qx)
                and min(py, qy) <= ry <= max(py, qy))

    # degenerate (point) segments: test the point against the OTHER
    # segment's direction — the generic parallel branch below tests
    # against d1 only and mis-handles a degenerate s1
    if (dx1, dy1) == (0, 0) and (dx2, dy2) == (0, 0):
        return (x1, y1) == (x3, y3)
    if (dx1, dy1) == (0, 0):
        return _on(x3, y3, x4, y4, x1, y1)
    if (dx2, dy2) == (0, 0):
        return _on(x1, y1, x2, y2, x3, y3)
    denom = dx1 * dy2 - dy1 * dx2
    if denom != 0:
        t = Fraction((x3 - x1) * dy2 - (y3 - y1) * dx2, denom)
        u = Fraction((x3 - x1) * dy1 - (y3 - y1) * dx1, denom)
        return 0 <= t <= 1 and 0 <= u <= 1
    # parallel: collinear iff the connecting vector is also parallel
    if (x3 - x1) * dy1 - (y3 - y1) * dx1 != 0:
        return False
    # collinear: 1-D interval overlap along the dominant axis (falls back
    # to y for vertical lines; degenerate points reduce to containment)
    if dx1 != 0 or dx2 != 0 or x1 != x3:
        lo1, hi1 = min(x1, x2), max(x1, x2)
        lo2, hi2 = min(x3, x4), max(x3, x4)
        if dx1 == 0 and dx2 == 0:
            pass  # both vertical at same x: compare y below
        else:
            return lo1 <= hi2 and lo2 <= hi1
    lo1, hi1 = min(y1, y2), max(y1, y2)
    lo2, hi2 = min(y3, y4), max(y3, y4)
    return lo1 <= hi2 and lo2 <= hi1


def test_segment_intersections_match_rational_oracle(spark):
    from geobuf_cpp_spark.operators.segments import segment_intersections

    rng = __import__("numpy").random.default_rng(11)
    segs = []
    for i in range(160):
        ax, ay = int(rng.integers(0, 400)), int(rng.integers(0, 400))
        segs.append((i, ax, ay, ax + int(rng.integers(-60, 61)),
                     ay + int(rng.integers(-60, 61))))
    # adversarial cases: shared endpoint, T-touch, collinear overlap,
    # collinear disjoint, vertical pair, degenerate points
    segs += [
        (500, 0, 0, 10, 10), (501, 10, 10, 20, 0),    # shared endpoint
        (502, 0, 20, 20, 20), (503, 10, 20, 10, 40),  # T-touch
        (504, 0, 50, 30, 50), (505, 20, 50, 60, 50),  # collinear overlap
        (506, 0, 60, 10, 60), (507, 20, 60, 30, 60),  # collinear disjoint
        (508, 70, 0, 70, 30), (509, 70, 10, 70, 50),  # vertical overlap
        (510, 5, 5, 5, 5), (511, 0, 0, 10, 10),       # point ON a segment
        (512, 99, 99, 99, 99),                         # isolated point
    ]
    df = spark.createDataFrame(
        segs, "seg_id long, ax long, ay long, bx long, by long")
    got = {(r.id_a, r.id_b)
           for r in segment_intersections(df, cell_size=64).collect()}
    expect = set()
    for i, a in enumerate(segs):
        for b in segs[i + 1:]:
            if _segs_intersect_fractions(a[1:], b[1:]):
                expect.add((min(a[0], b[0]), max(a[0], b[0])))
    assert got == expect
    assert (500, 501) in got and (502, 503) in got
    assert (504, 505) in got and (506, 507) not in got
    assert (508, 509) in got and (510, 511) in got


def test_segment_intersections_plan_no_cartesian_no_python(spark):
    from geobuf_cpp_spark.operators.segments import segment_intersections

    df = spark.range(300).selectExpr(
        "id AS seg_id",
        "(id * 37) % 1000 AS ax", "(id * 91) % 1000 AS ay",
        "(id * 37) % 1000 + (id * 7) % 101 - 50 AS bx",
        "(id * 91) % 1000 + (id * 13) % 101 - 50 AS by",
    )
    plan = segment_intersections(df, 128)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# snapshot-versioned tables
# ---------------------------------------------------------------------------


def test_snapshot_time_travel_and_crash_safety(spark, tmp_path):
    from geobuf_cpp_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    table = str(tmp_path / "tbl")
    df1 = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10, 15).selectExpr("id", "id * 2 AS v")
    assert write_snapshot(df1, table, mode="overwrite") == 1
    assert write_snapshot(df2, table, mode="append") == 2

    # time travel: v1 unchanged by the append, v2 = union
    assert read_snapshot(spark, table, version=1).count() == 10
    assert read_snapshot(spark, table).count() == 15
    assert sorted(r["id"] for r in
                  read_snapshot(spark, table, version=1).collect()) == \
        list(range(10))

    # a torn commit (leftover tmp manifest) is invisible to readers
    import json as _json
    tmp_manifest = str(tmp_path / "tbl" / "v3.json.tmp.99999")
    with open(tmp_manifest, "w") as fh:
        _json.dump({"version": 3, "data_dirs": ["data/bogus"]}, fh)
    assert snapshot_versions(table) == [1, 2]
    assert read_snapshot(spark, table).count() == 15

    # overwrite restarts the lineage; history remains readable
    df3 = spark.range(100, 103).selectExpr("id", "id * 2 AS v")
    assert write_snapshot(df3, table, mode="overwrite") == 3
    assert read_snapshot(spark, table, version=3).count() == 3
    assert read_snapshot(spark, table, version=2).count() == 15

    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=9)


def test_point_segment_range_join_matches_rational_oracle(spark):
    from fractions import Fraction

    from geobuf_cpp_spark.operators.segments import point_segment_range_join

    def d2_exact(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        if len2 == 0:
            return Fraction((px - ax) ** 2 + (py - ay) ** 2)
        t = Fraction((px - ax) * dx + (py - ay) * dy, len2)
        t = min(Fraction(1), max(Fraction(0), t))
        qx, qy = ax + t * dx, ay + t * dy
        return (px - qx) ** 2 + (py - qy) ** 2

    rng = __import__("numpy").random.default_rng(23)
    pts = [(i, int(rng.integers(0, 300)), int(rng.integers(0, 300)))
           for i in range(120)]
    segs = []
    for i in range(60):
        ax, ay = int(rng.integers(0, 300)), int(rng.integers(0, 300))
        segs.append((i, ax, ay, ax + int(rng.integers(-40, 41)),
                     ay + int(rng.integers(-40, 41))))
    # exact-boundary cases: distance exactly r (perpendicular and endpoint)
    segs += [(900, 100, 0, 120, 0), (901, 200, 200, 200, 200)]
    pts += [(900, 110, 25), (901, 120, 25), (902, 225, 200),  # d = r exactly
            (903, 110, 26), (904, 226, 200)]                   # d = r+1
    r = 25
    pdf = spark.createDataFrame(pts, "point_id long, ix long, iy long")
    sdf = spark.createDataFrame(
        segs, "seg_id long, ax long, ay long, bx long, by long")
    got = {(x.point_id, x.seg_id)
           for x in point_segment_range_join(pdf, sdf, r, 64).collect()}
    expect = {
        (pid, sid)
        for pid, px, py in pts
        for sid, ax, ay, bx, by in segs
        if d2_exact(px, py, ax, ay, bx, by) <= r * r
    }
    assert got == expect
    assert (900, 900) in got and (902, 901) in got   # inclusive boundary
    assert (903, 900) not in got and (904, 901) not in got


# ---------------------------------------------------------------------------
# zone maps / file skipping
# ---------------------------------------------------------------------------


def test_zone_map_prunes_range_clustered_files(spark, tmp_path):
    from geobuf_cpp_spark.plans.zonemap import (
        collect_zone_map,
        prune_files,
        zone_pruned_read,
    )

    path = str(tmp_path / "zm")
    df = spark.range(0, 10000).selectExpr("id", "id % 97 AS payload")
    df.repartitionByRange(10, "id").write.parquet(path)

    zm = collect_zone_map(spark, path, ["id"])
    n_files = zm.count()
    assert n_files == 10

    survivors = prune_files(zm, "id", 2500, 3499)
    # range-clustered layout: ~1000-wide query range -> 1-3 of 10 files
    assert 1 <= len(survivors) <= 3

    got = zone_pruned_read(spark, zm, "id", 2500, 3499)
    full = df.where("id BETWEEN 2500 AND 3499")
    assert got.count() == full.count() == 1000
    assert sorted(r["id"] for r in got.collect()) == \
        sorted(r["id"] for r in full.collect())

    # degenerate range below all data
    import pytest as _pytest
    with _pytest.raises(ValueError):
        zone_pruned_read(spark, zm, "id", -100, -50)
