"""Distributed graph analytics over derived relation graphs.

Triangle counting with the degree-ordered orientation (the
node-iterator++ / Cohen's MapReduce scheme): every undirected edge is
directed from its lower-(degree, id) endpoint to the higher one, so each
node's OUT-degree is O(sqrt(m)) even at power-law hubs — the wedge
fan-out that makes naive node-iterator quadratic at a hub becomes
m^(3/2)-bounded, the proven-optimal shape for a shuffle-based engine.
Each triangle is then counted exactly once: its two lowest-ordered
corners form the wedge, the closing edge is probed by equi-join.

Connected components live in ``operators/dedup.py:dedup_clusters``
(pointer-jumping min-label). The bounded loops here — ``pagerank``,
``bfs_hops``, ``kcore`` — and ``dedup_clusters`` share one probe,
``_driver_rows``: a graph of at most ``DRIVER_LOOP_MAX_EDGES`` rows in
the probed frame runs its rounds on the driver in numpy, a larger one in
Spark over edge lists built only then.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..plans.iterate import loop_checkpoint


def _oriented(edges_df: DataFrame) -> DataFrame:
    """Orient undirected (id_a, id_b) edges by the (degree, id) total
    order, compared DIRECTLY as struct tuples — no global rank, no
    single-partition window: the only shuffles are the degree aggregate
    and the two degree-lookup joins, all keyed on node. Returns
    (src, dst, dst_key) with key(src) < key(dst), where dst_key is the
    orderable struct(deg, id) of the higher endpoint.
    """
    und = edges_df.select("id_a", "id_b")
    nodes = (
        und.select(F.col("id_a").alias("node"))
        .unionByName(und.select(F.col("id_b").alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg"))
    )
    e = (
        und.join(nodes.withColumnRenamed("node", "id_a")
                 .withColumnRenamed("deg", "da"), "id_a")
        .join(nodes.withColumnRenamed("node", "id_b")
              .withColumnRenamed("deg", "db"), "id_b")
    )
    ka = F.struct(F.col("da").alias("deg"), F.col("id_a").alias("node"))
    kb = F.struct(F.col("db").alias("deg"), F.col("id_b").alias("node"))
    return e.select(
        F.when(ka < kb, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(ka < kb, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
        F.when(ka < kb, kb).otherwise(ka).alias("dst_key"),
    )


def triangle_counts(edges_df: DataFrame) -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles) for
    every node of the edge list (nodes in no triangle report 0).

    Plan: orientation (one agg + two degree joins, all node-keyed — no
    global window anywhere), a self-join on the oriented source building
    each wedge once (dst_key ordered), one equi-join probing the closing
    edge, then an explode of the three corners into a two-phase count.
    Shuffle volume is O(m^(3/2)) worst case — the orientation bound —
    never hub-degree-squared.
    """
    o = _oriented(edges_df).localCheckpoint(eager=False)
    w1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                  F.col("dst_key").alias("kb"))
    w2 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                  F.col("dst_key").alias("kc"))
    wedges = w1.join(w2, "a").filter(F.col("kb") < F.col("kc"))
    closing = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    nodes = (
        edges_df.select(F.col("id_a").alias("node"))
        .unionByName(edges_df.select(F.col("id_b").alias("node")))
        .distinct()
    )
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce("n_triangles", F.lit(0)).cast("long")
        .alias("n_triangles"),
    )


# Rows of a probed frame up to which a bounded loop (pagerank, bfs_hops,
# kcore, dedup_clusters, grid_cluster) runs on the driver: its probe
# collects at most this many rows plus one through Arrow, and below it
# the fixed rounds run in numpy. The probed frame is the caller's
# undirected (id_a, id_b) pairs (pagerank: its degree-joined edge list;
# grid_cluster: its dense cells). Measured on 4 cores (local[4], 3g
# driver heap), seeded synthetic graphs of m random edges over m/4 nodes,
# seconds per call plus one aggregate action, driver path / distributed
# path:
#
#   m edges     kcore        bfs_hops     pagerank     dedup_clusters
#   10^3        0.40 / 1.16  0.31 / 1.20  0.39 / 1.12  0.25 / 1.44
#   10^4        0.34 / 1.27  0.29 / 1.15  0.38 / 1.05  0.31 / 2.14
#   10^5        0.60 / 1.71  0.67 / 1.78  0.69 / 1.68  0.74 / 4.42
#   10^6        3.37 / 6.22  3.44 / 6.84  4.69 / 7.27  4.84 / 14.99
#
# The driver path wins at every size measured, so the cutoff sits just
# above the largest: 2^20 = 1,048,576 rows admits 10^6 edges and no
# larger graph than that. That frame is about 16 MB of BIGINT pairs in
# Arrow, well inside the driver heap. Above the cutoff the declined
# probe costs one collect of that size on top of the distributed rounds
# (kcore on 1.1M edges, probing 2^21 + 1 rows of its doubled list: 7.8-9.7
# s against 5.9-6.6 s with no probe).
DRIVER_LOOP_MAX_EDGES = 1 << 20


def _driver_rows(df: DataFrame) -> pd.DataFrame | None:
    """All rows of ``df`` through one Arrow collect, or None when it has
    more than ``DRIVER_LOOP_MAX_EDGES`` rows or holds a null.

    The probe of every bounded loop. It reads a frame whichever path
    follows needs (a checkpointed edge list), so the edge build runs
    once, and it never collects more than the cutoff plus one rows. A
    null id takes the distributed path, whose joins drop it.
    """
    pdf = df.limit(DRIVER_LOOP_MAX_EDGES + 1).toPandas()
    if len(pdf) > DRIVER_LOOP_MAX_EDGES or pdf.isna().to_numpy().any():
        return None
    return pdf


def _probe_pairs(edges_df: DataFrame):
    """The probe of the loops over undirected pairs (``bfs_hops``,
    ``kcore``, ``dedup_clusters``). Returns the caller's (id_a, id_b)
    pairs, lazily checkpointed once (under AQE the call runs their
    build's shuffles), and, when ``_driver_rows`` admits them, the
    pairs doubled on the driver as (src, dst) id arrays, else None.
    A declined probe leaves the doubled edge list to ``_doubled_edges``
    over the same checkpoint, so the edge build runs once either way.
    """
    und = edges_df.select("id_a", "id_b").localCheckpoint(eager=False)
    rows = _driver_rows(und)
    if rows is None:
        return und, None
    a, b = rows["id_a"].to_numpy(), rows["id_b"].to_numpy()
    return und, (np.concatenate([a, b]), np.concatenate([b, a]))


def _pair_type(und: DataFrame):
    """The id type of the doubled edge list over ``und``: the union of its
    id_a and id_b columns, resolved without building it."""
    return und.select("id_a").union(und.select("id_b")).schema[0].dataType


def _doubled_edges(und: DataFrame, key: str) -> DataFrame:
    """The checkpointed pairs ``und`` as (src, dst) in both directions,
    partitioned on ``key`` and lazily checkpointed once: the edge list
    of the distributed rounds."""
    e = und.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return (
        e.unionByName(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .repartition(key)
        .localCheckpoint(eager=False)
    )


def _local_frame(spark, schema, *cols) -> DataFrame:
    """A DataFrame of driver arrays, one per field of ``schema`` (a
    StructType or DDL string), matched by position."""
    return spark.createDataFrame(pd.DataFrame(dict(enumerate(cols))), schema)


def _dense_ids(*cols):
    """Sorted distinct ids over ``cols`` and each column as indexes
    into them."""
    ids, inv = np.unique(np.concatenate(cols), return_inverse=True)
    return ids, np.split(inv, np.cumsum([len(c) for c in cols[:-1]]))


# Driver-side BIGINT arithmetic that fails the way ANSI mode does: the
# distributed loops raise on overflow, so the numpy rounds must too.
_I64 = np.iinfo(np.int64)


def _overflow(bad, op: str) -> None:
    if np.any(bad):
        raise ArithmeticException(
            message=f"[ARITHMETIC_OVERFLOW] long overflow in {op}.")


def _add(a, b):
    a = np.asarray(a, np.int64)
    with np.errstate(over="ignore"):
        s = a + b
    _overflow(((a ^ s) & (b ^ s)) < 0, "add")
    return s


def _mul(a, b):
    with np.errstate(over="ignore"):
        p = a * b
        _overflow((a != 0) & (p // np.where(a == 0, 1, a) != b), "multiply")
    return p


def _div(a, b):
    """Spark's integral ``div``: truncates toward zero."""
    if np.any(b == 0):
        raise ArithmeticException(
            message="[DIVIDE_BY_ZERO] Division by zero.")
    q = np.abs(a) // np.abs(b)
    return np.where((a < 0) != (b < 0), -q, q)


def _sum_by(idx, c, n: int):
    """Per-index sums of BIGINT ``c``; a sum outside BIGINT raises. Only
    groups whose magnitudes approach the bound are re-summed exactly."""
    tot = np.zeros(n, np.int64)
    np.add.at(tot, idx, c)
    for g in np.flatnonzero(np.bincount(idx, np.abs(c), n) >= 2.0 ** 62):
        _overflow(not _I64.min <= sum(map(int, c[idx == g])) <= _I64.max,
                  "sum")
    return tot


def pagerank(edges_df: DataFrame, nodes_df: DataFrame, n_iter: int, base: int,
             damp_pct: int) -> DataFrame:
    """Weighted PageRank in exact scaled-integer arithmetic — the crawl
    engine's frontier-prioritization score over the host link graph.

    Ranks live as BIGINTs scaled by ``base``; each round every node
    keeps the teleport share ``base*(100-damp_pct) div 100`` and
    receives ``(sum_in (rank_src div deg_src) * w) * damp_pct div 100``.
    All quantities stay positive, so Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree bit-for-bit and a fixed-round chained
    -CTE oracle reproduces the result exactly. The truncation makes the
    walk slightly leaky (rank mass decays ~1 ulp per hop) — deterministic
    and identical in both engines, documented rather than hidden.

    The edge list with degrees pre-joined is lazily localCheckpoint-ed
    once; under AQE that call itself runs the edge build's shuffles.
    When it and the node list each hold at most
    ``DRIVER_LOOP_MAX_EDGES`` rows (HOST-level aggregates usually do:
    the corpus scan happens upstream), both come back in one Arrow
    collect each and the rounds run in numpy on the driver, overflow
    raising as in ANSI mode. Above that, each round is one equi-join of
    the edge list against the rank table on src and one node-keyed
    aggregate — O(E) shuffle — and each round's rank table is a
    ``loop_checkpoint``, whose call runs that round's shuffle stages.

    ``edges_df``: (src, dst, w) weighted directed edges; ``nodes_df``:
    (node) — every rankable node, including sinks with no out-edges.
    Returns (node, pr) after ``n_iter`` rounds.
    """
    teleport = base * (100 - damp_pct) // 100
    deg = edges_df.groupBy("src").agg(F.sum("w").alias("deg"))
    edges = (
        edges_df.join(deg, "src")
        .select("src", "dst", "w", "deg")
        .localCheckpoint(eager=False)
    )
    e = _driver_rows(edges)
    nodes = None if e is None else _driver_rows(nodes_df.select("node"))
    if nodes is not None:
        ids, (node, src, dst) = _dense_ids(
            nodes["node"].to_numpy(), e["src"].to_numpy(),
            e["dst"].to_numpy())
        n = len(ids)
        # the rank join repeats an edge once per rank row of its src
        rows = np.bincount(node, minlength=n)
        live = rows[src] > 0
        src, dst, reps = src[live], dst[live], rows[src[live]]
        w = e["w"].to_numpy(np.int64)[live]
        deg = e["deg"].to_numpy(np.int64)[live]
        ranked = rows > 0
        pr = np.full(n, base, np.int64)
        for _ in range(n_iter):
            c = _mul(_mul(_div(pr[src], deg), w), reps)
            inc = _sum_by(dst, c, n)[ranked]
            pr[ranked] = _add(teleport, _div(_mul(inc, damp_pct), 100))
        return _local_frame(
            edges_df.sparkSession,
            StructType([nodes_df.schema["node"],
                        StructField("pr", LongType())]),
            nodes["node"].to_numpy(), pr[node])
    ranks = nodes_df.select(
        "node", F.lit(base).cast("long").alias("pr"))
    for _ in range(n_iter):
        inc = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.expr("pr div deg") * F.col("w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = loop_checkpoint(
            nodes_df.join(inc, "node", "left")
            .select(
                "node",
                (F.lit(teleport)
                 + F.expr(f"coalesce(inc, 0) * {damp_pct} div 100"))
                .cast("long").alias("pr"),
            )
        )
    return ranks


def bfs_hops(edges_df: DataFrame, sources_df: DataFrame,
             rounds: int) -> DataFrame:
    """Bounded multi-source BFS: exact hop distance from the nearest
    source, for every node reachable within ``rounds`` hops — the
    network-distance primitive behind "how far is this road from an
    arterial" / blast-radius queries.

    Frontier-delta iteration, NOT whole-table Bellman-Ford: each round
    expands only last round's newly-reached frontier and skips the
    settled set. For hop metrics the first arrival IS the min distance,
    so settled rows never need revisiting, and stopping once the
    frontier drains cannot change any emitted row. A source id listed
    twice is emitted twice with hop 0.

    The pairs are probed by ``_probe_pairs``. When they and the source
    list each hold at most ``DRIVER_LOOP_MAX_EDGES`` rows, they come
    back in one Arrow collect each and the rounds expand the frontier
    over a CSR adjacency on the driver. Above that, the doubled edge
    list is lazily checkpointed once, pre-partitioned on the probe key
    (under AQE that call runs its shuffle), and each round is a
    node-keyed equi-join + distinct + anti-join whose ``loop_checkpoint``
    call runs the round's shuffle stages, with an ``isEmpty`` probe per
    round for the early stop. The result is the union of the seed
    frame and the rounds' checkpoints.

    ``edges_df``: undirected (id_a, id_b) pairs; ``sources_df``: (id)
    seed set. Returns (id, hops) with hops in [0, rounds].
    """
    und, pairs = _probe_pairs(edges_df)
    seeds = None if pairs is None else _driver_rows(sources_df.select("id"))
    if seeds is not None:
        seed_ids = seeds["id"].to_numpy()
        ids, (seed, src, dst) = _dense_ids(seed_ids, *pairs)
        order = np.argsort(src)
        nbr = dst[order]
        start = np.searchsorted(src[order], np.arange(len(ids) + 1))
        hops = np.full(len(ids), -1, np.int64)
        hops[seed] = 0
        frontier = np.unique(seed)
        for r in range(1, rounds + 1):
            lo, cnt = start[frontier], start[frontier + 1] - start[frontier]
            at = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) \
                + np.arange(cnt.sum())
            frontier = np.unique(nbr[at])
            frontier = frontier[hops[frontier] < 0]
            if not len(frontier):
                break
            hops[frontier] = r
        reached = np.flatnonzero(hops > 0)
        id_type = sources_df.select("id").union(und.select("id_a")).union(
            und.select("id_b")).schema["id"]
        return _local_frame(
            edges_df.sparkSession,
            StructType([id_type, StructField("hops", LongType())]),
            np.concatenate([seed_ids, ids[reached]]),
            np.concatenate([np.zeros(len(seed_ids), np.int64),
                            hops[reached]]))
    edges = _doubled_edges(und, "src")
    dist = sources_df.select(
        "id", F.lit(0).cast("long").alias("hops")).localCheckpoint(
        eager=False)
    frontier = dist
    for r in range(1, rounds + 1):
        nxt = loop_checkpoint(
            frontier.join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id")).distinct()
            .join(dist, "id", "left_anti")
            .select("id", F.lit(r).cast("long").alias("hops"))
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


def kcore(edges_df: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peeling: drop nodes of degree < ``k``, recompute
    degrees on the surviving subgraph, repeat ``rounds`` times — the
    dense-community extractor (template farms in a near-dup graph,
    keyword communities in a term graph). Fixed-round semantics, so the
    oracle is ``rounds`` unrolled degree-filter CTEs, no recursion.
    Degrees count edge rows, so a duplicate edge counts twice.

    The pairs are probed by ``_probe_pairs``. When they hold at most
    ``DRIVER_LOOP_MAX_EDGES`` rows they come back in one Arrow collect
    and each peel is an ``np.bincount`` degree pass over dense node ids.
    Above that, the doubled edge list is lazily checkpointed once (under
    AQE that call runs its shuffle), and each round is one node-keyed
    degree aggregate + two semi-joins pruning edges whose either
    endpoint fell out — O(E) shuffle — whose ``loop_checkpoint`` call
    runs the round's shuffle stages. Returns (node, deg): every
    surviving node with its within-core degree.
    """
    und, pairs = _probe_pairs(edges_df)
    if pairs is not None:
        ids, (src, dst) = _dense_ids(*pairs)
        alive = np.ones(len(src), bool)
        for _ in range(rounds):
            keep = np.bincount(src[alive], minlength=len(ids)) >= k
            alive &= keep[src] & keep[dst]
        deg = np.bincount(src[alive], minlength=len(ids))
        core = np.flatnonzero(deg)
        return _local_frame(
            edges_df.sparkSession,
            StructType([StructField("node", _pair_type(und)),
                        StructField("deg", LongType())]),
            ids[core], deg[core].astype(np.int64))
    e = _doubled_edges(und, "src")
    for _ in range(rounds):
        keep = (
            e.groupBy("src").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k).select("src")
        )
        e = loop_checkpoint(
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
        )
    return (
        e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
        .select(F.col("src").alias("node"), "deg")
    )


def coactivity_edges(events_df: DataFrame, min_days: int) -> DataFrame:
    """Undirected (id_a, id_b) user pairs, id_a < id_b, active on at least
    ``min_days`` shared days of ``events_df`` (user_id, ts): the
    co-activity graph that ``kcore`` peels.

    Result-identical to the per-day self-join (the oracle's), restructured
    for scale: each user's active-day set becomes 64-day bitmask chunks
    keyed by ``day div 64`` relative to the corpus' first day, after a
    prefilter keeping only users with >= ``min_days`` active days (a pair
    sharing >= m days forces BOTH endpoints past m — lossless
    pigeonhole). Pairs join chunk-on-chunk with the tiny mask table
    broadcast, shared days = sum of bit_count(mask_a & mask_b): the
    per-day join's days * (users/day)^2 row blowup (26.8M rows at sf0.1)
    collapses to active_users^2/2 mask-AND probes (~1.1M) with no
    shuffle on the pair side — a ~30x row cut at any scale, growing to
    days x at denser calendars.
    """
    ud = (
        events_df
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    # one bounded scalar agg (driver-side, like the CC convergence
    # check): the corpus' day span decides how many 64-day chunks a
    # user mask needs — with ONE chunk (any <= 64-day telemetry
    # window, whatever the user count) the pair aggregation below
    # degenerates to a projection and its shuffle is skipped outright.
    lo_hi = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1")).first()
    d0 = lo_hi["d0"]
    span_days = (
        0 if d0 is None else (lo_hi["d1"] - d0).days
    )
    one_chunk = span_days < 64
    # users that can possibly reach min_days shared days
    active = (
        ud.groupBy("user_id").agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_days).select("user_id")
    )
    masks = (
        ud.join(F.broadcast(active), "user_id")
        .select(
            "user_id",
            F.datediff(F.col("d"), F.lit(d0)).alias("rel"),
        )
        .select(
            "user_id",
            F.expr("rel div 64").alias("chunk"),
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(rel % 64 AS INT))").alias("bit"),
        )
        .groupBy("user_id", "chunk")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    ma = masks.select(F.col("user_id").alias("id_a"), "chunk",
                      F.col("mask").alias("mask_a"))
    mb = masks.select(F.col("user_id").alias("id_b"), "chunk",
                      F.col("mask").alias("mask_b"))
    pairs = ma.join(F.broadcast(mb), "chunk").filter(
        F.col("id_a") < F.col("id_b"))
    if one_chunk:
        # every pair meets in exactly one row: no (id_a, id_b) shuffle
        return pairs.filter(
            F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
            >= min_days
        ).select("id_a", "id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.sum(F.bit_count(
            F.col("mask_a").bitwiseAND(F.col("mask_b"))))
            .alias("days"))
        .filter(F.col("days") >= min_days)
        .select("id_a", "id_b")
    )
