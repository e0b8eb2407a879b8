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
(pointer-jumping min-label); this module holds the counting side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    o = _oriented(edges_df).persist()
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

    Scale shape: nodes/edges are HOST-level aggregates (bounded far
    below corpus size — the one corpus scan happens upstream when the
    caller rolls pages up to weighted host edges). Per round: one
    equi-join of the edge list against the rank table on src and one
    node-keyed aggregate — O(E) shuffle, no windows, no collect. The
    edge list (with degrees pre-joined) is lazily localCheckpoint-ed
    once and reused by every round, and each round's rank table is
    lazily checkpointed so the lineage stays O(1) deep across the fixed
    iteration count (same discipline as `dedup_clusters`).

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


def _doubled_edges(edges_df: DataFrame) -> DataFrame:
    """Undirected (id_a, id_b) pairs as (src, dst) in both directions,
    partitioned on ``src`` and lazily checkpointed once."""
    und = edges_df.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
    return (
        und.unionByName(und.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=False)
    )


def bfs_hops(edges_df: DataFrame, sources_df: DataFrame,
             rounds: int) -> DataFrame:
    """Bounded multi-source BFS: exact hop distance from the nearest
    source, for every node reachable within ``rounds`` hops — the
    network-distance primitive behind "how far is this road from an
    arterial" / blast-radius queries.

    Frontier-delta iteration, NOT whole-table Bellman-Ford: each round
    expands only last round's newly-reached frontier (one node-keyed
    equi-join + distinct) and anti-joins the settled set, so per-round
    shuffle is O(frontier edges), not O(V). For hop metrics the first
    arrival IS the min distance, so settled rows never need revisiting.
    Each round's tables are lazily localCheckpoint-ed (one Spark job per
    round, O(1) lineage depth) and the doubled edge list is checkpointed
    once up front, pre-partitioned on the probe key — the same
    fixed-round discipline as ``pagerank``/``dedup_clusters``. An
    ``isEmpty`` probe per round (bounded scalar action) stops early once
    the frontier drains; stopping early cannot change any emitted row.

    ``edges_df``: undirected (id_a, id_b) pairs; ``sources_df``: (id)
    seed set. Returns (id, hops) with hops in [0, rounds].
    """
    edges = _doubled_edges(edges_df)
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
        dist = loop_checkpoint(dist.unionByName(nxt))
        frontier = nxt
    return dist


def kcore(edges_df: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded k-core peeling: drop nodes of degree < ``k``, recompute
    degrees on the surviving subgraph, repeat ``rounds`` times — the
    dense-community extractor (template farms in a near-dup graph,
    keyword communities in a term graph). Fixed-round semantics, so the
    oracle is ``rounds`` unrolled degree-filter CTEs, no recursion.

    Per round: one node-keyed degree aggregate + two semi-joins pruning
    edges whose either endpoint fell out — all keyed on node ids, O(E)
    shuffle, lineage truncated per round by a lazy localCheckpoint
    (the `pagerank`/`bfs_hops` discipline). Returns (node, deg): every
    surviving node with its within-core degree.
    """
    e = _doubled_edges(edges_df)
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
