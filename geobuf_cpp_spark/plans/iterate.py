"""Lineage + statistics hygiene for iterative DataFrame loops.

``localCheckpoint`` truncates the LOGICAL plan (the returned frame is a
``LogicalRDD``), but it also copies the checkpointed plan's ESTIMATED
statistics onto that LogicalRDD. In an iterative loop whose body joins
the previous round's frame more than once, the size-only estimator
multiplies those inherited sizes again each round, so the
``sizeInBytes`` BigInt's DIGIT COUNT doubles per round — by round ~25
the driver is grinding multi-million-digit BigInteger multiplications
inside Catalyst's stats visitor and a single ``localCheckpoint`` call
takes minutes (measured: digits 6 -> 11 -> 21 -> 40 -> ... doubling per
round; per-round wall time 0.6s -> 98s by round 18 on a 15k-node
min-label loop).

``loop_checkpoint`` is the per-round discipline that fixes it: take the
local checkpoint, then REBUILD the frame over the same checkpointed
InternalRow RDD via ``internalCreateDataFrame``, which drops the
inherited stats (the new leaf reports the session default size). The
checkpoint is lazy only in name: under AQE, ``localCheckpoint`` and
``toRdd`` plan the frame adaptively, which runs the round's shuffle
stages inside the call; only the final stage waits for the next action.
A loop of R rounds therefore fires its jobs while the DataFrame is being
built and pays the scheduling floor every round (about 0.25 s a round
on 4 cores) even on a tiny graph — which is why the bounded graph loops
(``operators/graph.py``) run graphs of at most ``DRIVER_LOOP_MAX_EDGES``
edge rows on the driver instead. Join strategy inside the
loop is unaffected: the inherited products were astronomically large
anyway, so nothing was broadcastable before and nothing is after; what
changes is that planning cost is now O(1) per round forever.

The rebuild loses the checkpoint's preserved output partitioning, so
use plain ``localCheckpoint`` for ONE-SHOT frames that are partitioned
once and reused read-only across rounds (e.g. a pre-repartitioned edge
list), and ``loop_checkpoint`` for the frames REBUILT every round.

Materialization sites
---------------------
Every ``persist`` / ``localCheckpoint`` / ``loop_checkpoint`` call in the
package and ``__spark_entry__.py`` has a row below (a test fails on any
call without one). ``lc`` = lazy ``localCheckpoint``, ``eager`` =
``localCheckpoint(eager=True)``, ``loop`` = ``loop_checkpoint``. Figures
are seconds, fastest of 3 calls of the gate(s) named (construction plus
execution to a ``noop`` sink) on fresh table copies, variants interleaved
in one session per scale factor, 4 cores (local[4], 15 GiB); every
output matched the gate's DuckDB oracle. Columns: was / dropped / other
primitive (``lc`` for ``persist`` and the reverse; ``lc`` without the
stats reset for ``loop``). Gates marked * ran with
``graph.DRIVER_LOOP_MAX_EDGES = 0``, the distributed path.

Rule: drop a site only when dropping is no slower at both scale factors
AND the executed plans scan no table and run no Python stage more often;
otherwise keep its primitive unless the other is more than 5% faster at
both (the host's call-to-call noise).

| site | primitive | gate | sf0.01 | sf0.1 | decision |
| --- | --- | --- | --- | --- | --- |
| ``operators.ann.ivfpq_topk`` | ``persist`` | ivfpq_topk | 1.17 / 1.24 / 1.28 | 1.32 / 1.17 / 1.13 | keep: lc split |
| ``operators.ann.kmeans_lite`` | ``localCheckpoint`` | kmeans_lite | 1.02 / 1.31 / 1.10 | 0.82 / 1.77 / 0.88 | keep |
| ``operators.clustering.grid_cluster`` | ``persist`` | grid_cluster | 0.34 / 0.37 / 0.34 | 0.66 / 0.67 / 0.63 | keep: lc within noise |
| ``operators.clustering.grid_cluster_geo`` | ``persist`` | grid_cluster_geo | 1.57 / 2.39 / 1.54 | 1.05 / 1.35 / 1.17 | keep |
| ``operators.dedup._label_loop`` | ``localCheckpoint`` | segment_components* | 1.09 / 1.14 / 1.22 | 3.53 / 3.54 / 3.77 | keep |
| ``operators.dedup._label_loop`` | ``loop_checkpoint`` | segment_components* | 1.44 / 2.39 / 1.36 | 3.53 (row above) / heap OOM / — | keep: dropped ran out of driver heap |
| ``operators.dedup.simhash_pairs`` | ``persist`` | simhash_neardup | 0.53 / 0.66 / 0.45 | 0.70 / 1.05 / 0.76 | keep: lc split |
| ``operators.dedup.boilerplate_chunks`` | ``localCheckpoint`` | boilerplate | 0.71 / 0.76 / 0.76 | 0.54 / 0.90 / 0.71 | keep |
| ``operators.graph.triangle_counts`` | ``localCheckpoint`` | triangle_count | 2.50 / 3.33 / 1.90 | 3.10 / 3.15 / 2.47 | was persist: lc faster at both |
| ``operators.graph._probe_pairs`` | ``localCheckpoint`` | network_hops, user_kcore, segment_components | 1.45 / 1.55 / 1.23 | 1.82 / 2.06 / 1.79 | keep: persist within noise at sf0.1 |
| ``operators.graph._doubled_edges`` | ``localCheckpoint`` | network_hops*, user_kcore*, segment_components* | 2.82 / 3.11 / 3.04 | 7.52 / 9.62 / 9.00 | keep |
| ``operators.graph.pagerank`` | ``localCheckpoint`` | host_pagerank* | 1.26 / 2.20 / 1.50 | 1.30 / 2.71 / 1.55 | keep |
| ``operators.graph.pagerank`` | ``loop_checkpoint`` | host_pagerank* | 1.76 / 1.81 / 1.70 | 2.05 / 1.98 / 2.00 | keep |
| ``operators.graph.bfs_hops`` | ``localCheckpoint`` | network_hops* | 0.72 / 0.75 / 0.76 | 1.64 / 1.68 / 1.59 | keep |
| ``operators.graph.bfs_hops`` | ``loop_checkpoint`` | network_hops* | 1.22 / 1.44 / 1.16 | 1.93 / 4.59 / 1.94 | keep (frontier) |
| ``operators.graph.kcore`` | ``loop_checkpoint`` | user_kcore* | 1.83 / 2.06 / 1.79 | 4.17 / 4.40 / 3.31 | keep: lc split |
| ``operators.knn.knn_distributed`` | ``localCheckpoint`` | knn_rings | 0.89 / 1.46 / 1.15 | 0.61 / 0.88 / 0.69 | keep eager (lc 0.91, 0.63) |
| ``operators.sketches.kmv_overlap`` | ``localCheckpoint`` | kmv_overlap | 0.88 / 0.84 / 1.05 | 0.61 / 0.63 / 0.83 | keep |
| ``operators.spatial_stats.morans_i_parts`` | ``localCheckpoint`` | morans_i | 0.60 / 0.83 / 0.94 | 0.40 / 0.44 / 0.54 | keep |
| ``operators.spatial_stats.getis_ord_parts`` | ``localCheckpoint`` | getis_ord | 0.63 / 0.86 / 0.86 | 0.52 / 0.60 / 0.62 | keep (cells) |
| ``operators.spatial_stats.getis_ord_parts`` | ``localCheckpoint`` | getis_ord | 0.56 / 0.60 / 0.65 | 0.49 / 0.42 / 0.50 | keep (edges) |
| ``operators.textstats.term_cooccurrence`` | ``persist`` | term_cooccur | 0.73 / 0.72 / 0.61 | 0.68 / 0.85 / 0.84 | keep |
| ``operators.tiles.adaptive_quadtree`` | ``localCheckpoint`` | adaptive_tiles | 0.35 / 0.37 / 0.37 | 0.26 / 0.27 / 0.29 | keep: dropped scans the points twice |
| ``__spark_entry__._shared_df`` | ``persist`` | 24 shared-subresult gates, one round | 7.89 / 11.79 / 6.62 | 23.15 / 32.79 / 18.13 | keep: lc split by consumer (below) |
| ``__spark_entry__._shared_df`` | ``localCheckpoint`` | ngram_jaccard, prefix_jaccard, containment, dedup_clusters | 0.97 / 1.13 / 1.31 | 2.64 / 3.20 / 3.13 | keep |
| ``operators.ann.hyperplane_lsh_pairs`` | dropped | lsh_neardup | 0.99 / 0.76 / 0.90 | 0.62 / 0.58 / 0.62 | was persist: both join sides reuse one exchange, signature stage runs once |
| ``operators.ann.kmeans_lite`` | dropped | kmeans_lite | 1.58 / 1.14 / 1.53 | 1.51 / 1.19 / 1.55 | was loop: same scans, 2 jobs fewer |
| ``operators.graph.bfs_hops`` | dropped | network_hops* | 1.34 / 0.98 / 1.35 | 2.27 / 2.16 / 2.09 | was loop (``dist``): a union of checkpoints |
| ``operators.tiles.tile_pyramid`` | dropped | tile_pyramid | 1.65 / 0.68 | 1.37 / 0.67 | was 2 persist + a per-level loop: one aggregation (old / new) |

``_shared_df``'s ``persist`` row times all its consumers as one round:
``lc`` was slower on kmv_sketch, kmv_distinct, hll_registers,
qhist_quantiles and containment at sf0.01 (0.19 / 0.21, 0.05 / 0.06,
0.27 / 0.29, 0.61 / 0.62, 0.19 / 0.20) and on kmv_distinct and
hll_registers at sf0.1 (0.05 / 0.06, 1.02 / 1.13). Interleaved pairs at
sf0.1 favoured ``persist`` on term_cooccur (``lc`` won 0 of 5) and
cms_estimate (1 of 5), where fastest-of-3 favoured ``lc``, so both
values stay until a per-consumer split is measured in pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.dataframe import DataFrame as _ClassicDataFrame


def loop_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint + stats reset — use on every frame a loop rebuilds
    per round. Under AQE the call runs the frame's shuffle stages. See
    module docstring for why plain localCheckpoint is not enough."""
    ck = df.localCheckpoint(eager=False)
    jdf = ck._jdf
    spark = df.sparkSession
    jrdd = jdf.queryExecution().toRdd()
    jdf2 = spark._jsparkSession.internalCreateDataFrame(
        jrdd, jdf.schema(), False)
    return _ClassicDataFrame(jdf2, spark)
