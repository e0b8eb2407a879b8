"""Approximate-nearest-neighbor search over an embedding column.

* ``cosine_topk`` — exact brute-force baseline: each partition computes a
  local top-k per query with one numpy matmul (Arrow batch -> (n, d)
  matrix, zero per-row Python), then a windowed global top-k merges the
  per-partition candidates. Shuffle volume is O(partitions * queries * k),
  never O(n) — this is the scale-correct brute-force shape.
* ``build_ivf`` / ``ivf_topk`` — the scale path: deterministic k-means
  (seeded init by vec_id, fixed iterations) builds 16 centroids;
  vectors are assigned to their nearest list (one shuffle, reusable
  layout); queries probe the ``nprobe`` nearest lists only, so compute and
  shuffle shrink by ~16/nprobe at equal recall on clustered data.
* ``pq_train`` / ``pq_encode`` / ``pq_topk[_rerank]`` — the compressed
  path: product-quantized codes (m bytes/vector) + asymmetric-distance
  search, optionally refined by an exact rerank of the candidate pool.
* ``cosine_neardup_pairs`` / ``hyperplane_lsh_pairs`` — embedding
  near-duplicate detection, exact and LSH-bucketed.

Similarity is cosine via normalized dot product in float64.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

TOPK_SCHEMA = "query_id long, vec_id long, sim double"


def _as_matrix(series: pd.Series) -> np.ndarray:
    return np.vstack(series.to_numpy()).astype(np.float64)


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def cosine_topk(emb_df, queries_pdf: pd.DataFrame, k: int):
    """Exact cosine top-k. ``queries_pdf``: (query_id, vec list[float])."""
    q_ids = queries_pdf["query_id"].to_numpy()
    q_mat = _normalize(_as_matrix(queries_pdf["vec"]))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # sort the batch by vec_id, then pick top-k with a STABLE sort:
            # ties across the local top-k boundary (duplicate embeddings)
            # resolve to the smaller vec_id, matching the global
            # (sim DESC, vec_id ASC) window — the local cut can never drop
            # a vector the exact answer would keep
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            mat = _normalize(_as_matrix(pdf["embedding"]))
            sims = q_mat @ mat.T  # (n_q, n_vec)
            take = min(k, sims.shape[1])
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            rows = {
                "query_id": np.repeat(q_ids, take),
                "vec_id": ids[idx].ravel(),
                "sim": np.take_along_axis(sims, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    partials = emb_df.select("vec_id", "embedding").mapInPandas(partial, TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim")
    )


def cosine_neardup_pairs(emb_df, threshold: float,
                         id_col: str = "vec_id", vec_col: str = "embedding"):
    """Exact embedding near-duplicate pairs: (id_a < id_b, cos >= threshold).

    Broadcast-side exact baseline (the near-dup analogue of kNN's
    ``_broadcast_topk``): the reference matrix is collected ONCE and ships to
    every partition; each Arrow batch then does a single (n_ref, batch)
    matmul — O(n^2 d) compute spread over the cluster with no pair
    shuffle at all (output is only the qualifying pairs). Right ONLY when
    the whole table fits driver + executor memory (n*d floats) — this is
    the explicitly small-side tool. Beyond that use
    ``cosine_neardup_blocked`` (distributed exact, no collect) or
    ``hyperplane_lsh_pairs`` (approximate candidates + exact verify).
    """
    ref = emb_df.select(id_col, vec_col).toPandas()
    ref_ids = ref[id_col].to_numpy()
    ref_mat = _normalize(_as_matrix(ref[vec_col]))

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = _normalize(_as_matrix(pdf[vec_col]))
            sims = ref_mat @ mat.T                      # (n_ref, n_batch)
            # each unordered pair once: ref id strictly below the batch id
            hit = (sims >= threshold) & (ref_ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(hit)
            yield pd.DataFrame(
                {
                    "id_a": ref_ids[ai],
                    "id_b": ids[bi],
                    "sim": sims[ai, bi],
                }
            )

    return emb_df.select(id_col, vec_col).mapInPandas(
        pairs, "id_a long, id_b long, sim double"
    )


def cosine_neardup_blocked(emb_df, threshold: float):
    """Distributed EXACT near-duplicate pairs — no driver collect anywhere.

    2-D block decomposition of the n x n similarity matrix: each vector
    hashes to one of B = 8 blocks and replicates to the B
    unordered block-pair groups it belongs to (a JVM array explode — the
    only shuffle, n * B rows). Group (ka <= kb) holds exactly the
    vectors of blocks ka and kb (~2n/B rows) and computes one local numpy
    matmul; an unordered pair {x, y} materializes in exactly one group
    (the one keyed by its block multiset), counted once via id_a < id_b
    plus the block-membership mask. Compute stays O(n^2 d) — inherent to
    exact near-dup — but it is spread over B(B+1)/2 independent tasks with
    per-task memory O((2n/B)^2). The driver never sees a vector (contrast
    ``cosine_neardup_pairs``, the fits-in-memory baseline).
    """
    B = 8
    tagged = emb_df.select(
        "vec_id", F.col("embedding").alias("v")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).cast("int"))
    pair_keys = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("blk"), F.lit(o)).alias("ka"),
                    F.greatest(F.col("blk"), F.lit(o)).alias("kb"),
                )
                for o in range(B)
            ]
        )
    )
    exploded = tagged.withColumn("pk", F.explode(pair_keys)).select(
        "vec_id", "v", "blk",
        F.col("pk.ka").alias("ka"), F.col("pk.kb").alias("kb"),
    )

    def group_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ka, kb = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy()
        blks = pdf["blk"].to_numpy()
        mat = _normalize(_as_matrix(pdf["v"]))
        if ka == kb:
            # diagonal group: all pairs within one block, upper triangle
            sims = mat @ mat.T
            hit = (sims >= threshold) & (ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(hit)
            return pd.DataFrame(
                {"id_a": ids[ai], "id_b": ids[bi], "sim": sims[ai, bi]}
            )
        # off-diagonal: ONLY the cross-block rectangle (an intra-block
        # pair inside this group belongs to its diagonal group instead) —
        # computing the full Gram matrix and masking would cost ~4x the
        # FLOPs of this (n_a, n_b) matmul in the O(n^2 d) hot stage
        a_sel = blks == ka
        b_sel = ~a_sel
        ids_a, ids_b = ids[a_sel], ids[b_sel]
        sims = mat[a_sel] @ mat[b_sel].T            # (n_a, n_b)
        hit = sims >= threshold
        ai, bi = np.nonzero(hit)
        lo = np.minimum(ids_a[ai], ids_b[bi])
        hi = np.maximum(ids_a[ai], ids_b[bi])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": sims[ai, bi]})

    return exploded.groupBy("ka", "kb").applyInPandas(
        group_pairs, "id_a long, id_b long, sim double"
    )


def hyperplane_lsh_pairs(emb_df, threshold: float):
    """Scale path for embedding near-dup: random-hyperplane LSH.

    Signature bit i = sign(x . h_i) with fixed seeded gaussian hyperplanes;
    collision probability per bit is 1 - angle/pi, so near-duplicates
    (angle -> 0) collide on whole bands. 32 planes in 8 bands of 4
    bits bucket the corpus; candidates meet only inside (band, bucket) —
    the shuffle key is the bucket, never a pair enumeration — and an exact
    cosine verify keeps (id_a < id_b, sim >= threshold). Probabilistic
    recall; the exact operators are
    ``cosine_neardup_pairs`` (broadcast) and ``cosine_neardup_blocked``
    (distributed). Both self-join sides read the band table (8
    rows/vector) through one window exchange, which AQE reuses, so the
    signature stage runs once with no cache.
    """
    n_planes, n_bands = 32, 8
    rng = np.random.default_rng(42)
    # emb dim discovered from the first row (driver-side, one row)
    dim = len(emb_df.select("embedding").first()[0])
    planes = rng.normal(size=(dim, n_planes))
    rpb = n_planes // n_bands

    def sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = _normalize(_as_matrix(pdf["embedding"]))
            bits = (mat @ planes) >= 0                  # (n, n_planes)
            out = []
            for band in range(n_bands):
                chunk = bits[:, band * rpb : (band + 1) * rpb]
                bucket = chunk @ (1 << np.arange(rpb, dtype=np.int64))
                out.append(
                    pd.DataFrame(
                        {"vec_id": ids, "band": band, "bucket": bucket}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    from pyspark.sql import Window

    bands = emb_df.select("vec_id", "embedding").mapInPandas(
        sigs, "vec_id long, band int, bucket long"
    )
    sized = bands.withColumn(
        "bsize", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsize") <= 256)
    left = sized.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    right = sized.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = emb_df.select(F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v"))
    joined = (
        cand.join(vecs.withColumnRenamed("_vid", "id_a").withColumnRenamed("_v", "v_a"), "id_a")
        .join(vecs.withColumnRenamed("_vid", "id_b").withColumnRenamed("_v", "v_b"), "id_b")
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            a = _normalize(_as_matrix(pdf["v_a"]))
            b = _normalize(_as_matrix(pdf["v_b"]))
            sim = (a * b).sum(axis=1)
            keep = sim >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "sim": sim[keep],
                }
            )

    return joined.mapInPandas(verify, "id_a long, id_b long, sim double")


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

def build_ivf(emb_df):
    """Deterministic k-means centroids + (vec_id, list_id) assignment DF.

    Init = the ``n_lists`` lowest vec_ids (stable under any partitioning);
    Lloyd iterations on a driver-side sample (ANN coarse quantizers don't
    need exact k-means). Returns (centroids ndarray, assignments DataFrame);
    the assignment shuffle keyed by list_id is the reusable ANN layout.
    """
    n_lists = 16
    seed_pdf = (
        emb_df.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(4096)
        .toPandas()
    )
    mat = _normalize(_as_matrix(seed_pdf["embedding"]))
    centroids = mat[:n_lists].copy()
    for _ in range(5):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for c in range(n_lists):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _normalize(centroids)

    def assign_lists(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = _normalize(_as_matrix(pdf["embedding"]))
            lists = np.argmax(m @ centroids.T, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "list_id": lists.astype(np.int32)}
            )

    assignments = emb_df.select("vec_id", "embedding").mapInPandas(
        assign_lists, "vec_id long, list_id int"
    )
    return centroids, assignments


def ivf_topk(emb_df, assignments, centroids: np.ndarray,
             queries_pdf: pd.DataFrame, k: int, nprobe: int = 4):
    """Probe the nprobe nearest lists per query, exact rerank inside them."""
    q_mat = _normalize(_as_matrix(queries_pdf["vec"]))
    probe = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    probe_rows = [
        (int(qid), int(lst))
        for qid, lists in zip(queries_pdf["query_id"], probe)
        for lst in lists
    ]
    spark = emb_df.sparkSession
    probe_df = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=["query_id", "list_id"])
    )
    # restrict the table to probed lists, then brute-force within
    probed_vecs = (
        emb_df.join(assignments, "vec_id")
        .join(F.broadcast(probe_df.select("list_id").distinct()), "list_id")
        .select("vec_id", "embedding", "list_id")
    )
    q_ids = queries_pdf["query_id"].to_numpy()
    # (n_queries, n_lists) boolean probe mask — the batch filter below is a
    # pure-numpy fancy index, no per-row Python
    probe_mask = np.zeros((len(q_ids), centroids.shape[0]), dtype=bool)
    probe_mask[np.arange(len(q_ids))[:, None], probe] = True

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("vec_id")  # stable (sim, vec_id) ties
            ids = pdf["vec_id"].to_numpy()
            lists = pdf["list_id"].to_numpy()
            mat = _normalize(_as_matrix(pdf["embedding"]))
            sims = q_mat @ mat.T                      # (n_q, n_vec)
            sims = np.where(probe_mask[:, lists], sims, -np.inf)
            take = min(k, sims.shape[1])
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            top = np.take_along_axis(sims, idx, axis=1)
            keep = np.isfinite(top).ravel()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, take),
                    "vec_id": ids[idx].ravel(),
                    "sim": top.ravel(),
                }
            )
            yield out[keep]

    partials = probed_vecs.mapInPandas(partial, TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the compressed-vector scale path
# ---------------------------------------------------------------------------

def pq_train(emb_df) -> np.ndarray:
    """Train (m, k, d/m) PQ codebooks on a deterministic sample.

    At 100 TB the raw float32 vectors dominate storage and shuffle bytes
    (64-dim = 256 B); PQ codes are m bytes (32x smaller here), and
    asymmetric-distance search never touches the raw vectors again.
    Like build_ivf, training runs driver-side on a bounded id-ordered
    sample (quantizer quality needs a sample, not the corpus) with
    k-means per subspace, lowest-id init — deterministic end to end.
    """
    # codes are stored as array<tinyint> (int8): k above 128 would wrap
    # negative and pq_topk's codebook gather would silently read wrong rows
    m, k = 8, 16
    pdf = (
        emb_df.select("vec_id", "embedding").orderBy("vec_id")
        .limit(2048).toPandas()
    )
    # unit-normalize: L2 on the unit sphere is monotone with cosine, so
    # PQ rankings line up with the cosine operators
    mat = _normalize(_as_matrix(pdf["embedding"]))
    d = mat.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    books = np.empty((m, k, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = sub[:k].copy()
        for _ in range(8):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_encode(emb_df, codebooks: np.ndarray):
    """(vec_id, codes array<tinyint>) — one Arrow pass, argmin per
    subspace; the codes table is the PERSISTENT ANN artifact."""
    m, k, dsub = codebooks.shape
    assert k <= 128, f"codebook k={k} overflows the int8 code column"

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(_as_matrix(pdf["embedding"]))
            codes = np.empty((len(pdf), m), dtype=np.int8)
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1).astype(np.int8)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": [c.tolist() for c in codes],
                }
            )

    return emb_df.select("vec_id", "embedding").mapInPandas(
        enc, "vec_id long, codes array<tinyint>"
    )


def pq_topk(codes_df, codebooks: np.ndarray, queries_pdf: pd.DataFrame,
            k: int):
    """Asymmetric-distance top-k over PQ codes.

    Per query: an (m, K) table of squared distances from the query's
    subvectors to every codeword; per row the approximate distance is m
    table lookups summed — a fancy-index gather over the whole Arrow
    batch, no per-row Python. Shuffle is O(partitions x Q x k), like
    cosine_topk, but the scanned bytes are m per vector instead of 4d.
    """
    m = codebooks.shape[0]
    q_ids = queries_pdf["query_id"].to_numpy()
    q_mat = _normalize(_as_matrix(queries_pdf["vec"]))
    tables = _adc_tables(codebooks, q_mat)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            # dists[q, i] = sum_j tables[q, j, codes[i, j]]
            dists = tables[:, np.arange(m)[None, :], codes].sum(axis=2)
            take = min(k, dists.shape[1])
            idx = np.argsort(dists, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, take),
                    "vec_id": ids[idx].ravel(),
                    "dist": np.take_along_axis(dists, idx, axis=1).ravel(),
                }
            )

    partials = codes_df.mapInPandas(partial, "query_id long, vec_id long, dist double")
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "dist")
    )


def ivfpq_topk(emb_df, queries_pdf: pd.DataFrame, k: int):
    """IVF-PQ with exact rerank — the canonical 100 TB ANN configuration.

    Composes the two pruning axes: the IVF coarse quantizer restricts the
    scan to 2 of the 16 lists of the corpus (rows), PQ codes shrink what
    that scan reads to m = 8 bytes per vector (bytes), ADC proposes
    50 candidates per query, and a broadcast-id join reranks the
    candidates against raw vectors — exactly FAISS's IVFPQ + refine, as a
    composition of DataFrame ops. Per-batch the probe filter is the same
    (queries x lists) boolean mask as ``ivf_topk``; no per-row Python.
    On clustered corpora with cluster size >= k and the 2 probed lists covering
    the true cluster, the result EQUALS exact brute force (gated against the
    exact SQL top-k on the planted table).
    """
    centroids, assignments = build_ivf(emb_df)
    books = pq_train(emb_df)
    codes = pq_encode(emb_df, books)

    q_ids = queries_pdf["query_id"].to_numpy()
    q_mat = _normalize(_as_matrix(queries_pdf["vec"]))
    nprobe, n_candidates = 2, 50
    probe = np.argsort(-(q_mat @ centroids.T), axis=1)[:, :nprobe]
    probe_mask = np.zeros((len(q_ids), centroids.shape[0]), dtype=bool)
    probe_mask[np.arange(len(q_ids))[:, None], probe] = True

    spark = emb_df.sparkSession
    probed_lists = spark.createDataFrame(
        pd.DataFrame({"list_id": np.unique(probe.ravel())})
    )
    # only the probed lists' CODES are scanned (m bytes/vector)
    probed_codes = codes.join(assignments, "vec_id").join(
        F.broadcast(probed_lists), "list_id"
    ).select("vec_id", "codes", "list_id")

    M = books.shape[0]
    tables = _adc_tables(books, q_mat)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            lists = pdf["list_id"].to_numpy()
            cds = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            dists = tables[:, np.arange(M)[None, :], cds].sum(axis=2)
            dists = np.where(probe_mask[:, lists], dists, np.inf)
            take = min(n_candidates, dists.shape[1])
            idx = np.argsort(dists, axis=1, kind="stable")[:, :take]
            top = np.take_along_axis(dists, idx, axis=1)
            keep = np.isfinite(top).ravel()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, take),
                    "vec_id": ids[idx].ravel(),
                    "dist": top.ravel(),
                }
            )
            yield out[keep]

    partials = probed_codes.mapInPandas(
        partial, "query_id long, vec_id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    # cand (Q x C rows) feeds both the broadcast distinct-id subplan and
    # the pairs join; persisted, it lives until session end or
    # spark.catalog.clearCache()
    cand = (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_candidates)
        .select("query_id", "vec_id")
    ).persist()
    return _exact_rerank(cand, emb_df, queries_pdf, k)


def _adc_tables(codebooks: np.ndarray, q_mat: np.ndarray) -> np.ndarray:
    """(n_queries, m, K) squared-distance lookup tables for ADC search."""
    m, K, dsub = codebooks.shape
    tables = np.empty((q_mat.shape[0], m, K))
    for j in range(m):
        qsub = q_mat[:, j * dsub : (j + 1) * dsub]
        tables[:, j, :] = (
            (qsub[:, None, :] - codebooks[j][None, :, :]) ** 2
        ).sum(axis=2)
    return tables


def _exact_rerank(cand, emb_df, queries_pdf: pd.DataFrame, k: int):
    """Exact cosine rerank of a (query_id, vec_id) candidate pool.

    The Q x C candidate ids broadcast into the vectors table (only the
    candidates' raw vectors are ever read back), then one Arrow pass
    scores and a window takes the final top-k. Shared by pq_topk_rerank
    and ivfpq_topk.
    """
    cand_vecs = emb_df.select("vec_id", "embedding").join(
        F.broadcast(cand.select("vec_id").distinct()), "vec_id")
    pairs = cand.join(cand_vecs, "vec_id")
    q_ids = queries_pdf["query_id"].to_numpy()
    q_mat = _normalize(_as_matrix(queries_pdf["vec"]))
    q_index = {int(q): i for i, q in enumerate(q_ids)}

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize(_as_matrix(pdf["embedding"]))
            qi = np.array([q_index[int(q)] for q in pdf["query_id"]])
            sim = (q_mat[qi] * mat).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "sim": sim,
                }
            )

    scored = pairs.mapInPandas(rerank, TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim")
    )


def pq_topk_rerank(codes_df, emb_df, codebooks: np.ndarray,
                   queries_pdf: pd.DataFrame, k: int, n_candidates: int):
    """PQ candidates + exact rerank (the FAISS refine pattern).

    ADC over the m-byte codes proposes ``n_candidates`` per query —
    the only stage that scans the corpus, at ~m bytes/vector — then the
    raw vectors of just the Q x C candidate set join back (broadcast of
    the candidate ids) for an exact cosine rerank (shared _exact_rerank).
    With a candidate pool deep enough to cover the true top-k
    (empirically C >= 5k here), the result EQUALS exact brute force while
    reading 32x fewer corpus bytes.
    """
    cand = pq_topk(codes_df, codebooks, queries_pdf, k=n_candidates).select(
        "query_id", "vec_id"
    )
    return _exact_rerank(cand, emb_df, queries_pdf, k)


def kmeans_lite(emb_df, k: int, rounds: int, scale: int):
    """Fixed-round Lloyd's k-means in EXACT integer arithmetic — the
    oracle-gateable twin of `build_ivf`'s float trainer (whose numpy
    reductions cannot hash-match another engine).

    Components quantize once (round(v * scale), exact BIGINT — the
    `label_centroids` trick); seeds are the first ``k`` vectors by id;
    each round assigns every vector to the centroid minimizing the
    exact integer squared distance (centroid-id tiebreak) and rebuilds
    integer centroids as the SHIFTED truncating mean
    ``(qsum + n*scale) div n - scale`` — the +scale shift keeps the
    numerator positive (components exceed -scale never), so Spark's
    ``div`` and DuckDB's ``//`` agree bit-for-bit. Returns the last
    round's per-(cluster, dim) update table (cluster_id, dim, n, qsum)
    — n is the cluster size repeated per dim, qsum div n the centroid.

    Plan shape: the quantized (vid, dim, qv) triple table materializes
    once (lazy localCheckpoint) and feeds every round; assignment is a
    broadcast join against the k*D centroid rows + one (vid, cid) hash
    agg (rows shuffled: N*D*k — the spill-aware exhaustive baseline;
    the IVF path is the pruned alternative at scale), update is one
    more map-side-combined agg. No windows and no per-round job: the
    k*D centroid rows of each round stay inline (the rounds are few and
    every round reads the checkpointed triples, never the table), so
    all rounds run as one plan."""
    q = (
        emb_df.select(
            F.col("vec_id").alias("vid"),
            F.posexplode("embedding").alias("dim", "v"),
        )
        .select(
            "vid", "dim",
            F.expr(f"CAST(ROUND(CAST(v AS DOUBLE) * {scale}) AS BIGINT)")
            .alias("qv"),
        )
        .localCheckpoint(eager=False)
    )
    cent = q.filter(F.col("vid") < k).select(
        F.col("vid").alias("cid"), "dim", F.col("qv").alias("cd"))
    upd = None
    for _ in range(rounds):
        d = (
            q.join(F.broadcast(cent), "dim")
            .select(
                "vid", "cid",
                ((F.col("qv") - F.col("cd"))
                 * (F.col("qv") - F.col("cd"))).alias("t"),
            )
            .groupBy("vid", "cid")
            .agg(F.sum("t").alias("d2"))
        )
        assign = (
            d.groupBy("vid")
            .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"))
            .select("vid", F.col("m.cid").alias("cid"))
        )
        upd = (
            q.join(assign, "vid")
            .groupBy("cid", "dim")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("qv").cast("long").alias("qsum"),
            )
        )
        cent = upd.select(
            "cid", "dim",
            (F.expr(f"(qsum + n * {scale}) div n") - scale).alias("cd"),
        )
    return upd.select(
        F.col("cid").alias("cluster_id"),
        F.col("dim").cast("int").alias("dim"), "n", "qsum")


def rrf_fuse(rank_a, rank_b, k_const: int, scale: int):
    """Reciprocal-rank fusion of two retrieval rankings — the standard
    hybrid-search combiner (Cormack et al., SIGIR'09): fused score
    sum_i 1/(K + rank_i), items absent from a list contribute 0.

    Exact-integer form: with ranks in 1..10 and K fixed, every
    denominator lies in {K+1 .. K+10}; multiplying through by a common
    multiple ``scale`` of them (lcm(K+1 .. K+10)) turns each reciprocal
    into an exact BIGINT (scale div (K+r)) — the fused ordering is
    EXACTLY the rational RRF ordering, no float summation anywhere, so
    both engines agree bit-for-bit.

    Inputs are (query_id, rank, vec_id) frames. Plan: one full outer
    equi-join on (query_id, vec_id) — both sides are top-k lists, so
    the join is O(queries * k), then a per-query window over <= 2k
    rows. Corpus-scale cost lives in the upstream rankers, not here.

    Returns (query_id, rank, vec_id, rrf_score) with rank <= 10 by
    (score DESC, vec_id ASC).
    """
    dens = [k_const + r for r in range(1, 11)]
    assert all(scale % d == 0 for d in dens), \
        "scale must be a common multiple of every K+rank denominator"
    a = rank_a.select("query_id", F.col("rank").alias("ra"), "vec_id")
    b = rank_b.select("query_id", F.col("rank").alias("rb"), "vec_id")
    fused = (
        a.join(b, ["query_id", "vec_id"], "full_outer")
        .withColumn(
            "rrf_score",
            (F.coalesce(F.expr(f"{scale} div ({k_const} + ra)"), F.lit(0))
             + F.coalesce(F.expr(f"{scale} div ({k_const} + rb)"),
                          F.lit(0))).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id", "rrf_score")
    )
