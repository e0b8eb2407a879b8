"""Document deduplication operators for training-data pipelines.

Four families, each a DataFrame-in / DataFrame-out operator:

* ``exact_dedup`` — hash-groupBy on md5(text): one shuffle on the digest,
  map-side partial agg; the canonical first pass at 100 TB.
* ``minhash_lsh_pairs`` — shingle -> 64-perm MinHash -> banded LSH
  bucket-join -> exact-Jaccard verify. Candidate generation never compares
  all pairs: docs meet only inside (band, bucket) groups, so the shuffle
  key is the band hash and hot buckets are bounded at 64 docs.
* ``simhash_pairs`` — 64-bit SimHash, banded by 4x16-bit chunks (any pair
  at Hamming distance <= 3 shares at least one exact chunk — pigeonhole),
  then exact Hamming verify.
* embedding near-dup lives in operators.ann (cosine_topk with a threshold).

Signatures are computed in Arrow-batched ``mapInPandas`` with numpy-
vectorized permutation minima; shingle hashes are a rolling polynomial
over cached md5-low-64 word hashes (one digest per DISTINCT word per
worker), so only tokenization walks Python strings.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..plans.iterate import loop_checkpoint
from .graph import (
    _dense_ids,
    _doubled_edges,
    _local_frame,
    _pair_type,
    _probe_pairs,
)

MERSENNE_P = (1 << 61) - 1
N_PERM = 64
N_BANDS = 16  # x 4 rows per band
SHINGLE_W = 3  # words per shingle, for every shingle operator here


def _perm_params() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(42)
    # a < 2^31 keeps every intermediate product below 2^63: a*hi < 2^60 and
    # a*lo < 2^63, so the mod-P arithmetic is exact in uint64 (no wrapping)
    a = rng.integers(1, 1 << 31, size=N_PERM, dtype=np.uint64)
    b = rng.integers(0, MERSENNE_P, size=N_PERM, dtype=np.uint64)
    return a, b


_POLY = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 wrap arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def shingle_hashes(text: str, cache: dict) -> np.ndarray:
    """SHINGLE_W-word shingle hashes, vectorized.

    Per document: md5-low-64 each DISTINCT word once (cross-doc cache),
    then a rolling order-sensitive polynomial over the word-hash vector +
    a splitmix64 finalizer — one numpy pass instead of one digest call per
    shingle. Deterministic; collision odds are the generic 64-bit birthday
    bound, which the exact-Jaccard verify consumes as set sizes only.
    """
    words = text.split()
    if not words:
        return np.empty(0, dtype=np.uint64)
    hv = np.empty(len(words), dtype=np.uint64)
    for i, wd in enumerate(words):
        h = cache.get(wd)
        if h is None:
            h = word_hash_md5_low(wd)
            cache[wd] = h
        hv[i] = h
    k = min(SHINGLE_W, len(words))
    n = len(words) - k + 1
    acc = hv[:n].copy()
    for j in range(1, k):
        acc = acc * _POLY + hv[j : j + n]
    return _mix64(acc)


def minhash_signature(hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N_PERM,) signature: min over shingles of (a*h + b) mod p."""
    if hashes.size == 0:
        return np.full(N_PERM, np.iinfo(np.uint64).max, dtype=np.uint64)
    # fully broadcast (n_perm, n_shingles): a*h mod p split as
    # ((a*hi mod p) << 32 mod p) + (a*lo mod p); with a < 2^31 every
    # product stays below 2^63 so uint64 arithmetic is exact
    p = np.uint64(MERSENNE_P)
    h = hashes % p
    lo = (h & np.uint64(0xFFFFFFFF))[None, :]
    hi = (h >> np.uint64(32))[None, :]
    A = a[:, None]
    t_hi = (A * hi) % p  # < 2^61
    # (t_hi * 2^32) mod p without overflow: with p = 2^61 - 1, 2^61 ≡ 1,
    # so split t_hi = u_hi*2^29 + u_lo -> t_hi*2^32 ≡ u_hi + u_lo*2^32
    u_hi = t_hi >> np.uint64(29)
    u_lo = t_hi & np.uint64((1 << 29) - 1)
    shifted = (u_hi + (u_lo << np.uint64(32))) % p
    t = (shifted + (A * lo) % p + b[:, None]) % p
    return t.min(axis=1)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = set(a.tolist()), set(b.tolist())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def exact_dedup(docs_df):
    """Groups of byte-identical documents: (dup_key, n_docs, keeper_id)."""
    return (
        docs_df.groupBy(F.md5(F.col("text").cast("binary")).alias("dup_key"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


BANDS_SCHEMA = "doc_id long, band int, bucket long"
SIG_SCHEMA = "doc_id long, sig array<long>"


def minhash_signatures(docs_df):
    """(doc_id, sig array<long>) — one Arrow pass; the signature is the
    reusable LSH artifact (at 100 TB it would be checkpointed via
    plans.manifest and every downstream stage reads it back)."""
    a, b = _perm_params()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sig = minhash_signature(shingle_hashes(text, cache), a, b)
                ids.append(int(doc_id))
                sigs.append(sig.view(np.int64).tolist())
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    from ..plans.partitioning import spread

    return spread(docs_df.select("doc_id", "text")).mapInPandas(gen, SIG_SCHEMA)


def minhash_bands(docs_df):
    """(doc_id, band, bucket) rows — the LSH shuffle key table.

    Band buckets are derived JVM-side (xxhash64 over the signature slice —
    whole-stage codegen, no second Python pass over the corpus)."""
    sigs = minhash_signatures(docs_df)
    rpb = N_PERM // N_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(F.slice("sig", band * rpb + 1, rpb)).alias("bucket"),
            )
            for band in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(docs_df, threshold: float):
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Bucket-join candidate generation, then the exact shingle-Jaccard
    verify of every candidate against the full texts. Buckets above 64
    docs are dropped (e.g. boilerplate shingles) — a skew guard, trading
    recall on pathological keys for bounded work.
    """
    bands = minhash_bands(docs_df)
    sized = bands.withColumn(
        "bsize", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsize") <= 64)
    left = sized.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    right = sized.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    texts = docs_df.select(F.col("doc_id").alias("_tid"), F.col("text").alias("_text"))
    joined = (
        cand.join(texts.withColumnRenamed("_tid", "id_a").withColumnRenamed("_text", "text_a"), "id_a")
        .join(texts.withColumnRenamed("_tid", "id_b").withColumnRenamed("_text", "text_b"), "id_b")
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            rows = []
            for id_a, id_b, ta, tb in zip(
                pdf["id_a"], pdf["id_b"], pdf["text_a"], pdf["text_b"]
            ):
                j = jaccard(shingle_hashes(ta, cache), shingle_hashes(tb, cache))
                if j >= threshold:
                    rows.append((int(id_a), int(id_b), float(j)))
            yield pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])

    # force=True: the verify stage inherits the candidate join's
    # exchange, which AQE coalesces by BYTES — a few MB of pair texts
    # collapse to one task, serializing the per-pair shingle hashing.
    # Python verify cost per row dwarfs one round-robin re-shuffle of
    # the (already candidate-pruned) pair rows, so fan out explicitly.
    from ..plans.partitioning import spread

    return spread(joined, force=True).mapInPandas(
        verify, "id_a long, id_b long, jaccard double")


def shingle_sets(docs_df):
    """The DISTINCT (doc_id, shingle) inverted index — the shared input
    of every exact-shingle operator here (``ngram_jaccard_pairs``,
    ``shingle_containment_pairs``). Built as split -> shingle index
    explode -> DISTINCT, all-JVM; at scale this is the structure a dedup
    pipeline materializes ONCE and feeds to each verify/candidate tier;
    the operators take it as their ``ds`` input instead of paying the
    tokenize+explode+distinct scan per operator.

    Shingle indexing is 1-based over a literal-space split (empty
    tokens kept), mirroring the SQL oracle token-for-token; documents
    with fewer than ``SHINGLE_W`` tokens contribute no shingles.
    """
    from ..plans.partitioning import spread

    toks = F.split(F.col("text"), " ")
    base = spread(docs_df.select(
        "doc_id", toks.alias("toks")
    ).filter(F.size("toks") >= SHINGLE_W))
    idx = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (SHINGLE_W - 1))
                  ).alias("i"),
    )
    shingle = F.concat_ws(
        " ", *[F.element_at("toks", F.col("i") + F.lit(k))
               for k in range(SHINGLE_W)]
    )
    return idx.select("doc_id", shingle.alias("shingle")).distinct()


def _shared_shingle_counts(ds):
    """(id_a, id_b, i, n_a, n_b) for every doc pair that shares a
    shingle of the (doc_id, shingle) index ``ds``: id_a < id_b, i =
    shared distinct shingles, n_* = distinct-shingle set sizes, all
    BIGINT. One shingle equi-join counts the intersection, then two
    size joins; the exact-shingle operators differ only in the filter
    they put on top.

    Exactness costs skew-exposure: a boilerplate shingle shared by k
    docs contributes k^2 join rows (no 64-doc bucket guard here,
    because dropping it would change the EXACT answer). At sf0.1 the
    join makes 1.27M pair rows for 256 Jaccard pairs; an AllPairs
    prefix filter cut that to 137k candidates but measured slower
    end to end (per-doc array sort, checkpoint and a second verify
    join), so it is not kept.
    """
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        ds.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(ds.select(F.col("doc_id").alias("id_b"), "shingle"),
              "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n").alias("n_b")), "id_b")
    )


def ngram_jaccard_pairs(ds, threshold: float):
    """EXACT n-gram (SHINGLE_W-word shingle) Jaccard near-dup pairs —
    all-JVM, over the (doc_id, shingle) index ``ds`` (``shingle_sets``).

    Pure DataFrame composition, no Python stage anywhere: the inverted
    index join of ``_shared_shingle_counts`` -> jaccard -> threshold
    filter. Whole-stage codegen end to end; the inverted shingle index
    (the ``ds`` table) is the same structure a 100 TB dedup would
    materialize once and reuse (here it is shared with
    ``shingle_containment_pairs``). ``minhash_lsh_pairs`` is the
    skew-capped approximate-candidate variant of the same contract; at
    scale run that first and reserve this operator for the verify tier.
    """
    return (
        _shared_shingle_counts(ds)
        .withColumn(
            "jaccard",
            F.col("i") * F.lit(1.0)
            / (F.col("n_a") + F.col("n_b") - F.col("i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_containment_pairs(ds, thr_num: int, thr_den: int):
    """EXACT shingle-containment pairs — the ASYMMETRIC near-dup
    detector Jaccard misses: a short document pasted into a long one
    has tiny Jaccard (the union is dominated by the long doc) but
    containment |S(A) cap S(B)| / min(|S(A)|, |S(B)|) ~ 1. This is the
    partial-copy / quotation / boilerplate-inclusion case a web-corpus
    dedup pass must catch (Broder's containment measure, the other half
    of the resemblance/containment pair from the original shingling
    paper).

    Same inverted-index join as ``ngram_jaccard_pairs``
    (``_shared_shingle_counts``), with the threshold applied as an
    exact integer cross-multiplication: keep pairs with
    inter * thr_den >= thr_num * least(n_a, n_b) — no float division
    anywhere, so both engines agree bit-for-bit. Same skew exposure as
    the Jaccard twin (exactness forbids bucket caps); the LSH variants
    are the scale-out candidate tier.

    Returns (id_a, id_b, i, n_a, n_b), all BIGINT.
    """
    return (
        _shared_shingle_counts(ds)
        .filter(
            F.col("i") * int(thr_den)
            >= int(thr_num) * F.least("n_a", "n_b"))
        .select("id_a", "id_b", "i", "n_a", "n_b")
    )


def _driver_union_find_pairs(node_ids, id_a, id_b):
    """Connected components of a bounded graph on the driver: the
    component engine for graphs small enough to collect, whether the
    adjacency is grid neighbours (``clustering._driver_union_find``) or
    a probed edge list (``dedup_clusters``, which the geodetic grid's
    band-overlap edges also go through).

    Vectorized hook-and-shortcut: every root hooks onto the smallest
    root across its edges, then pointers jump until each tree is a star;
    each pass removes at least one root, and a root only ever points to
    a smaller index, so the surviving root is the component's min id.
    Returns (ids, labels): every id of ``node_ids``, ``id_a`` or
    ``id_b``, sorted, with the min id of its component.
    """
    ids, (_, a, b) = _dense_ids(np.asarray(node_ids), np.asarray(id_a),
                                np.asarray(id_b))
    lbl = np.arange(len(ids))
    while True:
        ra, rb = lbl[a], lbl[b]
        if np.array_equal(ra, rb):
            return ids, ids[lbl]
        np.minimum.at(lbl, ra, rb)
        np.minimum.at(lbl, rb, ra)
        while not np.array_equal(lbl[lbl], lbl):
            lbl = lbl[lbl]


def dedup_clusters(docs_df, pairs_df):
    """Fuzzy-dedup completion: connected components over near-dup pairs.

    Pair detection (minhash/simhash/ngram/embedding) yields EDGES; what a
    training-data pipeline actually needs is one keeper per duplicate
    CLUSTER — the transitive closure. Returns (doc_id, cluster_id) for
    every document and every pair endpoint (an endpoint absent from
    ``docs_df`` is labeled too); singletons label themselves;
    cluster_id = min doc id of the component (the keeper).

    The pairs are probed by ``graph._probe_pairs``. When they hold at
    most ``graph.DRIVER_LOOP_MAX_EDGES`` rows they come back in one Arrow
    collect and ``_driver_union_find_pairs`` labels their nodes on the
    driver. ``docs_df`` is never probed: it can be the whole corpus.

    Above that, min-label propagation with pointer jumping: every node
    starts labeled with its own id; each round takes the min over
    neighbors' labels, then compresses one level of indirection
    (lbl <- lbl[lbl], the Wyllie/pointer-doubling step), so convergence
    is O(log diameter) rounds, not O(diameter) — chains of adjacent grid
    cells (`operators/clustering.py`) would otherwise need a round per
    link. Each round is two JVM joins + one aggregate; the DRIVER only
    runs the convergence loop (bounded by log(diameter), never by corpus
    size — the same shape GraphX/Pregel uses). Every round's labels are
    a ``plans.iterate.loop_checkpoint``, whose call runs the round's
    shuffle stages, with the stats reset: the loop body references
    ``labels`` twice, so without plan truncation the logical tree
    doubles per round, and without the stats reset the inherited
    sizeInBytes estimates multiply per round until Catalyst's stats
    visitor grinds million-digit BigInteger products (see
    plans/iterate.py for the measured failure curve). (On a real cluster
    with executor churn, swap in reliable ``checkpoint()`` — same
    contract, see plans/manifest.py for the durable variant.)
    """
    und, pairs = _probe_pairs(pairs_df)
    if pairs is not None:
        src, dst = pairs
        t = _pair_type(und)
        labels = _local_frame(
            docs_df.sparkSession,
            StructType([StructField("id", t), StructField("lbl", t)]),
            *_driver_union_find_pairs(src, src, dst))
    else:
        # one up-front shuffle onto the per-round join key:
        # localCheckpoint preserves outputPartitioning, so every round's
        # edges-side of the neighbor join (the largest table in the
        # loop) reuses this layout instead of re-exchanging — saves one
        # edge shuffle per round
        labels = _label_loop(_doubled_edges(und, "dst"))
    # Only nodes that appear in an edge went through the labeling:
    # singletons (the overwhelming majority of a deduped corpus — and of
    # a road network's crossing graph) can never change label, so they
    # rejoin here as self-labeled rows.
    singletons = (
        docs_df.select(F.col("doc_id").alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("lbl", F.col("id"))
    )
    return labels.unionByName(singletons).select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _label_loop(edges):
    """The distributed min-label loop of ``dedup_clusters`` over its
    doubled edge list; returns (id, lbl) for every node of an edge."""
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=False)
    )
    # Convergence check: labels only ever DECREASE under min-propagation,
    # so the label sum is strictly monotone until the fixpoint — one
    # aggregate per round instead of an old-vs-new join. Summed in
    # decimal(38,0) so corpus-scale id sums cannot overflow/wrap. The
    # checkpoints are LAZY (eager ones would add a job per round), so
    # this aggregate is the round's last job.
    prev_sum = None
    while True:
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("lbl").alias("nlbl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("minnbr"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.least(
                F.col("lbl"), F.coalesce("minnbr", F.col("lbl"))
            ).alias("lbl"),
        )
        # pointer jumping: follow one level of labels (lbl <- lbl[lbl]).
        # lbl always names a node id (mins of node ids), so the self-join
        # below always finds it; halves remaining path lengths per round.
        hop = stepped.select(
            F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        new_labels = loop_checkpoint(
            stepped.join(hop, "lbl", "left")
            .select("id", F.coalesce("lbl2", "lbl").alias("lbl"))
        )
        cur_sum = new_labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum


def decontaminate(train_df, heldout_df):
    """Remove training documents whose exact text appears in a held-out
    set — the decontamination pass every evaluation-aware corpus build
    runs. Anti-join on md5(text): the held-out fingerprint set is
    typically small (benchmarks), so Catalyst broadcasts it and the
    training corpus never shuffles; with a huge held-out side it degrades
    gracefully to a shuffle anti-join on the digest.
    """
    fp = F.md5(F.col("text").cast("binary")).alias("_fp")
    train = train_df.withColumn("_fp", fp)
    seen = heldout_df.select(fp).distinct()
    return train.join(seen, "_fp", "left_anti").drop("_fp")


def ngram_decontaminate(train_df, heldout_df):
    """N-gram-overlap decontamination (the GPT-3 recipe): drop a training
    document if it shares ANY word n-gram with the held-out set — far
    stricter than exact-text matching, which misses partial copies and
    quote-level leakage.

    Plan: both sides explode to (doc, md5(n-gram)); the held-out gram set
    is DISTINCT and benchmark-sized, so the contaminated-id probe is a
    broadcast semi join on the digest — the training corpus shuffles
    ZERO bytes; then a broadcast anti join removes the contaminated ids.
    With a pathological held-out side both joins degrade to hash
    shuffles on the 16-byte digest, never on text.
    """
    w = 5  # n-gram width
    # CASE guard: sequence(1, 0) in Spark is the DESCENDING [1, 0], so a
    # doc shorter than n words must yield an empty gram array explicitly
    grams = F.expr(
        f"explode(CASE WHEN size(split(trim(text), ' ')) >= {w} THEN "
        f"transform(sequence(1, size(split(trim(text), ' ')) - {w - 1}),"
        f" i -> md5(array_join(slice(split(trim(text), ' '), i, {w}), ' '))) "
        "ELSE array() END)"
    )
    from ..plans.partitioning import spread

    held_grams = spread(heldout_df.select("text")).select(
        grams.alias("g")).distinct()
    train_grams = spread(train_df.select("doc_id", "text")).select(
        F.col("doc_id").alias("_tid"), grams.alias("g"))
    contaminated = (
        train_grams.join(held_grams, "g", "left_semi").select("_tid").distinct()
    )
    return train_df.join(
        contaminated, train_df["doc_id"] == contaminated["_tid"], "left_anti"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def word_hash_md5_low(word: str) -> int:
    """uint64 word hash == DuckDB's ``md5_number_lower``: little-endian of
    md5 digest bytes 8..16 — the oracle computes the IDENTICAL hash in SQL,
    so the whole SimHash pipeline is cross-engine checkable."""
    return int.from_bytes(hashlib.md5(word.encode("utf-8")).digest()[8:16], "little")


def simhash64(text: str, cache: dict) -> int:
    """64-bit SimHash over word hashes — vectorized.

    Per document: hash the DISTINCT words once (through a cross-doc
    ``cache``), unpack all 64 bits of every hash in one ``np.unpackbits``, and
    reduce with a single (+-1 weight x count) matmul — no per-word Python
    beyond the md5 call itself.
    """
    words = text.split()
    if not words:
        return 0
    uniq, counts = np.unique(words, return_counts=True)
    hv = np.empty(len(uniq), dtype=np.uint64)
    for i, w in enumerate(uniq):
        h = cache.get(w)
        if h is None:
            h = word_hash_md5_low(w)
            cache[w] = h
        hv[i] = h
    # bit j of flat row == (h >> j) & 1: little-endian byte view + little
    # bitorder keeps numpy's layout aligned with the arithmetic definition
    bits = np.unpackbits(
        hv.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    ).astype(np.int64)
    acc = (2 * bits - 1).T @ counts.astype(np.int64)  # (64,) signed sums
    out = int(
        np.packbits((acc > 0).astype(np.uint8), bitorder="little")
        .view(np.uint64)[0]
    )
    return out - (1 << 64) if out >= (1 << 63) else out


def simhash_pairs(docs_df, max_hamming: int):
    """Pairs at Hamming distance <= max_hamming (banded exact search).

    The persisted band table (4 rows/doc) lives until the session ends or
    the caller runs ``spark.catalog.clearCache()``.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = simhash64(text, cache)
                u = sh & 0xFFFFFFFFFFFFFFFF
                for band in range(4):
                    rows.append(
                        (int(doc_id), sh, band, (u >> (band * 16)) & 0xFFFF)
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "simhash", "band", "chunk"])

    from ..plans.partitioning import spread

    # 4 rows/doc, read by both self-join sides
    bands = spread(docs_df.select("doc_id", "text")).mapInPandas(
        gen, "doc_id long, simhash long, band int, chunk int"
    ).persist()
    left = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "chunk"
    )
    right = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "chunk"
    )
    cand = (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def chunk_dedup(docs_df, chunk_words: int):
    """Sub-document (CCNet-style paragraph) dedup over fixed word chunks.

    Web corpora repeat at the PARAGRAPH level (boilerplate, quoted
    reposts) far more than at whole-document level; CCNet dedups on
    normalized paragraph hashes. The driver corpus has no newlines, so
    the "paragraph" here is a deterministic chunk of ``chunk_words``
    consecutive whitespace tokens (last chunk may be short).

    Keep rule: a chunk survives iff it is the globally FIRST occurrence
    of its text, ordering by (doc_id, chunk_idx) — exactly CCNet's
    first-writer-wins over a corpus-wide hash partition.

    Output per doc: (doc_id, n_chunks, n_kept, kept_words) — BIGINTs.

    Plan: split -> chunk (JVM transform over token array, no Python) ->
    one hash-keyed shuffle for the global first-occurrence window ->
    per-doc re-agg. The window per hash group is tiny (duplicate count),
    so no skew pathology; a pathological 10^9-copy chunk is still one
    (hash, min(doc,idx)) reduction away — swap row_number for a min_by
    semi-join if a corpus ever hits that.
    """
    from pyspark.sql import Window

    from ..plans.partitioning import spread

    w = int(chunk_words)
    chunks = spread(docs_df.select("doc_id", "text")).select(
        "doc_id",
        F.expr(
            "posexplode(transform("
            f"  sequence(0, CAST(ceil(size(split(trim(text), ' ')) / {w}.0) AS INT) - 1),"
            f"  i -> array_join(slice(split(trim(text), ' '), i * {w} + 1, {w}), ' ')"
            "))"
        ).alias("chunk_idx", "chunk"),
    ).filter(F.col("chunk") != "")
    hashed = chunks.select(
        "doc_id", "chunk_idx",
        F.md5(F.col("chunk")).alias("h"),
        (F.size(F.split(F.col("chunk"), " "))).cast("long").alias("n_words"),
    )
    first = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    kept = hashed.withColumn("rn", F.row_number().over(first))
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_words")).otherwise(0))
        .cast("long").alias("kept_words"),
    )


def boilerplate_chunks(docs_df, chunk_words: int):
    """Within-source boilerplate detection (CCNet/RefinedWeb line filter).

    Web boilerplate (nav bars, footers, cookie banners) repeats across
    MOST pages of a site but not across sites, so it is invisible to
    global dedup: the filter is per-SOURCE document frequency. A chunk
    (fixed ``chunk_words``-token window, same segmentation as
    ``chunk_dedup``) is boilerplate within its source iff it appears in
    >= max(2, source_docs/20) distinct documents of that source
    (df * 20 >= source_docs, exact integers — 5% of the source).

    Output per doc: (doc_id, n_chunks, n_boiler, boiler_words).

    Plan: chunk explode (JVM transform) -> hash agg per (source, chunk
    hash) for df -> join a broadcast 1-row-per-source doc-count dim ->
    semi-shape join back to the chunk stream on (source, hash). The df
    table is bounded by distinct chunks with df >= 2 (tiny vs the
    corpus); AQE broadcasts it at real sizes, and the join key includes
    the source so a cross-site mega-chunk cannot concentrate one
    reducer.
    """
    from ..plans.partitioning import spread

    w = int(chunk_words)
    chunks = spread(docs_df.select("doc_id", "source", "text")).select(
        "doc_id",
        "source",
        F.expr(
            "posexplode(transform("
            f"  sequence(0, CAST(ceil(size(split(trim(text), ' ')) / {w}.0) AS INT) - 1),"
            f"  i -> array_join(slice(split(trim(text), ' '), i * {w} + 1, {w}), ' ')"
            "))"
        ).alias("chunk_idx", "chunk"),
    ).filter(F.col("chunk") != "")
    # the hashed chunk stream feeds both the df aggregate and the
    # join-back scan
    hashed = chunks.select(
        "doc_id", "source",
        F.md5(F.col("chunk")).alias("h"),
        F.size(F.split(F.col("chunk"), " ")).cast("long").alias("n_words"),
    ).localCheckpoint(eager=False)
    df_stats = hashed.groupBy("source", "h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    src_docs = docs_df.groupBy("source").agg(
        F.countDistinct("doc_id").alias("source_docs")
    )
    boiler = (
        df_stats.join(F.broadcast(src_docs), "source")
        .filter(
            (F.col("df") >= 2)
            & (F.col("df") * 20 >= F.col("source_docs"))
        )
        .select("source", "h", F.lit(1).alias("is_boiler"))
    )
    return (
        hashed.join(boiler, ["source", "h"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("long").alias("n_boiler"),
            F.sum(
                F.when(F.col("is_boiler").isNotNull(), F.col("n_words"))
                .otherwise(0)
            ).cast("long").alias("boiler_words"),
        )
    )


def cdc_chunk_dedup(docs_df, boundary_mod: int):
    """Content-defined chunking dedup (the FastCDC idea at word
    granularity): chunk boundaries fall AFTER any word whose 64-bit
    hash is 0 mod ``boundary_mod``, so boundaries are a local property
    of the content — inserting a sentence shifts ONE chunk, not every
    downstream chunk the way `chunk_dedup`'s fixed 8-word windows do.
    That shift-robustness is why CDC is the dedup standard for
    near-identical page revisions.

    Per doc: total chunks and chunks whose exact content (md5 of the
    joined words) appears in >= 2 distinct documents. Expected chunk
    length = boundary_mod words; all exact integers.

    Plan: chunk boundaries are a LOCAL property of each document's own
    words, so the chunk hashes are computed per row with array
    higher-order functions (boundary-position filter -> slice -> md5) —
    no word-level explode, no doc-keyed window, no collect_list
    reassembly (the previous shape shuffled the corpus' full word
    stream through a prefix-sum window and rebuilt every chunk from
    sorted structs). The only remaining shuffles are the two the
    contract actually requires: the chunk-hash agg for cross-doc
    counts and the per-doc re-agg. Keys always include the doc id or
    the chunk hash: corpus growth adds reducers, not skew.
    """
    m = int(boundary_mod)
    toks = "filter(split(trim(text), ' '), t -> t <> '')"
    if 256 % m == 0:
        # mod of a power-of-two divisor of 256 only needs the LOW byte
        # of the little-endian uint64 (hex pair 17) — 2^8 = 0 mod m
        def flag(w: str) -> str:
            return (f"CAST(conv(substring(md5(cast({w} AS binary)), 17, 2), "
                    f"16, 10) AS INT) % {m} = 0")
    else:
        def flag(w: str) -> str:
            rev = "concat(" + ", ".join(
                f"substring(md5(cast({w} AS binary)), {p}, 2)"
                for p in (31, 29, 27, 25, 23, 21, 19, 17)) + ")"
            return f"CAST(conv({rev}, 16, 10) AS DECIMAL(20,0)) % {m} = 0"

    # boundary word positions (1-based); chunk k spans
    # (bp[k-1]+1 .. bp[k]), plus the trailing run after the last
    # boundary (dropped when empty: start > end)
    chunk_hashes = (
        "transform(filter(arrays_zip("
        "  concat(array(1), transform(bp, p -> p + 1)), "
        "  concat(bp, array(size(t)))), x -> x['0'] <= x['1']), "
        "x -> md5(array_join(slice(t, x['0'], x['1'] - x['0'] + 1), ' ')))"
    )
    from ..plans.partitioning import spread

    ch = (
        spread(docs_df.select("doc_id",
                              F.expr(toks).alias("t")))
        .filter(F.size("t") >= 1)
        .select(
            "doc_id", "t",
            F.expr(f"filter(sequence(1, size(t)), "
                   f"i -> {flag('element_at(t, i)')})").alias("bp"),
        )
        .select("doc_id", F.explode(F.expr(chunk_hashes)).alias("h"))
    )
    cross = ch.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd"))
    return (
        ch.join(cross, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long").alias("n_dup_chunks"),
        )
    )
