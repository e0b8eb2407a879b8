"""Corpus curation — deterministic stratified sampling (mixture rates).

Training-corpus construction reweights strata (language, source,
quality bucket) to target proportions. The sampler must be
deterministic, partition-count-invariant, and cheap at 100 TB: a
multiplicative hash of the row id against a per-stratum threshold —
no shuffle, no RNG state, pure codegen filter. Re-running the job, or
running it at different parallelism, selects the IDENTICAL sample
(the property plans/partitioning.py's doc_sample also relies on).

The hash is the Knuth multiplicative scheme over 2^32; thresholds are
exact integers (rate expressed in parts-per-2^32), so both engines
evaluate the same BIGINT comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

KNUTH = 2654435761
MOD = 4294967296
_M31 = 2147483648


def sql_knuth_hash(id_col: str) -> str:
    """Portable overflow-safe Knuth hash text, shared by both engines.

    The naive ``(id * KNUTH) % 2^32`` overflows BIGINT for id >= ~3.47e9
    (an error in DuckDB and in ANSI-mode Spark), and a
    negative id makes the modulo negative so ``< threshold`` predicates
    degenerate to always-true. Pre-reducing the id to a non-negative
    31-bit residue first caps the product at (2^31-1) * KNUTH < 2^63 —
    defined and identical in every engine, for EVERY BIGINT id. For
    0 <= id < 2^31 (all driver test data) the reduction is the identity,
    so sample membership is unchanged. Ids differing by a multiple of
    2^31 collide — irrelevant for sampling, where the hash only needs a
    uniform residue, not injectivity.
    """
    return (f"(((({id_col} % {_M31}) + {_M31}) % {_M31}) * {KNUTH})"
            f" % {MOD}")


def stratum_threshold(rate: float) -> int:
    """Exact integer threshold for a sampling rate in [0, 1]."""
    return int(rate * MOD)


def sql_stratified_keep(id_col: str, stratum_col: str,
                        rates: dict[str, float]) -> str:
    """Portable SQL predicate: keep row iff hash(id) < threshold(stratum).

    Built once, executed verbatim by Spark and the DuckDB oracle.
    """
    cases = " ".join(
        f"WHEN '{k}' THEN {stratum_threshold(v)}" for k, v in rates.items()
    )
    thr = (f"CASE {stratum_col} {cases} "
           "ELSE 0 END")
    return f"{sql_knuth_hash(id_col)} < {thr}"


def stratified_sample(df: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Keep each stratum at its target rate, deterministically."""
    return df.where(
        F.expr(sql_stratified_keep("doc_id", "lang", rates))
    )


def mixture_interleave(df: DataFrame, weights: dict[str, int]) -> DataFrame:
    """Deterministic weighted interleave order for training-data mixing.

    Each stratum's documents are ranked by (Knuth hash, id) — a
    deterministic shuffle-within-stratum — and assigned the exact
    integer order key ``rank * (W / weight_stratum)`` where W is the
    weight product-normalizer (the LCM-free exact form: W = product of
    all weights works, any common multiple does). Reading the corpus
    sorted by (order_key, stratum, rank) yields the classic
    weighted round-robin: a stratum with twice the weight appears twice
    as often at every prefix of the stream — the mixing schedule
    training runs need, reproducible across runs and cluster sizes.

    No global window: the only window is PARTITIONED by stratum, and
    the output is the order KEY (a sorted write consumes it), never a
    global row number.
    """
    assert weights and all(w > 0 for w in weights.values())
    norm = 1
    for w in weights.values():
        norm *= w
    from pyspark.sql import Window

    hash_col = F.expr(sql_knuth_hash("doc_id"))
    w_rank = Window.partitionBy("lang").orderBy(
        hash_col.asc(), F.col("doc_id").asc())
    stride = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(norm // w))
          for k, w in weights.items()]
    ) if len(weights) > 1 else F.lit(norm // next(iter(weights.values())))
    out = df.filter(
        F.col("lang").isin(*weights.keys())
    ).select(
        F.col("doc_id"),
        F.col("lang"),
        F.row_number().over(w_rank).cast("long").alias("stratum_rank"),
    ).withColumn(
        "order_key",
        (F.col("stratum_rank") * stride).cast("long"),
    )
    return out


def exact_rank_buckets(df: DataFrame, value_col: str,
                       id_col: str) -> DataFrame:
    """Exact global-rank bucketing (deciles etc.) WITHOUT a global sort.

    A bare NTILE window has no partition key — one reducer sorts the
    whole corpus, the canonical scale-killer. Instead the global rank is
    decomposed: rank(row) = (# rows with a smaller value) + (row_number
    of the row within its value group, ordered by id). The first term
    comes from a value histogram — one hash aggregate bounded by the
    DISTINCT value domain, cumulated on a single small partition of
    value-counts (bounded by the domain, never the corpus) and broadcast
    back; the second is a window partitioned by value, which distributes.
    bucket = ((rank-1) * 10) div N + 1 — exact, deterministic,
    identical in any engine.
    """
    from pyspark.sql import Window

    counts = df.groupBy(value_col).agg(F.count("*").alias("_n"))
    w_vals = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, -1)
    cum = counts.select(
        value_col,
        F.coalesce(F.sum("_n").over(w_vals), F.lit(0)).alias("_before"),
    )
    total = counts.agg(F.sum("_n").cast("long").alias("_N"))
    w_in = Window.partitionBy(value_col).orderBy(id_col)
    return (
        df.select(id_col, value_col)
        .join(F.broadcast(cum), value_col)
        .withColumn("rank", (F.col("_before")
                             + F.row_number().over(w_in)).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            value_col,
            "rank",
            (F.expr("(rank - 1) * 10 div _N") + 1)
            .cast("int").alias("bucket"),
        )
    )


def importance_weights(docs_df: DataFrame, is_target,
                       n_buckets: int) -> DataFrame:
    """DSIR-style importance scores in whole bits (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").

    Every token hashes to one of ``n_buckets`` buckets (the feature
    space); the target distribution is the token mass of rows where
    ``is_target`` holds, the proposal is the whole corpus, and a
    document's score is sum over its tokens of the per-bucket
    log-likelihood ratio. Floats are un-gateable, so the engine scores
    in WHOLE bits with add-one smoothing:

        score = sum_tok [ flog2(t_cnt[b]+1) - flog2(a_cnt[b]+1) ]

    — the doc-independent normalizer n_toks*(log2 A - log2 T) is left
    to the caller (it shifts every document equally at fixed length and
    the raw n_toks ships alongside). High score = looks like the
    target; resampling by score is the caller's policy.

    Plan: one corpus scan aggregates BOTH distributions in a single
    map-side-combined groupBy on the bucket id (target mass as a
    conditional sum, no second pass); the <= n_buckets weight rows are
    lazily checkpointed and BROADCAST onto a second corpus scan for
    scoring, then one per-doc hash agg. No windows, no driver collect;
    the bucket table is fixed-size however large the corpus.
    ``n_buckets`` must divide 2^16 (the md5 two-byte bucket contract,
    `sketches._bucket`).
    """
    from geobuf_cpp_spark.operators.sketches import _bucket
    from geobuf_cpp_spark.operators.textstats import sql_flog2

    from ..plans.partitioning import spread

    toks = spread(
        docs_df.select(F.col("doc_id"), is_target.alias("_is_t"),
                       F.col("text"))
    ).select(
        "doc_id",
        F.col("_is_t").cast("long").alias("is_t"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tb = toks.withColumn("b", _bucket(F.col("tok"), 0, n_buckets))
    stats = tb.groupBy("b").agg(
        F.count("*").alias("a_cnt"),
        F.sum("is_t").alias("t_cnt"),
    )
    wts = stats.select(
        "b",
        (F.expr(sql_flog2("t_cnt + 1"))
         - F.expr(sql_flog2("a_cnt + 1"))).alias("wb"),
    )
    # no checkpoint on the 2^k-row weight table: the token stream under
    # both consumers shares the spread() exchange, the explicit
    # broadcast needs no size stats, and the lazy checkpoint's eager
    # planning cost measured SLOWER end-to-end (interleaved A/B:
    # 1.19 s vs 1.28 s with it)
    return (
        tb.join(F.broadcast(wts), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("wb").cast("long").alias("logratio_bits"),
        )
    )


def robots_filter(urls_df: DataFrame, rules_df: DataFrame) -> DataFrame:
    """Crawl-policy URL filter with robots.txt longest-prefix-match
    semantics: each url is judged by the LONGEST rule prefix of its
    host that path-prefix-matches it (an allow nested under a broader
    disallow wins exactly when it is longer — Google's documented rule);
    urls matching no rule default to allowed.

    ``urls_df``: (doc_id, host, path); ``rules_df``: (host, prefix,
    allow) with (host, prefix) unique. Plan: the rule table is a
    POLICY, bounded by hosts x rules-per-host, never by corpus size —
    so it broadcasts, the corpus never shuffles: one broadcast
    startswith join picks candidates, a doc-keyed max(struct(len,
    prefix, allow)) selects the winner map-side, and a second broadcast
    -able left join restores never-matched urls. Ties are impossible
    (equal-length distinct prefixes differ as strings; the struct
    order is total either way).

    Returns (doc_id, matched_prefix — '' when no rule fired, allowed).
    """
    cand = urls_df.join(
        F.broadcast(rules_df),
        (urls_df.host == rules_df.host)
        & urls_df.path.startswith(rules_df.prefix),
    ).select(
        "doc_id",
        F.struct(
            F.length("prefix").alias("l"),
            F.col("prefix").alias("p"),
            F.col("allow").alias("a"),
        ).alias("m"),
    )
    best = cand.groupBy("doc_id").agg(F.max("m").alias("m")).select(
        "doc_id",
        F.col("m.p").alias("matched_prefix"),
        F.col("m.a").alias("allowed"),
    )
    return urls_df.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("matched_prefix", F.lit("")).alias("matched_prefix"),
        F.coalesce("allowed", F.lit(1)).cast("int").alias("allowed"),
    )


def pps_systematic_sample(df: DataFrame, n: int, weight_col: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling — the
    deterministic mixture-builder's tool: pick ~n documents where a
    document's selection count is proportional to its weight (chars,
    tokens, quality mass), with ZERO randomness and exact integer
    arithmetic.

    Classic systematic PPS over the id-ordered weight line: with total
    weight W and selection step W/n, item i (cumulative range
    [c_i - w_i, c_i)) is selected once per multiple of W/n inside its
    range — multiplicity floor(c_i * n / W) - floor((c_i - w_i) * n / W),
    all BIGINT (no division by the rational step anywhere).

    The prefix sum is the interesting part at scale: a global window
    would serialize on one partition, so this runs the two-level scan —
    bucket ids by id div 256, per-bucket totals, ONE window over the
    bucket directory for bucket offsets, then the within-bucket running
    sum as a window PARTITIONed by bucket. Every corpus-sized stage is
    parallel; the directory window sees max_id / 256 rows. The offsets
    join is a plain equi-join on the bucket key (no
    forced broadcast; AQE picks hash vs merge by directory size).

    Returns (id, weight, mult) for items with mult >= 1; sum(mult) == n
    exactly when W divides the grid, and n or n+1-ish otherwise — the
    invariant sum(mult) == n holds whenever all weights < W/n (no item
    spans two grid points) and is pytest-checked for that regime.
    """
    from pyspark.sql import Window

    nn = int(n)
    w = (
        df.select(
            F.col("doc_id").alias("id"),
            F.col(weight_col).cast("long").alias("wt"),
        )
        .where(F.col("wt") > 0)
        .withColumn("bkt", F.expr("id div 256"))
    )
    btot = w.groupBy("bkt").agg(F.sum("wt").alias("bw"))
    # bounded directory: one window over <= max_id / 256 rows
    boff = btot.withColumn(
        "off",
        F.coalesce(
            F.sum("bw").over(
                Window.orderBy("bkt")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    tot = btot.agg(F.sum("bw").alias("W"))
    inner = Window.partitionBy("bkt").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0)
    cum = (
        w.join(boff.select("bkt", "off"), "bkt")
        .withColumn("c", F.col("off") + F.sum("wt").over(inner))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "mult",
            (F.expr(f"(c * {nn}) div W")
             - F.expr(f"((c - wt) * {nn}) div W")).cast("long"),
        )
        .where(F.col("mult") >= 1)
        .select(F.col("id").alias("doc_id"),
                F.col("wt").cast("long").alias("weight"), "mult")
    )


def temperature_weights(docs_df: DataFrame, scale: int) -> DataFrame:
    """Temperature-balanced mixture weights (alpha = 1/2): sampling
    weight proportional to sqrt(group size) — the standard fix for
    head-language/domain dominance in multilingual or multi-source
    training mixes (raw proportional sampling starves the tail;
    uniform over-trains it; sqrt is the canonical compromise, the
    alpha = 0.5 point of the temperature family).

    Exact integer parts: w_num = floor(sqrt(n * scale^2))
    = floor(scale * sqrt(n)) via the exact-isqrt SQL kernel
    (`operators/trajectory.sql_isqrt_exact` — a double seed pinned by
    two integer corrections, identical in Spark and DuckDB). The float
    normalization w_num / sum(w_num) stays with the caller, per the
    exact-parts discipline. One tiny group aggregate; the corpus pays
    one scan.

    Returns (group, n_docs, w_num) — w_num exact, n*scale^2 < 2^63
    bounds n < ~9.2e6 at the default scale; lower ``scale`` for larger
    group counts (the docstring bound is asserted).
    """
    from .trajectory import sql_isqrt_exact

    counts = docs_df.groupBy(F.col("source").alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs"))
    expr = sql_isqrt_exact(f"n_docs * {int(scale)} * {int(scale)}")
    return counts.select(
        F.col("grp").alias("source"), "n_docs",
        F.expr(expr).cast("long").alias("w_num"),
    )
