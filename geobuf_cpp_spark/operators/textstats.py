"""Text analysis operators — language-ID heuristic, quality scoring, token
counting, document fingerprinting.

Everything here stays JVM-side (pyspark.sql.functions only — no Python in
the hot path): at 100 TB these are full-corpus scans whose cost must be
whole-stage-codegen string ops, not Arrow round trips.

The arithmetic uses only engine-portable primitives (length/replace/substr/
md5/integer ops) so the same formulas serve as DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# occurrence count of a literal inside a string, portable formula:
#   (length(s) - length(replace(s, lit))) / length(lit)
def _occ(col, lit: str):
    return (F.length(col) - F.length(F.replace(col, F.lit(lit), F.lit("")))) / len(lit)


ENGLISH_STOPWORDS = [" the ", " a ", " of ", " and ", " to "]


def doc_stats(docs_df):
    """Per-document counts: chars, tokens, punctuation, stopword hits."""
    t = F.col("text")
    token_count = (
        F.length(F.trim(t)) - F.length(F.replace(F.trim(t), F.lit(" "), F.lit("")))
        + F.when(F.length(F.trim(t)) > 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    stop_hits = None
    for sw in ENGLISH_STOPWORDS:
        occ = _occ(t, sw)
        stop_hits = occ if stop_hits is None else stop_hits + occ
    return docs_df.select(
        F.col("doc_id"),
        F.length(t).cast("long").alias("n_chars_measured"),
        token_count.alias("n_tokens"),
        F.floor(_occ(t, ".")).cast("long").alias("n_periods"),
        F.floor(_occ(t, ",")).cast("long").alias("n_commas"),
        F.floor(stop_hits).cast("long").alias("n_stopword_hits"),
    )


def quality_score(docs_df):
    """Heuristic quality gate in the C4/Gopher style, integer-exact.

    keep = tokens in range AND mean token length in [2, 12] (x100 as an
    integer ratio to stay float-free for oracle parity).
    """
    stats = doc_stats(docs_df)
    # FLOOR before the cast: Spark's double->long cast truncates while
    # DuckDB's rounds — floor+cast is portable
    mean_tok_len_x100 = F.floor(
        (F.col("n_chars_measured") - (F.col("n_tokens") - 1))
        * 100
        / F.greatest(F.col("n_tokens"), F.lit(1))
    ).cast("long")
    return stats.select(
        "doc_id",
        "n_tokens",
        mean_tok_len_x100.alias("mean_token_len_x100"),
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 100_000)
            & (mean_tok_len_x100 >= 200)
            & (mean_tok_len_x100 <= 1200)
        ).cast("int").alias("keep"),  # int not bool: engines stringify
        # booleans differently (True vs true), ints hash identically
    )


def lang_signal(docs_df):
    """n-gram language-ID heuristic vs the labeled lang column.

    predicts 'en' when English stopword density clears a threshold —
    deterministic and portable; on synthetic word-salad corpora this is a
    plumbing check, on real text the stopword lists do the work.
    """
    t = F.col("text")
    stop_hits = None
    for sw in ENGLISH_STOPWORDS:
        occ = _occ(t, sw)
        stop_hits = occ if stop_hits is None else stop_hits + occ
    # same conditional token count as doc_stats (and the DuckDB oracle):
    # an empty/whitespace-only document has 0 tokens, not 1
    tokens = (
        F.length(F.trim(t)) - F.length(F.replace(F.trim(t), F.lit(" "), F.lit("")))
        + F.when(F.length(F.trim(t)) > 0, F.lit(1)).otherwise(F.lit(0))
    )
    return docs_df.select(
        F.col("doc_id"),
        F.col("lang"),
        F.floor(stop_hits).cast("long").alias("stop_hits"),
        F.floor(stop_hits * 1000 / tokens).cast("long").alias("stop_density_x1000"),
        (stop_hits * 1000 / tokens >= 30).cast("int").alias("pred_en"),
    )


# disjoint character classes -> every engine's alternation semantics
# (leftmost-first or leftmost-longest) produces identical token spans
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_counts(docs_df):
    """Whitespace tokens + BPE-ish regex pieces (letter runs / digit runs /
    single punctuation) — the pre-tokenizer split every BPE vocabulary
    starts from, as a JVM-side regexp_count (no Python)."""
    t = F.col("text")
    ws_tokens = (
        F.length(F.trim(t)) - F.length(F.replace(F.trim(t), F.lit(" "), F.lit("")))
        + F.when(F.length(F.trim(t)) > 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return docs_df.select(
        F.col("doc_id"),
        ws_tokens.alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(BPE_TOKEN_RE)).cast("long").alias("n_bpe_tokens"),
    )


def fingerprints(docs_df):
    """Stable document fingerprints: full-text md5 + prefix md5 (clusters
    shared boilerplate heads)."""
    t = F.col("text")
    return docs_df.select(
        F.col("doc_id"),
        F.md5(t.cast("binary")).alias("fp_full"),
        F.md5(F.substring(t, 1, 64).cast("binary")).alias("fp_prefix"),
        F.length(t).cast("long").alias("n_chars_measured"),
    )


def top_terms(docs_df):
    """Per-language top-k vocabulary terms by DOCUMENT frequency — the
    corpus-vocabulary analysis every tokenizer/mixture recipe starts from.

    All JVM: split -> explode -> DISTINCT (term counted once per doc) ->
    two-phase count -> per-language WindowGroupLimit top-k (map-side
    partial limit before the shuffle, same plan family as
    top_docs_per_lang). Ties break on the term's binary order, identical
    in Spark and DuckDB for the oracle.
    """
    from pyspark.sql import Window

    words = docs_df.select(
        "lang",
        F.col("doc_id").alias("_doc"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    doc_freq = (
        words.distinct()
        .groupBy("lang", "term")
        .agg(F.count("*").alias("doc_freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("doc_freq"), F.asc("term"))
    return (
        doc_freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "term", "doc_freq", "rn")
    )


def repetition_stats(docs_df):
    """Gopher-style repetition signals, integer-exact.

    Per document: total tokens, distinct tokens, duplicate tokens
    (n_tokens - n_distinct), and the count of the single most frequent
    token (the "top unigram mass" numerator; Rae et al. 2021 filter on
    its fraction). All counts are BIGINTs, so the oracle compare is
    drift-free; callers form ratios downstream.

    Plan: split -> explode -> (doc, token) count -> per-doc agg. Two
    shuffles, both map-side combinable; the exploded rows are a narrow
    (id, token) pair — at 100 TB this is the same shape as the tokenizer
    pass the corpus already pays.
    """
    toks = docs_df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        (F.sum("c") - F.count("*")).cast("long").alias("n_dup_tokens"),
        F.max("c").cast("long").alias("top_token_count"),
    )


def token_rarity(docs_df):
    """Unigram-LM quality proxy without float logs: per-document sum and
    min of CORPUS token frequencies.

    A true unigram log-probability needs ln(count/total) — libm drift
    across engines. The integer twin carries the same signal monotonely:
    docs of rare tokens get a small freq_sum / min_freq, boilerplate of
    stop-words gets a huge one. Downstream thresholds bucket on the
    exact integers.

    Plan: one corpus-wide token count (map-side combinable shuffle), then
    a frequency join back onto the exploded tokens. The vocabulary side
    of the join is language-sized (<< corpus) — Spark broadcasts it under
    AQE once its post-agg size is known, so the join-back is shuffle-free
    on the big side.
    """
    toks = docs_df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("corpus_freq"))
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("corpus_freq").cast("long").alias("freq_sum"),
            F.min("corpus_freq").cast("long").alias("min_freq"),
        )
    )


def term_cooccurrence(docs_df):
    """Document-level term-pair co-occurrence over the top-50
    vocabulary — the exact-integer numerator family of PMI / word
    association mining (pair_docs, docs_a, docs_b, n_docs per pair;
    PMI = log(pair_docs * n_docs / (docs_a * docs_b)) is left to the
    caller so no float log enters the gated output).

    Scale shape: the corpus-sized explode+distinct is computed ONCE and
    persisted — it feeds the vocabulary count, and both sides of the
    pair join (without the persist Catalyst would inline the lineage and
    re-scan the corpus four times). The big side is then filtered by a
    broadcast join against the vocabulary (<= 50 rows, built by
    the same map-side-limited top-k as ``top_terms``), so the incidence
    list entering the doc_id self-join carries at most 50 rows
    per document. The self-join shuffles once on doc_id and the
    ``a.term < b.term`` predicate keeps each unordered pair once; pair
    counts then two-phase aggregate on a key space bounded by
    50^2/2, independent of corpus size. The persisted incidence
    lives until session end or ``spark.catalog.clearCache()`` (same
    caller contract as the dedup/ann persists).
    """
    words = docs_df.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term") != "").distinct().persist()
    doc_freq = words.groupBy("term").agg(F.count("*").alias("doc_freq"))
    # top-k as orderBy+limit -> TakeOrderedAndProject (per-partition
    # local k, driver merge), NOT a row_number over an unpartitioned
    # window, which would funnel the whole vocabulary through one task
    vocab = (
        doc_freq.orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(50)
        .select("term", "doc_freq")
    )
    inc = words.join(F.broadcast(vocab), "term").select(
        "doc_id", "term", "doc_freq")
    a, b = inc.alias("a"), inc.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.term") < F.col("b.term")))
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
        )
        .agg(
            F.count("*").cast("long").alias("pair_docs"),
            F.first(F.col("a.doc_freq")).cast("long").alias("docs_a"),
            F.first(F.col("b.doc_freq")).cast("long").alias("docs_b"),
        )
    )
    n_docs = docs_df.select(F.countDistinct("doc_id").alias("n_docs"))
    return pairs.crossJoin(F.broadcast(n_docs))


def tfidf_topk(docs_df):
    """Per-document top-k salient terms by exact-integer inverse document
    frequency: score = (tf * scale) div df.

    This is its own salience ranking, in the tf-idf FAMILY but not
    order-equivalent to the textbook tf * ln(N/df) (dropping N and
    trading the log for a linear inverse can reorder terms whose tf
    differs). What it buys: a deterministic BIGINT score both engines
    compute identically — no transcendental floats to drift between
    JVM and DuckDB — bounded by tf * scale < 2^63 for any real document
    at any corpus size, and still monotone in tf and anti-monotone in
    df like any tf-idf weighting.

    Plan shape: token explode -> (doc, term) hash agg -> term-keyed df
    agg -> one term equi-join -> WindowGroupLimit top-k per document
    (map-side partial prune, so shuffle volume is k rows per document).
    """
    from pyspark.sql import Window

    toks = docs_df.select(
        F.col("doc_id"), F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score", F.expr(f"(tf * {1 << 20}) div df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def sql_flog2(v: str) -> str:
    """floor(log2(v)) for BIGINT ``v >= 1`` as SQL text.

    Constant-threshold CASE chain (one branch per octave), the same
    portability discipline as ``qsketch.sql_qbucket``: no float log
    (libm results differ across engines), no variable shifts — the text
    runs verbatim on Spark and DuckDB.
    """
    whens = [f"WHEN ({v}) < {1 << (e + 1)} THEN {e}" for e in range(63)]
    return ("(CASE WHEN (" + v + ") < 1 THEN NULL "
            + " ".join(whens) + " ELSE NULL END)")


def lm_surprisal(docs_df):
    """Per-document bigram-LM surprisal in whole bits — the exact-integer
    form of CCNet's KenLM perplexity filter.

    A document's quality signal is how SURPRISING its token stream is
    under a language model trained on the corpus itself. With a bigram
    model, the surprisal of position i is -log2 P(w_i | w_{i-1}) =
    log2 c1(w_{i-1}) - log2 c2(w_{i-1}, w_i), where c2 counts the bigram
    corpus-wide and c1 counts the prefix (c1 = sum of c2 over the
    continuations, so every probability is well-formed). Floats make
    that un-gateable, so the engine scores in WHOLE bits: flog2(c1) -
    flog2(c2) per position, a deterministic integer in [0, 63] —
    repetitive boilerplate scores near 0 bits/token, rare junk scores
    high. Output: (doc_id, n_bigrams, surprisal_bits); docs with < 2
    tokens have no bigrams and no row, same as the oracle.

    Plan: bigram explode -> per-(doc, bigram) pre-agg (bounds the join
    input by DISTINCT bigrams per doc) -> global bigram counts (one hash
    agg) with the prefix count as a window sum over w1 -> one equi-join
    back on (w1, w2) -> per-doc sum. Hot bigrams ("of the") are exactly
    the AQE skew-join shape; everything is JVM expressions.
    """
    from pyspark.sql import Window

    toks = "filter(split(trim(text), ' '), t -> t <> '')"
    from ..plans.partitioning import spread

    pairs = spread(docs_df.select("doc_id", "text")).select(
        "doc_id",
        F.expr(
            f"explode(zip_with("
            f"slice({toks}, 1, greatest(size({toks}) - 1, 0)), "
            f"slice({toks}, 2, greatest(size({toks}) - 1, 0)), "
            "(a, b) -> struct(a AS w1, b AS w2)))"
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    # NOTE: the per-(doc, bigram) pre-agg feeds both the global LM
    # counts and the final join, but ReuseExchange already shares its
    # shuffle — an explicit localCheckpoint was measured SLOWER (block
    # materialization beats the reused exchange read it replaces).
    d = pairs.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    g = d.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    gw = g.withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
    bits = F.expr(sql_flog2("c1")) - F.expr(sql_flog2("c2"))
    return (
        d.join(gw, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * bits).cast("long").alias("surprisal_bits"),
        )
    )


def ngram_repetition(docs_df):
    """Gopher-style duplicate n-gram statistics, exact integers.

    The Gopher/MassiveText quality rules drop documents whose n-grams
    repeat too much (the "duplicate n-gram fraction" family). Per
    (doc, n) for each requested n: total n-gram occurrences, occurrences
    belonging to a WITHIN-DOC duplicated gram (count >= 2), and how many
    distinct grams are duplicated. The caller derives the Gopher
    fraction as dup_occurrences / n_grams; docs with fewer than n tokens
    emit no row for that n (same as the oracle).

    Plan: the grouping key is (doc, gram) — entirely WITHIN one row's
    token array — so no shuffle is fundamentally required (guide-§2.4
    reasoning: the cheapest plan shuffles zero bytes). Each row sorts
    its gram list and walks equal-runs once with a single ``aggregate``
    higher-order fold (run-length counters), then ``inline``s one
    struct per requested size: zero exchanges, zero explode fan-out,
    whole plan is one narrow projection per scan task. The previous
    shape (gram explode -> (doc, gram) hash agg -> per-doc re-agg)
    paid two shuffles of every gram occurrence for counts the row
    already owned; at sf0.1 that was 2.5 s vs ~0.4 s for this plan,
    and at 100 TB it is the difference between a map-only pass and
    shuffling the corpus' full gram stream twice.
    """
    toks = "filter(split(trim(text), ' '), t -> t <> '')"

    def stats(n: int) -> str:
        grams = (
            f"array_sort(transform(sequence(1, size(t) - {n} + 1), "
            f"i -> array_join(slice(t, i, {n}), ' ')))"
        )
        # one fold over the sorted grams: tot = occurrences, and per
        # equal-run flush, runs of length >= 2 feed dupocc/dupdist.
        return (
            "aggregate("
            f"{grams}, "
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, "
            "'dupocc', 0L, 'dupdist', 0L, 'tot', 0L), "
            "(a, x) -> IF(a.prev IS NOT NULL AND x = a.prev, "
            "named_struct('prev', x, 'run', a.run + 1L, "
            "'dupocc', a.dupocc, 'dupdist', a.dupdist, 'tot', a.tot + 1L), "
            "named_struct('prev', x, 'run', 1L, "
            "'dupocc', a.dupocc + IF(a.run >= 2L, a.run, 0L), "
            "'dupdist', a.dupdist + IF(a.run >= 2L, 1L, 0L), "
            "'tot', a.tot + 1L)), "
            "a -> named_struct("
            "'n_grams', a.tot, "
            "'dup_occurrences', a.dupocc + IF(a.run >= 2L, a.run, 0L), "
            "'dup_distinct', a.dupdist + IF(a.run >= 2L, 1L, 0L)))"
        )

    branches = ", ".join(
        f"IF(size(t) >= {int(n)}, "
        f"named_struct('n', CAST({int(n)} AS BIGINT), 's', {stats(int(n))}), "
        "CAST(NULL AS STRUCT<n: BIGINT, s: STRUCT<n_grams: BIGINT, "
        "dup_occurrences: BIGINT, dup_distinct: BIGINT>>))"
        for n in (2, 3)
    )
    from ..plans.partitioning import spread

    return (
        spread(docs_df.select("doc_id",
                              F.expr(toks).alias("t")))
        .select(
            "doc_id",
            F.expr(f"inline(filter(array({branches}), x -> x IS NOT NULL))"),
        )
        .select("doc_id", "n", "s.n_grams", "s.dup_occurrences",
                "s.dup_distinct")
    )


def source_quality_ci(docs_df):
    """Per-source quality keep-rate with a Wilson-score LOWER bound in
    exact integer parts — the statistic a curation pipeline actually
    ranks sources by (a 3/3 source must not outrank a 9500/10000 one,
    which the raw rate does).

    Wilson at z = 2 (z^2 = 4 keeps everything rational):
        lb = [ (x + 2) - 2*sqrt( (x*(n-x) + n) / n ) ] / (n + 4)
    Emitted as lb_num = (x+2)*scale - 2*isqrt( scale^2*(x*(n-x)+n)
    div n ) over lb_den = (n+4)*scale: one floor-division and one exact
    integer sqrt (operators/trajectory.sql_isqrt_exact), every operand
    positive, so the floor quotient == DuckDB `//` and the parts
    hash-gate bit-for-bit; the final float division stays with the
    caller (the tfidf_topk discipline). The product scale^2 * (x*(n-x)+n) is
    computed in DECIMAL(38,0) — as BIGINT it would overflow at
    n ~ 6.1e5 docs/source for scale=1e4 — so only the POST-division
    value must fit in 64 bits: exact for n <= ~3e11 docs per source at
    the default scale. Past that the quotient's cast to BIGINT raises
    CAST_OVERFLOW (ANSI mode, set by ``session.get_spark``); Spark's
    DECIMAL ``div`` would instead wrap silently, so the floor division
    is written as an exact decimal division of num - num % n.

    Plan: the doc-keyed keep flags join their source labels, then ONE
    source-keyed aggregate; the CI arithmetic is a scalar projection on
    the aggregated row — sources, not documents, bound the output.
    """
    q = quality_score(docs_df)
    src = docs_df.select("doc_id", "source")
    g = (
        q.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("keep").cast("long").alias("n_keep"))
    )
    return _wilson_parts(g, "source", 10_000)


def _wilson_parts(g, source_col: str, scale: int):
    """The Wilson lower-bound parts of ``source_quality_ci`` from the
    per-source (n_docs, n_keep) counts."""
    from geobuf_cpp_spark.operators.trajectory import sql_isqrt_exact

    g = g.withColumn("_num", F.expr(
        f"(cast({scale} as decimal(38,0)) * {scale}) * "
        f"(cast(n_keep as decimal(38,0)) * (n_docs - n_keep) + n_docs)"))
    root = sql_isqrt_exact(
        "cast((_num - _num % n_docs) / n_docs as bigint)")
    return g.selectExpr(
        source_col, "n_docs", "n_keep",
        f"cast((n_keep + 2) * {scale} - 2 * {root} as bigint) AS lb_num",
        f"cast((n_docs + 4) * cast({scale} as bigint) as bigint) AS lb_den",
    )


def inverted_index(docs_df, min_df: int):
    """Inverted-index materialization: term -> document frequency +
    the full sorted posting list — the retrieval-side structure a
    web-corpus search/RAG stack builds from the same token stream the
    dedup and tf-idf operators consume.

    Postings are emitted as a comma-joined string of ascending doc_ids
    (deterministic, engine-portable — array hashing differs across
    engines, digit strings do not). ``min_df`` prunes hapax terms,
    which at corpus scale dominate the vocabulary (Heaps' law) while
    serving no retrieval purpose; set 1 to keep everything.

    Plan: explode -> per-doc distinct (map-side combinable hash agg) ->
    term hash agg with collect_list, sort_array before joining so the
    string never depends on arrival order. One shuffle keyed by term;
    a posting list's size is bounded by df — the one genuinely skewed
    term class ("the") is exactly what ``min_df`` does NOT remove, so
    at 100 TB the stop-term postings are the known hot keys: cap them
    upstream (textstats.top_terms / a df ceiling) or let AQE split the
    build; the structure itself stays a single hash aggregation.
    """
    toks = docs_df.select(
        F.col("doc_id"), F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    posting = toks.distinct()
    return (
        posting.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col("doc_id"))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= int(min_df))
    )


def token_overlap_topk(docs_df, n_queries: int):
    """Lexical retrieval ranking: for each of the first ``n_queries``
    documents (as queries), rank all OTHER documents by the count of
    shared DISTINCT tokens — the sparse/lexical half of a hybrid
    retrieval stack (the dense half is ann.cosine_topk; rrf_fuse
    combines them).

    All-JVM inverted-index plan: distinct (doc, token) pairs once, the
    query slice re-joined through the token key (the same structure
    ngram_jaccard builds over shingles), one count agg, one per-query
    window. Overlap counts are exact ints; ties break on doc id, so
    the ranking is deterministic in any engine. Documents sharing no
    token with a query are absent (score 0) — RRF treats absence as 0
    contribution, which is the standard contract.

    Returns (query_id, rank, vec_id) — vec_id named to match the
    dense-ranking schema for fusion.
    """
    from pyspark.sql import Window

    ds = (
        docs_df.select(
            F.col("doc_id").alias("d"),
            F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    qs = ds.filter(F.col("d") < n_queries).select(
        F.col("d").alias("query_id"), "tok")
    overlap = (
        qs.join(ds, "tok")
        .filter(F.col("d") != F.col("query_id"))
        .groupBy("query_id", F.col("d").alias("vec_id"))
        .agg(F.count("*").alias("shared"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("shared"), F.asc("vec_id"))
    return (
        overlap.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "vec_id")
    )


def bpe_pair_counts(docs_df, top_n: int):
    """The distributable core of BPE tokenizer training: corpus-wide
    adjacent-symbol pair frequencies (the statistic each BPE merge
    round maximizes). At 100 TB this count IS tokenizer training's
    bottleneck — the merge selection on top of it touches only the
    bounded pair table.

    First-iteration form (symbols = characters inside
    whitespace-delimited words, no cross-word pairs — the standard BPE
    word-boundary constraint): every word occurrence contributes its
    length-1 adjacent pairs, so frequent words weight their pairs
    naturally. One explode chain (word -> position) evaluated JVM-side
    with substring, one hash agg keyed by the 2-char pair — map-side
    combinable, shuffle bounded by the pair vocabulary (<= alphabet^2),
    never the corpus.

    Returns the ``top_n`` pairs as (rank, pair, n) with ties broken
    lexicographically — deterministic in any engine.
    """
    from pyspark.sql import Window

    words = docs_df.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        "w",
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    counts = pairs.groupBy("pair").agg(
        F.count("*").cast("long").alias("n"))
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_n))
        .select(F.col("rank").cast("int").alias("rank"), "pair", "n")
    )
