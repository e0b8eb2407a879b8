"""Distributed frequency sketches for corpus-scale token statistics.

Three families, all pure DataFrame aggregations with exact-integer,
hash-gateable outputs: count-min (frequency), k-minimum-values
(distinct count), and Bloom (membership).

Count-min sketch, built the Spark-native way: the sketch IS a DataFrame
aggregation. Every (depth x width) counter is the exact integer sum of
tokens hashing to that (row, bucket), so the sketch build is one
map-side-combined shuffle over depth*width keys (4096 here) regardless of
corpus size — the update-then-merge dance of imperative CMS libraries
collapses into groupBy().count(), and sketch MERGE across corpus shards
is literally the same aggregation run over their union.

Cross-engine hash contract: bucket = md5_low64(token|row) % width, where
md5_low64 is the little-endian uint64 of md5 digest bytes 8..16 — the
value DuckDB exposes as ``md5_number_lower`` (the same anchor the SimHash
oracle uses, `operators/dedup.py:word_hash_md5_low`). Because width
divides 2^16, only the low two digest bytes matter, so the Spark side
computes it JVM-only (substr on the md5 hex + conv), keeping the whole
build inside whole-stage codegen: no Python, no UDF.

Counts are exact sums -> the correctness gate hash-matches the full
counter matrix against DuckDB computing the identical buckets, and the
point ESTIMATES hash-gate too (min over addressed counters is a
deterministic function of the matrix). The upper-bound property
(estimate >= true count) is the part that lives in pytest, because it
is an inequality against ground truth, not an identity between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, Window
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 1024  # must divide 2^16 (bucket uses the low two md5 bytes)
KMV_K = 16  # small enough that the gate corpus (31-token vocab at
            # sf0.01) exercises the estimator branch, not just the
            # exact-count fallback


def md5_low64(col: Column) -> Column:
    """Full 64-bit DuckDB ``md5_number_lower`` as ``decimal(20,0)``, JVM-only.

    The value is the little-endian uint64 of md5 digest bytes 8..15, i.e.
    hex byte pairs at positions 31,29,..,17 read high-to-low. ``conv``
    parses the reversed hex; decimal(20,0) holds the full unsigned range
    (a bigint would flip sign above 2^63 and corrupt the ordering KMV
    needs). Verified bit-exact against DuckDB on fixture strings.
    """
    h = F.md5(col.cast("binary"))
    rev = F.concat(*[F.substring(h, p, 2) for p in (31, 29, 27, 25, 23, 21, 19, 17)])
    return F.conv(rev, 16, 10).cast("decimal(20,0)")


def _bucket(tok: Column, row: int, width: int) -> Column:
    """md5_low64(tok|row) % width, JVM-side.

    md5 hex chars 17..20 are digest bytes 8 and 9 — the low two bytes of
    the little-endian uint64 — so for width | 2^16 the full 64-bit value
    mod width equals (byte8 + 256*byte9) mod width.
    """
    h = F.md5(F.concat(tok, F.lit(f"|{row}")).cast("binary"))
    lo = F.conv(F.substring(h, 17, 2), 16, 10).cast("int")
    hi = F.conv(F.substring(h, 19, 2), 16, 10).cast("int")
    return (lo + hi * 256) % width


def _tokens(docs_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., tok): one row per non-empty space-separated token of
    ``text``, carrying the grouping columns ``keys`` of its document."""
    # spread before the explode: every sketch pays md5/conv/regex per
    # TOKEN map-side, so a single-split corpus scan would serialize the
    # whole build on one core (no-op once scan splits >= parallelism)
    from ..plans.partitioning import spread

    return (
        spread(docs_df.select(*keys, "text")).select(
            *keys, F.explode(F.split(F.col("text"), " ")).alias("tok")
        ).filter(F.col("tok") != "")
    )


def count_min_sketch(docs_df: DataFrame) -> DataFrame:
    """Build the CMS counter matrix: (sketch_row, bucket, cnt).

    One explode + one fan-out of ``CMS_DEPTH`` (row, bucket) pairs per token
    + one groupBy on at most depth*width keys. The partial aggregation
    happens map-side, so the exchange carries <= depth*width rows per
    input partition no matter the corpus size.
    """
    assert (1 << 16) % CMS_WIDTH == 0, "width must divide 2^16"
    toks = _tokens(docs_df)
    pairs = F.array(*[
        F.struct(
            F.lit(r).alias("sketch_row"),
            _bucket(F.col("tok"), r, CMS_WIDTH).alias("bucket"),
        )
        for r in range(CMS_DEPTH)
    ])
    return (
        toks.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.sketch_row").alias("sketch_row"),
            F.col("p.bucket").alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(sketch_df: DataFrame, queries_df: DataFrame) -> DataFrame:
    """Point-query the sketch for each term: min over rows of the
    addressed counter (the CMS upper-bound estimate).

    The sketch side is <= depth*width rows -> broadcast join; terms
    never shuffle.
    """
    pairs = F.array(*[
        F.struct(
            F.lit(r).alias("sketch_row"),
            _bucket(F.col("term"), r, CMS_WIDTH).alias("bucket"),
        )
        for r in range(CMS_DEPTH)
    ])
    addressed = queries_df.select(
        "term", F.explode(pairs).alias("p")
    ).select("term", "p.sketch_row", "p.bucket")
    return (
        addressed.join(
            F.broadcast(sketch_df), ["sketch_row", "bucket"], "left"
        )
        .fillna(0, subset=["cnt"])
        .groupBy("term")
        .agg(F.min("cnt").alias("est"))
    )


def kmv_sketch(docs_df: DataFrame) -> DataFrame:
    """K-minimum-values distinct-count sketch: the ``KMV_K`` smallest uint64
    token hashes, as (rank, hash_val) with rank 1 = global minimum.

    Spark-native shape: explode -> map-side-deduped DISTINCT on the
    vocabulary-sized hash set -> global bottom-k, which Catalyst plans as
    TakeOrderedAndProject (each partition keeps only its local k, the
    driver merges k*partitions rows) — no full sort, no corpus-sized
    shuffle. Merging sketches across corpus shards = union + bottom-k
    again, the same plan.

    Deterministic function of the data -> the whole sketch hash-gates
    against DuckDB computing identical ``md5_number_lower`` values.
    """
    toks = _tokens(docs_df)
    hashed = toks.select(md5_low64(F.col("tok")).alias("hash_val")).distinct()
    bottom = hashed.orderBy("hash_val").limit(KMV_K)
    w = Window.orderBy("hash_val")
    return bottom.select(
        F.row_number().over(w).cast("int").alias("rank"), "hash_val"
    )


def kmv_distinct(sketch: DataFrame) -> DataFrame:
    """KMV distinct-token estimate as one exact-integer row, from a
    ``kmv_sketch`` (built once, possibly checkpointed, and shared across
    consumers instead of re-scanning the corpus).

    est = (k-1) * 2^64 div h_k (the classic KMV estimator with the
    division floored, so both engines produce the identical integer);
    when the vocabulary has fewer than ``KMV_K`` distinct hashes the sketch
    IS the vocabulary and the estimate is the exact count.
    """
    num = (KMV_K - 1) << 64
    return sketch.agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max("hash_val").alias("kth_hash"),
    ).select(
        "n_sketch",
        "kth_hash",
        F.when(
            F.col("n_sketch") < KMV_K, F.col("n_sketch")
        ).otherwise(
            F.expr(f"CAST({num} AS DECIMAL(38,0)) div kth_hash")
        ).cast("long").alias("est_distinct"),
    )


BLOOM_M = 1 << 16   # bits; must divide 2^16 so the 2-hex-byte bucket
                    # arithmetic is the full md5_low64 mod m
BLOOM_H = 3         # hash functions


def bloom_build(docs_df: DataFrame) -> DataFrame:
    """Bloom filter over the corpus vocabulary, as the sorted table of
    set bit positions (one row per set bit).

    Same Spark-native collapse as the CMS build: the imperative
    set-bit-then-merge dance becomes explode -> h bucket exprs ->
    DISTINCT, a single map-side-deduped exchange bounded by m rows.
    Filter union across corpus shards is the same DISTINCT over the
    union. Deterministic -> the whole bit table hash-gates.
    """
    assert (1 << 16) % BLOOM_M == 0, "m must divide 2^16"
    toks = _tokens(docs_df)
    bits = F.array(*[
        _bucket(F.col("tok"), r, BLOOM_M) for r in range(BLOOM_H)
    ])
    return (
        toks.select(F.explode(bits).alias("bit"))
        .distinct()
        .select(F.col("bit").cast("int").alias("bit"))
    )


def bloom_probe(bloom_df: DataFrame, probe_df: DataFrame) -> DataFrame:
    """Membership probe: maybe_present = all h addressed bits set.

    The filter is <= m rows -> broadcast; each probe term left-joins its
    h addressed bits and counts hits, so the probe side never shuffles
    its payload. False positives are possible by construction (and
    deterministic, so the gate still hash-matches); false negatives are
    not — callers use this as the cheap prefilter before an exact
    anti-join, e.g. decontamination at 100 TB where the held-out set's
    bit table is kilobytes.
    """
    bits = F.array(*[
        _bucket(F.col("term"), r, BLOOM_M) for r in range(BLOOM_H)
    ])
    addressed = probe_df.select(
        "term", F.explode(bits).alias("bit")
    )
    marked = addressed.join(
        F.broadcast(bloom_df.withColumn("_set", F.lit(1))), "bit", "left"
    )
    return (
        marked.groupBy("term")
        .agg((F.sum(F.coalesce("_set", F.lit(0))) == BLOOM_H).alias("maybe_present"))
    )


def kmv_sketch_grouped(docs_df: DataFrame, group_col: str = "lang",
                       k: int = KMV_K) -> DataFrame:
    """Per-group KMV sketches: (group, rank, hash_val) with the k
    smallest distinct token hashes of EACH group — the shuffle-bounded
    way to estimate per-group cardinalities (each group contributes at
    most k rows past its distinct, however large the group).

    Plans as a map-side-deduped distinct on (group, hash) followed by a
    per-group WindowGroupLimit (partitioned window -> map-side partial
    limit before the shuffle; no global ordering anywhere).
    """
    hashed = _tokens(docs_df, group_col).select(
        group_col, md5_low64(F.col("tok")).alias("hash_val")).distinct()
    w = Window.partitionBy(group_col).orderBy("hash_val")
    return (
        hashed.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(group_col, "rank", "hash_val")
    )


def kmv_overlap(docs_df: DataFrame, k: int) -> DataFrame:
    """Theta-sketch-style pairwise corpus overlap from per-group KMV
    sketches — "how much does source A's vocabulary overlap B's?"
    answered without ever joining the corpora.

    For each group pair (a < b): the union sketch is the k smallest
    distinct hashes of sketch(A) UNION sketch(B) (a valid KMV of
    A UNION B, the classic mergeability property); theta is its kth
    value and ``n_common`` counts union-sketch members present in BOTH
    input sketches (the theta-sketch intersection count). All exact
    integers — the estimates |A UNION B| ~ (k-1)*2^64/theta and
    J(A,B) ~ n_common/k_union stay with the caller, the same division
    discipline as `kmv_distinct`.

    Scale shape: ONE corpus scan builds all group sketches (map-side
    -deduped distinct + per-group WindowGroupLimit); everything after
    operates on <= k rows per group — the pair fan-out is bounded by
    (groups^2)/2 * 2k rows however large the corpus. The pair list
    itself is a broadcast inequality pairing over the bounded group
    list (declared BNLJ, same as the kNN serving shape).
    """
    # consumed three times (groups, ra, rb) with DIFFERENT column
    # pruning, which defeats ReuseExchange
    sk = kmv_sketch_grouped(docs_df, "source", k).select(
        F.col("source").alias("grp"), "hash_val"
    ).localCheckpoint(eager=False)
    groups = sk.select("grp").distinct()
    pairs = groups.select(F.col("grp").alias("grp_a")).join(
        F.broadcast(groups.select(F.col("grp").alias("grp_b"))),
        F.col("grp_a") < F.col("grp_b"),
    )
    ra = pairs.join(sk.withColumnRenamed("grp", "grp_a"), "grp_a").select(
        "grp_a", "grp_b", "hash_val",
        F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    rb = pairs.join(sk.withColumnRenamed("grp", "grp_b"), "grp_b").select(
        "grp_a", "grp_b", "hash_val",
        F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    u = (
        ra.unionByName(rb)
        .groupBy("grp_a", "grp_b", "hash_val")
        .agg(F.max("ia").alias("in_a"), F.max("ib").alias("in_b"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hash_val")
    top = u.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return (
        top.groupBy("grp_a", "grp_b")
        .agg(
            F.count("*").cast("long").alias("k_union"),
            F.max("hash_val").alias("theta"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long")
            .alias("n_common"),
        )
        .select(
            F.col("grp_a").alias("source_a"),
            F.col("grp_b").alias("source_b"),
            "k_union", "theta", "n_common",
        )
    )


HLL_B = 8                      # 2^8 = 256 registers


def sql_hll_rho(hex_expr: str) -> str:
    """rho SQL over a lowercase md5 HEX column — one shared text
    executed verbatim by Spark and DuckDB.

    The md5-low-64 contract (`md5_low64`) reads digest bytes 8..15
    little-endian; the HLL split is bucket = byte 8 (hex pair 17) and
    w = bytes 9..15 (hex pairs 31,29,..,19 high-to-low). rho =
    57 - bitlength(w) computed on the HEX STRING: strip leading zero
    hex chars (regexp_replace — portable, unlike ltrim whose argument
    order differs between engines), then 4 bits per remaining char plus
    a 4-way CASE for the leading char — pure string/int ops, no decimal
    arithmetic (a decimal binary-search cascade cost ~4s at sf0.1).
    The BUCKET stays engine-idiomatic (Spark ``conv`` of hex pair 17;
    DuckDB ``md5_number_lower % 256`` — equal by the byte-8 contract).
    """
    whex = ("concat(" + ", ".join(
        f"substring({hex_expr}, {pos}, 2)"
        for pos in (31, 29, 27, 25, 23, 21, 19)) + ")")
    stripped = f"regexp_replace({whex}, '^0+', '')"
    lead = f"substring({stripped}, 1, 1)"
    lead_bits = (
        f"(CASE WHEN {lead} = '1' THEN 1 "
        f"WHEN {lead} IN ('2', '3') THEN 2 "
        f"WHEN {lead} IN ('4', '5', '6', '7') THEN 3 ELSE 4 END)"
    )
    bitlen = (f"(CASE WHEN length({stripped}) = 0 THEN 0 "
              f"ELSE (length({stripped}) - 1) * 4 + {lead_bits} END)")
    return f"CAST(57 - {bitlen} AS INT)"


def hll_registers(docs_df: DataFrame) -> DataFrame:
    """HyperLogLog register table over the corpus token stream.

    The fourth sketch family: bucket = digest byte 8 of the md5-low-64
    contract, register = max over tokens of rho(w) where w is the
    remaining 56 bits and rho = 57 - bitlength(w). All exact integers
    via hex-string arithmetic (`sql_hll_parts` — no float log, no
    decimal cascade), so the full register table hash-gates against
    DuckDB recomputing it from the same md5 hex. max() is idempotent:
    no distinct needed, and shard MERGE is the same groupBy().max()
    over a union. The float harmonic-mean ESTIMATE stays with the
    caller — registers are the portable artifact (exactly how HLLs
    ship between systems).
    """
    return _hll(docs_df)


def hll_registers_grouped(docs_df: DataFrame) -> DataFrame:
    """Per-group HLL register tables — (grp, bucket, register), one per
    ``lang``.

    The grouped sibling of ``hll_registers`` (as ``kmv_sketch_grouped``
    is to ``kmv_sketch``): one 256-register sketch per group from a
    single corpus scan, merging across shards/groups by the same
    idempotent max. The per-language distinct-token dashboard primitive:
    at 100 TB the shuffle is (n_groups x 256) rows regardless of corpus
    size.
    """
    return _hll(docs_df.withColumnRenamed("lang", "grp"), "grp")


def _hll(docs_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., bucket, register): the HLL registers of each group of
    ``keys``; with no key, of the whole corpus."""
    assert HLL_B == 8, "bucket split is the fixed byte-8 contract"
    bucket = "CAST(conv(substring(h, 17, 2), 16, 10) AS INT)"
    rho = sql_hll_rho("h")
    return (
        _tokens(docs_df, *keys)
        .select(*keys, F.md5(F.col("tok").cast("binary")).alias("h"))
        .selectExpr(*keys, f"{bucket} AS bucket", f"{rho} AS rho")
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").cast("int").alias("register"))
    )


def hll_estimate_parts(registers_df: DataFrame) -> DataFrame:
    """The HLL harmonic-mean estimate in EXACT integer parts.

    The raw estimate is E = alpha_m * m^2 / sum_j 2^(-M[j]); the sum of
    dyadic rationals scaled by 2^57 (register values are 0..57, so
    every term 2^(57 - M[j]) is a non-negative BIGINT) is an exact
    integer, summed in decimal(38,0) since 256 * 2^57 = 2^65 overflows
    BIGINT, and emitted as its digit string. Output is ONE row
    (m, zero_registers, den_scaled):

        E_raw = alpha_m * m^2 * 2^57 / den_scaled

    with alpha_256 = 0.7213/(1 + 1.079/m), plus Flajolet's small-range
    correction E = m * ln(m / zero_registers) when E_raw <= 2.5m — the
    one float division/log stays with the caller
    (``hll_estimate_value``), same discipline as tfidf_topk: everything
    the engines must AGREE on is integer-exact and oracle-checkable.
    Buckets absent from ``registers_df`` are register-0 (2^57 terms),
    so merged-shard parts equal whole-corpus parts by max-idempotence.
    """
    m = 1 << HLL_B
    two57 = 1 << 57
    agg = registers_df.agg(
        F.count("*").cast("int").alias("_present"),
        F.sum(F.expr(
            "cast(shiftleft(cast(1 as bigint), 57 - register) "
            "as decimal(38,0))")).alias("_den_present"),
    )
    return agg.select(
        F.lit(m).cast("int").alias("m"),
        (F.lit(m) - F.col("_present")).cast("int").alias("zero_registers"),
        # emitted as the digit STRING of the exact integer: DECIMAL(38,0)
        # survives Spark's toPandas but DuckDB's fetchdf narrows it to
        # float64 (2^65 > 2^53 loses digits) — the string is the
        # lossless cross-engine wire form
        F.expr(
            f"cast(cast(coalesce(_den_present, cast(0 as decimal(38,0))) + "
            f"cast({m} - _present as decimal(38,0)) * "
            f"cast({two57} as decimal(38,0)) as decimal(38,0)) as string)"
        ).alias("den_scaled"),
    )


def hll_estimate_value(m: int, zero_registers: int, den_scaled) -> float:
    """Resolve the exact integer parts into the float cardinality
    estimate (driver-side, one division — see hll_estimate_parts)."""
    import math

    alpha = 0.7213 / (1.0 + 1.079 / m)
    e_raw = alpha * m * m * float(1 << 57) / float(den_scaled)
    if e_raw <= 2.5 * m and zero_registers > 0:
        return m * math.log(m / zero_registers)
    return e_raw


AMS_ROWS = 9   # odd, so the median-of-squares is a single counter
               # (must stay <= 16: signs are bits of the low-16 hash)


def _low16(tok: Column) -> Column:
    """Low 16 bits of md5_low64 (digest bytes 8 and 9) as a plain INT —
    ONE md5 per token feeds every AMS sign bit (same byte-8 contract as
    ``_bucket``)."""
    h = F.md5(tok.cast("binary"))
    lo = F.conv(F.substring(h, 17, 2), 16, 10).cast("int")
    hi = F.conv(F.substring(h, 19, 2), 16, 10).cast("int")
    return lo + hi * 256


def _ams_sign_sums(rows: int) -> list[Column]:
    """One conditional sum per sign bit over the shared ``h16`` column."""
    assert rows <= 16, "AMS signs draw from the low 16 hash bits"
    return [
        F.sum(
            F.when(F.expr(f"shiftright(h16, {r}) % 2") == 0, 1).otherwise(-1)
        ).cast("long").alias(f"c{r}")
        for r in range(rows)
    ]


def ams_sketch(docs_df: DataFrame) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) F2 linear sketch: ``AMS_ROWS`` signed
    counters over the corpus token stream, counter_r = sum over token
    occurrences of sign_r(tok), where sign_r is +1/-1 by BIT r of the
    md5-low-64 hash (the same deterministic ``md5_number_lower`` anchor
    every sketch here uses; DuckDB: ``(md5_number_lower(w) // 2^r) %
    2``). One md5 per token supplies all ``AMS_ROWS`` signs — the first cut
    hashed ``tok|r`` per counter and the 9x md5 work dominated the whole
    gate (11.6s at sf0.1; bits-of-one-hash is the standard AMS seeding
    and cut it to the cost of a single-scan aggregate). Being LINEAR
    (each occurrence contributes independently), shard sketches merge by
    plain addition — the property that makes it a per-partition /
    per-day rollup primitive; counter_r^2 estimates F2 = sum c_t^2, the
    repetition mass a self-join would need a full token shuffle to get.

    Plan: one corpus scan computing all ``AMS_ROWS`` conditional sums in a
    single hash-free global aggregate — no per-row fan-out, no distinct,
    partial aggregation map-side, a ``AMS_ROWS``-value exchange total. The
    final unpivot is driver-free ``stack`` over one row.
    """
    return _ams(docs_df)


def _ams(docs_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., r, counter): the AMS counters of each group of ``keys``;
    with no key, of the whole corpus."""
    wide = (
        _tokens(docs_df, *keys)
        .select(*keys, _low16(F.col("tok")).alias("h16"))
        .groupBy(*keys).agg(*_ams_sign_sums(AMS_ROWS))
    )
    stack = ", ".join(f"{r}, c{r}" for r in range(AMS_ROWS))
    return wide.selectExpr(
        *keys, f"stack({AMS_ROWS}, {stack}) AS (r, counter)"
    ).select(*keys,
             F.col("r").cast("int").alias("r"),
             F.col("counter").cast("long").alias("counter"))


def ams_f2(docs_df: DataFrame, sketch: DataFrame) -> DataFrame:
    """One-row AMS verdict: the median-of-squares F2 estimate next to
    the exact F2, both exact BIGINTs. The median of the 9 squared
    counters is taken WITHOUT a global window: sort the 9-row sketch by
    (counter^2, r), keep 5, max — a bounded-cardinality plan whatever
    the corpus size. Exact F2 is one (token)-keyed count + one scalar
    aggregate; at 100 TB you would ship only the sketch, the exact side
    exists because the gate can afford the token shuffle at test scale.
    """
    sq = sketch.select((F.col("counter") * F.col("counter")).alias("c2"), "r")
    est = (
        sq.orderBy("c2", "r").limit((AMS_ROWS + 1) // 2)
        .agg(F.max("c2").cast("long").alias("est_f2"))
    )
    exact = (
        _tokens(docs_df)
        .groupBy("tok").agg(F.count("*").alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long")
             .alias("exact_f2"))
    )
    # 1-row x 1-row combine: broadcast nested loop is the right plan
    # (declared in the plan-hygiene allowlist)
    return est.join(F.broadcast(exact))


def ams_sketch_grouped(docs_df: DataFrame) -> DataFrame:
    """Per-group AMS F2 counters (the grouped sibling `kmv_grouped` /
    `hll_grouped` have) — one row group's repetition mass per source /
    shard, merge = addition per (group, r). Same single-scan shape as
    `ams_sketch`: all ``AMS_ROWS`` conditional sums ride one group-keyed
    aggregate (map-side partials, exchange bounded by groups), the
    unpivot is a per-row ``stack``.
    """
    return _ams(docs_df, "source")


def _mg_summaries(toks: DataFrame, k: int) -> DataFrame:
    """Per-partition Misra-Gries (Frequent) summaries over a token
    column. Each partition keeps at most k counters: per Arrow batch,
    value_counts folds into the running dict, then one batched
    decrement (subtract the (k+1)-th largest count, drop non-positive)
    restores the size bound — O(k log k) per batch, no per-row Python.
    """
    import pandas as pd

    kk = int(k)

    def gen(batches):
        cnt: dict = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                cnt[tok] = cnt.get(tok, 0) + int(c)
            if len(cnt) > kk:
                vals = sorted(cnt.values(), reverse=True)
                sub = vals[kk]
                cnt = {t: c - sub for t, c in cnt.items() if c > sub}
        yield pd.DataFrame({"tok": list(cnt), "est": list(cnt.values())})

    return toks.select("tok").mapInPandas(gen, "tok string, est long")


def heavy_hitters(docs_df: DataFrame, k: int) -> DataFrame:
    """EXACT heavy hitters via the classic two-pass sketch pattern:
    pass 1 builds the merged Misra-Gries candidate set (bounded
    superset of every token with freq > N/(k+1)); pass 2 re-scans the
    corpus counting ONLY candidates (broadcast hash join — the
    candidate dim is <= k rows) and keeps those with
    count * (k+1) > N, the exact integer form of freq > N/(k+1).

    This is how a 100 TB job finds exact hot keys without aggregating
    the full Heaps-law vocabulary: the second pass shuffles only
    candidate tokens (bounded), everything else dies map-side at the
    broadcast probe. The MG guarantee makes the result EXACTLY equal
    to the direct filter — gated against a DuckDB oracle that computes
    it the direct way, so the gate proves the pigeonhole bound, not
    just the plumbing.

    Returns (tok, n) for every token with n * (k+1) > N (N = total
    token count, including tokens never near the summary).
    """
    # the docstring's literal two-pass shape: no materialization of the
    # token stream (at 100 TB that buffer is the corpus) — pass 2
    # re-reads it via the reused spread() exchange. The lazy checkpoint
    # variant measured SLOWER end-to-end (interleaved A/B: 1.32 s vs
    # 1.42 s with it) on top of being the wrong shape at scale.
    toks = _tokens(docs_df)
    merged = (
        _mg_summaries(toks, int(k))
        .groupBy("tok").agg(F.sum("est").alias("est"))
    )
    ranked = merged.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("est"), "tok")))
    sub = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == int(k) + 1, F.col("est"))),
            F.lit(0),
        ).alias("sub"))
    cand = (
        ranked.crossJoin(F.broadcast(sub))
        .where(F.col("est") > F.col("sub")).select("tok")
    )
    total = toks.agg(F.count("*").alias("n_total"))
    counts = (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n") * (int(k) + 1) > F.col("n_total"))
        .select("tok", "n")
    )
