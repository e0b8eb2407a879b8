"""Training-data operators: dedup (exact/minhash/simhash), ANN, text stats.

Each approximate operator is validated against a brute-force oracle on a
synthetic corpus with planted near-duplicates.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geobuf_cpp_spark.operators.ann import build_ivf, cosine_topk, ivf_topk
from geobuf_cpp_spark.operators.dedup import (
    exact_dedup,
    jaccard,
    minhash_lsh_pairs,
    shingle_hashes,
    simhash64,
    simhash_pairs,
)

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _corpus():
    rng = np.random.default_rng(7)
    docs = []
    for i in range(40):
        docs.append(" ".join(rng.choice(WORDS, size=30)))
    # planted near-duplicates: copy with 1-2 word edits
    for i in range(10):
        base = docs[i].split()
        base[5] = "mutated"
        docs.append(" ".join(base))
    # exact duplicates
    docs.append(docs[0])
    docs.append(docs[0])
    return pd.DataFrame({"doc_id": range(len(docs)), "text": docs})


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(_corpus())
    df.persist()
    yield df
    df.unpersist()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).toPandas()
    dup_groups = out[out["n_docs"] > 1]
    assert len(dup_groups) == 1 and dup_groups.iloc[0]["n_docs"] == 3
    assert dup_groups.iloc[0]["keeper_id"] == 0
    assert out["n_docs"].sum() == docs.count()


def test_minhash_recall_vs_bruteforce(spark, docs):
    pdf = _corpus()
    # brute-force truth at jaccard >= 0.7
    truth = set()
    hashes = {r.doc_id: shingle_hashes(r.text, {}) for r in pdf.itertuples()}
    ids = list(pdf["doc_id"])
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if jaccard(hashes[ids[i]], hashes[ids[j]]) >= 0.7:
                truth.add((ids[i], ids[j]))
    got = minhash_lsh_pairs(docs, threshold=0.7).toPandas()
    got_pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    assert truth, "corpus must contain planted near-duplicates"
    # verify step makes precision exact; banding gives high recall at 0.7
    assert got_pairs <= truth
    recall = len(got_pairs & truth) / len(truth)
    assert recall >= 0.9, (recall, len(truth))


def test_ngram_jaccard_exact_and_all_jvm(spark, docs):
    """The all-JVM shingle-join operator returns EXACTLY the brute-force
    Jaccard pair set, and its plan contains no Python stage."""
    from geobuf_cpp_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_sets,
    )

    pdf = _corpus()
    truth = {}
    shingles = {
        r.doc_id: {
            " ".join(r.text.split(" ")[i : i + 3])
            for i in range(len(r.text.split(" ")) - 2)
        }
        for r in pdf.itertuples()
    }
    ids = list(pdf["doc_id"])
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            sa, sb = shingles[ids[i]], shingles[ids[j]]
            jac = len(sa & sb) / len(sa | sb)
            if jac >= 0.7:
                truth[(ids[i], ids[j])] = jac
    out = ngram_jaccard_pairs(shingle_sets(docs), threshold=0.7)
    got = {
        (int(r["id_a"]), int(r["id_b"])): r["jaccard"] for r in out.collect()
    }
    assert truth and set(got) == set(truth)
    assert all(abs(got[k] - truth[k]) < 1e-12 for k in truth)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEval", "MapInPandas", "FlatMapGroupsInPandas",
                   "BatchEvalPython"):
        assert marker not in plan, marker


def test_dedup_clusters_matches_union_find(spark, loop_paths):
    """Min-label propagation equals a plain union-find, including a
    diameter-4 chain (multiple propagation rounds) and singletons. Both
    paths."""
    from geobuf_cpp_spark.operators.dedup import dedup_clusters

    n = 40
    edges = [(0, 1), (1, 2), (2, 3), (3, 4),     # chain: takes >1 round
             (10, 30), (11, 30), (12, 30),       # star
             (20, 21)]                           # pair
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expect = {i: min(j for j in range(n) if find(j) == find(i))
              for i in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    for cap in loop_paths():
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(docs, pairs).collect()
        }
        assert got == expect, cap


def test_simhash_pairs_match_bruteforce(spark, docs):
    pdf = _corpus()
    sh = {r.doc_id: simhash64(r.text, {}) & ((1 << 64) - 1)
          for r in pdf.itertuples()}
    truth = set()
    ids = list(pdf["doc_id"])
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if bin(sh[ids[i]] ^ sh[ids[j]]).count("1") <= 3:
                truth.add((ids[i], ids[j]))
    got = simhash_pairs(docs, max_hamming=3).toPandas()
    got_pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    # banding is exact for hamming <= 3 (pigeonhole over 4 chunks)
    assert got_pairs == truth
    assert truth  # planted dups must collide


def _emb_frame(n=200, d=32, seed=5):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d))
    return pd.DataFrame(
        {"vec_id": range(n), "embedding": [row.tolist() for row in mat]}
    )


def test_cosine_topk_matches_numpy(spark):
    pdf = _emb_frame()
    emb = spark.createDataFrame(pdf).repartition(4)
    queries = pd.DataFrame(
        {"query_id": [0, 1, 2], "vec": pdf["embedding"][:3].tolist()}
    )
    got = cosine_topk(emb, queries, k=5).toPandas()
    mat = np.vstack(pdf["embedding"])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in range(3):
        sims = mat @ mat[qid]
        order = np.lexsort((np.arange(len(sims)), -sims))[:5]
        expect = list(order)
        g = got[got["query_id"] == qid].sort_values("rank")["vec_id"].tolist()
        assert g == expect
        assert g[0] == qid  # self is its own nearest neighbor


def test_ivf_recall(spark):
    pdf = _emb_frame(n=400)
    emb = spark.createDataFrame(pdf).repartition(4)
    queries = pd.DataFrame(
        {"query_id": range(10), "vec": pdf["embedding"][:10].tolist()}
    )
    exact = cosine_topk(emb, queries, k=10).toPandas()
    centroids, assignments = build_ivf(emb)
    approx = ivf_topk(emb, assignments, centroids, queries, k=10, nprobe=3).toPandas()
    recalls = []
    for qid in range(10):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.6, recalls  # random gaussian data is the
    # worst case for IVF; clustered real embeddings fare far better


def test_textstats_formulas(spark):
    from geobuf_cpp_spark.operators.textstats import doc_stats, quality_score

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the cat sat on the mat and the dog sat too.",
                "x",
                "a of and to the a of and to the words here, more words.",
            ],
        }
    )
    out = doc_stats(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert out["n_tokens"].tolist() == [11, 1, 14]
    assert out["n_periods"].tolist() == [1, 0, 1]
    q = quality_score(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert q["keep"].tolist() == [True, False, True]


def _clustered_emb_frame(n=400, d=32, n_clusters=8, seed=7):
    """Tight clusters around random unit centers — the corpus shape where
    IVF pruning earns its keep (real embedding corpora are clustered; the
    driver's isotropic table is the worst case, see q_ann_ivf)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = centers[np.arange(n) % n_clusters] + 0.05 * rng.normal(size=(n, d))
    return pd.DataFrame(
        {"vec_id": range(n), "embedding": [r.tolist() for r in rows]}
    )


def test_ivf_pruned_probe_recall_on_clustered_data(spark):
    from geobuf_cpp_spark.operators.ann import build_ivf, cosine_topk, ivf_topk

    pdf = _clustered_emb_frame()
    emb = spark.createDataFrame(pdf).repartition(4)
    queries = pd.DataFrame(
        {"query_id": range(10), "vec": pdf["embedding"][:10].tolist()}
    )
    exact = cosine_topk(emb, queries, k=10).toPandas()
    centroids, assignments = build_ivf(emb)
    # probe only 2 of 16 lists: 8x less distance work than brute force
    approx = ivf_topk(emb, assignments, centroids, queries, k=10, nprobe=2).toPandas()
    recalls = []
    for qid in range(10):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.95, recalls


def test_ivf_full_probe_equals_exact(spark):
    """nprobe == n_lists must reproduce brute force EXACTLY (ranks and all)
    — the correctness configuration the driver gate runs."""
    from geobuf_cpp_spark.operators.ann import build_ivf, cosine_topk, ivf_topk

    pdf = _emb_frame(n=300)
    emb = spark.createDataFrame(pdf).repartition(4)
    queries = pd.DataFrame(
        {"query_id": range(8), "vec": pdf["embedding"][:8].tolist()}
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    centroids, assignments = build_ivf(emb)
    full = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(emb, assignments, centroids, queries, k=10,
                          nprobe=len(centroids)).collect()
    }
    assert full == exact


def test_simhash_matches_duckdb_oracle():
    """The Python simhash (md5-low-64 word hash) must equal an independent
    DuckDB SQL computation word-for-word, bit-for-bit."""
    import duckdb

    from geobuf_cpp_spark.operators.dedup import simhash64

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "repeated words words words and more words",
        "unicode snowman ☃ and accents café naïve",
    ]
    con = duckdb.connect()
    for t in texts:
        sql = (
            "WITH w AS (SELECT unnest(string_split(?, ' ')) AS word), "
            "h AS (SELECT md5_number_lower(word) AS hv FROM w WHERE word <> ''), "
            "b AS (SELECT hv, unnest(generate_series(0, 63)) AS bit FROM h), "
            "acc AS (SELECT bit, sum(CASE WHEN (hv >> CAST(bit AS INT)) & 1 = 1 "
            "THEN 1 ELSE -1 END) AS s FROM b GROUP BY 1) "
            "SELECT CAST(sum(CASE WHEN s > 0 AND bit < 63 "
            "THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) "
            "+ CAST(sum(CASE WHEN s > 0 AND bit = 63 "
            "THEN -9223372036854775808 ELSE 0 END) AS BIGINT) FROM acc"
        )
        expect = con.execute(sql, [t]).fetchone()[0]
        assert simhash64(t, {}) == expect, t


def test_media_meta_matches_sql_model():
    """synth_media_batch's metadata must equal the SQL regeneration the
    media oracles run (pure integer function of the id)."""
    import duckdb

    from geobuf_cpp_spark.operators.multimodal import sql_media_meta, synth_media_batch

    n = 64
    got = synth_media_batch(np.arange(n))
    exp = duckdb.connect().execute(sql_media_meta(n)).fetchdf()
    for i in range(n):
        g, e = got.iloc[i], exp.iloc[i]
        assert g["kind"] == e["kind"]
        assert g["meta"]["width"] == e["width"] and g["meta"]["height"] == e["height"]
        assert g["meta"]["n_bytes"] == e["n_bytes"] == len(g["payload"])


def test_cosine_neardup_exact_pairs(spark):
    from geobuf_cpp_spark.operators.ann import cosine_neardup_pairs

    pdf = _clustered_emb_frame(n=200)
    emb = spark.createDataFrame(pdf).repartition(4)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(emb, 0.9).collect()
    }
    mat = np.array(pdf["embedding"].tolist())
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    iu = np.triu_indices(len(pdf), 1)
    expect = {
        (int(a), int(b))
        for a, b in zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])
    }
    assert got == expect and len(expect) > 100


def test_cosine_neardup_blocked_matches_exact(spark):
    """The distributed blocked decomposition returns EXACTLY the brute-force
    pair set — every unordered pair lands in exactly one block-pair group."""
    from geobuf_cpp_spark.operators.ann import cosine_neardup_blocked

    pdf = _clustered_emb_frame(n=200)
    emb = spark.createDataFrame(pdf).repartition(4)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_blocked(emb, 0.9).collect()
    }
    mat = np.array(pdf["embedding"].tolist())
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    iu = np.triu_indices(len(pdf), 1)
    expect = {
        (int(a), int(b))
        for a, b in zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])
    }
    assert got == expect and len(expect) > 100


def test_embed_neardup_gate_has_no_driver_collect(spark, monkeypatch):
    """The gated embed_neardup path must never materialize vectors on the
    driver (round-2 verdict: the collect-based exact path was the last
    scale-killer shape in a gated query)."""
    import __spark_entry__ as entrymod

    df_cls = type(spark.range(1))
    calls: list = []
    orig_topandas = df_cls.toPandas
    orig_collect = df_cls.collect

    def spy_topandas(self):
        calls.append("toPandas")
        return orig_topandas(self)

    def spy_collect(self):
        calls.append("collect")
        return orig_collect(self)

    monkeypatch.setattr(df_cls, "toPandas", spy_topandas)
    monkeypatch.setattr(df_cls, "collect", spy_collect)
    out = entrymod.q_embed_neardup(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    assert calls == [], f"driver-side materialization in gate plan: {calls}"


def test_hyperplane_lsh_recall_on_clustered_data(spark):
    """The LSH-bucketed scale path must recover nearly all true near-dup
    pairs on clusterable data while never enumerating all pairs."""
    from geobuf_cpp_spark.operators.ann import (
        cosine_neardup_pairs,
        hyperplane_lsh_pairs,
    )

    pdf = _clustered_emb_frame(n=200)
    emb = spark.createDataFrame(pdf).repartition(4)
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(emb, 0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(emb, 0.9).collect()
    }
    assert lsh.issubset(exact)  # the verify stage is exact
    assert len(lsh & exact) / len(exact) >= 0.9, (len(lsh), len(exact))


def test_asof_join_semantics(spark):
    """Equal timestamps match (l.ts >= r.ts inclusive), the NEWEST right
    row wins, and keys with no prior right row yield NULLs."""
    import datetime as dt

    from geobuf_cpp_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10), 100), (1, t(20), 101), (2, t(5), 200), (3, t(9), 300)],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(1, t(10), 900, 1.5),   # exactly at left ts -> matches
         (1, t(15), 901, 2.5),   # newest before t20 -> wins over t10
         (2, t(6), 902, 3.5)],   # AFTER left t5 -> no match for user 2
        "user_id long, ts timestamp, event_id long, value double",
    )
    got = {
        r["event_id"]: (r["rid"], r["rval"])
        for r in asof_join(
            left, right, ["user_id"], "ts",
            {"event_id": "rid", "value": "rval"},
        ).collect()
    }
    assert got[100] == (900, 1.5)     # inclusive boundary
    assert got[101] == (901, 2.5)     # most recent wins
    assert got[200] == (None, None)   # right row is in the future
    assert got[300] == (None, None)   # key never seen on the right


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-check against pandas.merge_asof (an independent
    implementation of the same semantics, direction='backward')."""
    import datetime as dt

    rng = np.random.default_rng(11)
    base = dt.datetime(2026, 1, 1)
    n_l, n_r = 120, 90
    left = pd.DataFrame(
        {
            "user_id": rng.integers(0, 8, n_l),
            "ts": [base + dt.timedelta(seconds=int(s))
                   for s in rng.choice(100_000, n_l, replace=False)],
            "event_id": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "user_id": rng.integers(0, 8, n_r),
            "ts": [base + dt.timedelta(seconds=int(s))
                   for s in rng.choice(100_000, n_r, replace=False) + 100_000],
            "event_id": np.arange(n_r) + 1000,
            "value": rng.normal(size=n_r),
        }
    )
    # interleave right into the left time range too
    right.loc[: n_r // 2, "ts"] = [
        base + dt.timedelta(seconds=int(s))
        for s in rng.choice(100_000, n_r // 2 + 1, replace=False)
    ]

    from geobuf_cpp_spark.operators.asof import asof_join

    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            ["user_id"], "ts",
            {"event_id": "rid", "value": "rval"},
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    expect = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts").rename(columns={"event_id": "rid", "value": "rval"}),
        on="ts", by="user_id", direction="backward",
    ).sort_values("event_id").reset_index(drop=True)
    for i in range(len(left)):
        g, e = got.iloc[i], expect.iloc[i]
        assert g["event_id"] == e["event_id"]
        ge = None if pd.isna(g["rid"]) else int(g["rid"])
        ee = None if pd.isna(e["rid"]) else int(e["rid"])
        assert ge == ee, (g["event_id"], ge, ee)


def test_asof_join_duplicate_right_timestamps_deterministic(spark):
    """Two right rows tying on (key, ts): the largest payload struct wins,
    deterministically."""
    import datetime as dt

    from geobuf_cpp_spark.operators.asof import asof_join

    t0 = dt.datetime(2026, 1, 1, 0, 0, 10)
    left = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1, 0, 0, 20), 100)],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(1, t0, 900, 1.0), (1, t0, 901, 2.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    for _ in range(3):  # stable across plans/retries
        got = asof_join(
            left, right.repartition(4), ["user_id"], "ts",
            {"event_id": "rid", "value": "rval"},
        ).collect()
        assert len(got) == 1 and got[0]["rid"] == 901


def test_ivfpq_equals_exact_on_clustered_data(spark):
    """IVF-PQ + rerank (both pruning axes composed) must equal exact brute
    force when nprobe covers the true cluster and the rerank pool covers
    the true top-k — the gate configuration."""
    from geobuf_cpp_spark.operators.ann import cosine_topk, ivfpq_topk

    pdf = _clustered_emb_frame(n=400)
    emb = spark.createDataFrame(pdf).repartition(4)
    queries = pd.DataFrame(
        {"query_id": range(8), "vec": pdf["embedding"][:8].tolist()}
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivfpq_topk(emb, queries, k=10).collect()
    }
    assert got == exact


def test_pq_roundtrip_and_recall(spark):
    """PQ codes: 32x smaller than raw vectors, deterministic encoding;
    raw ADC gives useful-but-lossy recall, and ADC + exact rerank of the
    top-50 candidates reproduces exact brute force EXACTLY on clustered
    data (the FAISS refine pattern)."""
    from geobuf_cpp_spark.operators.ann import (
        cosine_topk,
        pq_encode,
        pq_topk,
        pq_topk_rerank,
        pq_train,
    )

    pdf = _clustered_emb_frame(n=400)
    emb = spark.createDataFrame(pdf).repartition(4)
    books = pq_train(emb)
    assert books.shape == (8, 16, 4)
    codes = pq_encode(emb, books).persist()
    rows = codes.collect()
    assert len(rows) == 400 and all(len(r["codes"]) == 8 for r in rows)
    # deterministic re-encode
    again = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert all(list(r["codes"]) == again[r["vec_id"]] for r in rows)

    queries = pd.DataFrame(
        {"query_id": range(10), "vec": pdf["embedding"][:10].tolist()}
    )
    exact = cosine_topk(emb, queries, k=10).toPandas()
    approx = pq_topk(codes, books, queries, k=10).toPandas()
    recalls = []
    for qid in range(10):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.45, recalls  # raw ADC: lossy by design

    reranked = pq_topk_rerank(codes, emb, books, queries, k=10,
                              n_candidates=50).toPandas()
    got = {(r.query_id, r.rank): r.vec_id for r in reranked.itertuples()}
    want = {(r.query_id, r.rank): r.vec_id for r in exact.itertuples()}
    assert got == want  # candidates cover the true top-k -> exact result


def test_curation_funnel_deterministic_counts(spark):
    """The composed curation recipe (quality+lang+dedup keepers ->
    decontaminate vs the doc_id%13 held-out split -> stratified sample)
    is fully deterministic: exact funnel counts at sf0.001, same as the
    `python -m geobuf_cpp_spark curate` CLI reports."""
    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.curation import stratified_sample
    from geobuf_cpp_spark.operators.dedup import decontaminate, exact_dedup
    from geobuf_cpp_spark.operators.textstats import lang_signal, quality_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    quality = quality_score(docs).filter("keep = 1").select("doc_id")
    lang = lang_signal(docs).filter("pred_en = 1").select("doc_id")
    keepers = exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    clean = docs.join(quality, "doc_id").join(lang, "doc_id").join(
        keepers, "doc_id")
    decon = decontaminate(clean, docs.where("doc_id % 13 = 0"))
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    sampled = stratified_sample(decon, {lg: 0.5 for lg in langs})
    funnel = (docs.count(), clean.count(), decon.count(), sampled.count())
    assert funnel == (500, 422, 390, 191)
    # every decontaminated text is genuinely absent from the held-out set
    held_texts = {r["text"] for r in docs.where("doc_id % 13 = 0").collect()}
    assert all(r["text"] not in held_texts
               for r in decon.select("text").collect())


def test_mixture_interleave_prefix_ratios(spark):
    """Sorted by order_key, every long-enough prefix of the stream
    serves strata in their weight ratio (weighted round-robin), and the
    order is identical at different partition counts."""
    from geobuf_cpp_spark.operators.curation import mixture_interleave

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(400)],
        "doc_id long, lang string",
    )
    out = mixture_interleave(docs, {"en": 3, "fr": 1})
    rows = sorted(
        ((r["order_key"], r["lang"], r["stratum_rank"], r["doc_id"])
         for r in out.collect())
    )
    # first 40 slots: en appears ~3x as often as fr
    head = [lang for _, lang, _, _ in rows[:40]]
    assert 27 <= head.count("en") <= 33 and 7 <= head.count("fr") <= 13

    out13 = mixture_interleave(docs.repartition(13), {"en": 3, "fr": 1})
    rows13 = sorted(
        ((r["order_key"], r["lang"], r["stratum_rank"], r["doc_id"])
         for r in out13.collect())
    )
    assert rows == rows13


def test_hll_registers_merge_and_bounds(spark):
    """Register table properties: shard merge by max equals the whole-
    corpus build (the property that makes HLLs shippable), registers
    are within [1, 57], and adding duplicate tokens changes nothing."""
    from pyspark.sql import functions as F

    from geobuf_cpp_spark.operators.sketches import hll_registers

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i % 11} common text") for i in range(120)],
        "doc_id long, text string",
    )
    whole = {(r["bucket"], r["register"])
             for r in hll_registers(docs).collect()}
    a = hll_registers(docs.where("doc_id % 2 = 0"))
    b = hll_registers(docs.where("doc_id % 2 = 1"))
    merged = {
        (r["bucket"], r["register"])
        for r in a.unionByName(b).groupBy("bucket")
        .agg(F.max("register").alias("register")).collect()
    }
    assert merged == whole
    assert all(1 <= reg <= 57 for _, reg in whole)
    doubled = {(r["bucket"], r["register"])
               for r in hll_registers(docs.unionByName(docs)).collect()}
    assert doubled == whole
