"""Unit tests for the training-data-pipeline operators (textops).

Planted-duplicate corpora give known answers; every operator is also
oracle-checked against DuckDB via __spark_entry__, these tests cover
the semantics the SQL facets can't (ANN recall, stub decoder contract,
determinism under repartitioning).
"""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),
        (2, "completely different text about spark columnar encoding engines"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),
        (4, "unrelated words with no overlap whatsoever in any shingle set"),
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


@pytest.mark.spark
def test_exact_dedup_groups(spark, docs):
    from parquet_spark.textops.dedup import exact_dedup
    g = {r.keeper_id: r.n_dups for r in exact_dedup(docs).collect()}
    assert g[0] == 2          # docs 0 and 3 are identical
    assert g[1] == 1 and g[2] == 1 and g[4] == 1


@pytest.mark.spark
def test_minhash_identical_docs_share_signature(spark, docs):
    from parquet_spark.textops.dedup import minhash_signatures
    sig = {r.doc_id: tuple(r[i] for i in range(1, 5))
           for r in minhash_signatures(docs, n_hashes=4).collect()}
    assert sig[0] == sig[3]                  # identical text
    assert sig[0] != sig[2]                  # unrelated text
    # near-identical docs (1 word differs) share most minhash slots
    assert sum(a == b for a, b in zip(sig[0], sig[1])) >= 2


@pytest.mark.spark
def test_lsh_finds_planted_near_dups(spark, docs):
    from parquet_spark.textops.dedup import (lsh_candidate_pairs,
                                             minhash_signatures,
                                             ngram_jaccard)
    sig = minhash_signatures(docs, n_hashes=4)
    pairs = lsh_candidate_pairs(sig, n_hashes=4, band_size=2)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 3) in got                     # exact dup must be caught
    j = {(r.doc_a, r.doc_b): r.jaccard
         for r in ngram_jaccard(docs, pairs).collect()}
    assert j[(0, 3)] == 1.0
    for (a, b), v in j.items():
        assert 0.0 <= v <= 1.0


@pytest.mark.spark
def test_simhash_similar_docs_close(spark, docs):
    from parquet_spark.textops.dedup import simhash
    h = {r.doc_id: r.simhash for r in simhash(docs, n_bits=16).collect()}
    assert h[0] == h[3]
    ham = bin(h[0] ^ h[1]).count("1")
    ham_far = bin(h[0] ^ h[4]).count("1")
    assert ham < ham_far                      # near-dup closer than unrelated


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(16)])
            for i in range(40)]
    # vec 100 = vec 0 scaled (cosine exactly 1.0)
    rows.append(Row(vec_id=100,
                    embedding=[2.0 * x for x in rows[0].embedding]))
    return spark.createDataFrame(rows)


@pytest.mark.spark
def test_cosine_topk_matches_numpy(spark, vecs):
    from parquet_spark.textops.similarity import cosine_topk
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    c = vecs.where(F.col("vec_id") != 0)
    got = cosine_topk(c, q, k=3).orderBy("rank").collect()
    assert got[0].vec_id == 100 and abs(got[0].cos - 1.0) < 1e-6
    # numpy oracle for the full ranking
    rows = {r.vec_id: np.array(r.embedding) for r in vecs.collect()}
    qv = rows[0]
    cos = {i: float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
           for i, v in rows.items() if i != 0}
    best = sorted(cos, key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [r.vec_id for r in got] == best


@pytest.mark.spark
def test_ann_bucket_recall_for_identical_direction(spark, vecs):
    from parquet_spark.textops.similarity import ann_topk
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    c = vecs.where(F.col("vec_id") != 0)
    got = ann_topk(c, q, k=3, n_planes=4, seed=42).collect()
    # scaled copy has identical signs on every hyperplane -> same bucket
    assert any(r.vec_id == 100 and abs(r.cos - 1.0) < 1e-6 for r in got)


@pytest.mark.spark
def test_lsh_bucket_deterministic(spark, vecs):
    from parquet_spark.textops.similarity import hyperplanes, lsh_bucket
    planes = hyperplanes(16, n_planes=4, seed=42)
    assert planes == hyperplanes(16, n_planes=4, seed=42)
    b1 = {r.vec_id: r.bucket for r in lsh_bucket(vecs, planes).collect()}
    b2 = {r.vec_id: r.bucket
          for r in lsh_bucket(vecs.repartition(5), planes).collect()}
    assert b1 == b2
    assert b1[0] == b1[100]                   # same direction, same bucket


@pytest.mark.spark
def test_quality_and_tokens(spark, docs):
    from parquet_spark.textops.textstats import quality_score, token_count
    r = (token_count(quality_score(docs))
         .where(F.col("doc_id") == 0).head())
    assert r.ws_tokens == r.n_words == 13
    assert 0.0 <= r.quality <= 1.0
    assert r.stopword_ratio > 0               # 'the' appears
    assert r.punct_ratio == 0.0


@pytest.mark.spark
def test_lang_id_english(spark, docs):
    from parquet_spark.textops.textstats import lang_id
    out = {r.doc_id: r.lang_guess for r in lang_id(docs).collect()}
    assert out[0] == "en"


@pytest.mark.spark
def test_fingerprint_normalizes(spark):
    from parquet_spark.textops.textstats import fingerprint
    df = spark.createDataFrame(
        [(0, "Hello,  World!"), (1, "hello world"), (2, "other text")],
        ["doc_id", "text"])
    fp = {r.doc_id: r.fp for r in fingerprint(df).collect()}
    assert fp[0] == fp[1] != fp[2]


@pytest.mark.spark
def test_media_metadata_and_stub_features(spark):
    from parquet_spark.textops.multimodal import (decode_image,
                                                  extract_features,
                                                  media_metadata)
    df = spark.createDataFrame(
        [(0, bytearray(b"\x89PNG\r\nfakedata")), (1, bytearray(b"GIF89a!")),
         (2, None)],
        "media_id long, blob binary")
    meta = {r.media_id: r for r in
            media_metadata(df, "media_id", "blob").collect()}
    assert meta[0].magic == "89504E47" and meta[0].n_bytes == 14
    assert meta[2].n_bytes is None            # null blob stays null
    feats = {r.media_id: r for r in
             extract_features(df, "media_id", "blob", fake=True).collect()}
    assert len(feats[0].feature) == 16
    assert feats[2].feature is None and feats[2].n_bytes == 0
    assert feats[0].decoder == "stub-sha256"
    with pytest.raises(NotImplementedError):
        decode_image(b"x", fake=False)        # real decoder is stubbed


@pytest.mark.spark
def test_ivf_assign_deterministic_and_partitioning(spark, vecs):
    from parquet_spark.textops.similarity import ivf_assign, ivf_centroids
    cents = ivf_centroids(vecs, n_clusters=4, seed=42)
    assert cents == ivf_centroids(vecs, n_clusters=4, seed=42)
    a1 = {r.vec_id: r.cluster for r in ivf_assign(vecs, cents).collect()}
    a2 = {r.vec_id: r.cluster
          for r in ivf_assign(vecs.repartition(7), cents).collect()}
    assert a1 == a2
    assert set(a1.values()) <= set(range(4))


@pytest.mark.spark
def test_ivf_topk_recall_vs_bruteforce(spark, vecs):
    from parquet_spark.textops.similarity import (cosine_topk, ivf_centroids,
                                                  ivf_topk)
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    c = vecs.where(F.col("vec_id") != 0)
    cents = ivf_centroids(vecs, n_clusters=4, seed=42)
    approx = [r.vec_id for r in
              ivf_topk(c, q, cents, k=5, nprobe=4).orderBy("rank").collect()]
    exact = [r.vec_id for r in cosine_topk(c, q, k=5).orderBy("rank").collect()]
    # nprobe = n_clusters probes everything -> must equal brute force
    assert approx == exact
    # scaled twin of the query lands in the same cluster -> found even
    # with a single probe
    one = [r.vec_id for r in
           ivf_topk(c, q, cents, k=1, nprobe=1).collect()]
    assert one == [100]


@pytest.mark.spark
def test_ivf_recall_metric_matches_python(spark, vecs):
    from parquet_spark.textops.similarity import (cosine_topk, ivf_centroids,
                                                  ivf_recall, ivf_topk)
    q = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding")
    c = vecs.where(F.col("vec_id") >= 3)
    cents = ivf_centroids(vecs, n_clusters=4, seed=42)
    got = {r.q_id: (r.n_hits, r.recall)
           for r in ivf_recall(c, q, cents, k=4, nprobe=1).collect()}
    assert set(got) == {0, 1, 2}
    # recompute the metric from the two searches it is defined over
    exact = {}
    for r in cosine_topk(c, q, k=4).collect():
        exact.setdefault(r.q_id, set()).add(r.vec_id)
    approx = {}
    for r in ivf_topk(c, q, cents, k=4, nprobe=1).collect():
        approx.setdefault(r.q_id, set()).add(r.vec_id)
    for qid in (0, 1, 2):
        hits = len(exact[qid] & approx.get(qid, set()))
        assert got[qid] == (hits, round(hits / 4, 6))
    # nprobe = n_clusters probes every list -> recall must be 1.0
    full = ivf_recall(c, q, cents, k=4, nprobe=4).collect()
    assert all(r.recall == 1.0 and r.n_hits == 4 for r in full)


@pytest.mark.spark
def test_connected_components_matches_union_find(spark):
    from parquet_spark.textops.dedup import connected_components
    # two clusters + a long chain (forces multiple propagation rounds)
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23),
             (23, 24), (24, 25), (25, 26), (26, 27)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    stats = {}
    got = {r.node: r.comp for r in
           connected_components(df, stats=stats).collect()}
    # python union-find oracle
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want
    assert stats["rounds"][-1]["changed"] == 0  # ran to convergence
    assert len(stats["rounds"]) >= 3            # the chain needed rounds


@pytest.mark.spark
def test_dedup_keep_one_per_cluster(spark, docs):
    from parquet_spark.textops.dedup import dedup_keep
    pairs = spark.createDataFrame([(0, 3), (1, 4)], ["doc_a", "doc_b"])
    kept = {r.doc_id for r in
            dedup_keep(docs, pairs).select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    # cluster minima survive, other members drop, unpaired docs survive
    assert kept == all_ids - {3, 4}


@pytest.mark.spark
def test_pq_encode_deterministic_and_in_range(spark, vecs):
    from parquet_spark.textops.similarity import pq_codebooks_md5, pq_encode
    cbs = pq_codebooks_md5(vecs, m=4, k=8)
    assert len(cbs) == 4 and all(len(cb) == 8 for cb in cbs)
    assert all(len(c) == 4 for cb in cbs for c in cb)  # dsub = 16/4
    c1 = {r.vec_id: r.codes for r in
          pq_encode(vecs, cbs, round_dp=6).select("vec_id", "codes").collect()}
    c2 = {r.vec_id: r.codes for r in
          pq_encode(vecs.repartition(7), cbs, round_dp=6)
          .select("vec_id", "codes").collect()}
    assert c1 == c2
    assert all(len(v) == 4 and all(0 <= x < 8 for x in v)
               for v in c1.values())
    # numpy recomputation of every code (6dp-rounded argmin, id tie-break)
    rows = {r.vec_id: np.array(r.embedding) for r in vecs.collect()}
    for vid, vec in rows.items():
        for j in range(4):
            sub = vec[j * 4:(j + 1) * 4]
            d = [round(float(((sub - np.array(cbs[j][i])) ** 2).sum()), 6)
                 for i in range(8)]
            assert c1[vid][j] == min(range(8), key=lambda i: (d[i], i))


@pytest.mark.spark
def test_pq_topk_full_rerank_equals_exact(spark, vecs):
    from parquet_spark.textops.similarity import (cosine_topk,
                                                  pq_codebooks_md5, pq_topk)
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    c = vecs.where(F.col("vec_id") != 0)
    cbs = pq_codebooks_md5(vecs, m=4, k=8)
    n = c.count()
    # rerank window covering the whole corpus -> the exact re-rank sees
    # every vector, so PQ must EQUAL brute force regardless of codes
    full = [(r.vec_id, r.cos) for r in
            pq_topk(c, q, cbs, k=5, rerank=n, round_dp=6)
            .orderBy("rank").collect()]
    exact = [(r.vec_id, r.cos) for r in
             cosine_topk(c, q, k=5).orderBy("rank").collect()]
    assert full == exact
    # tight rerank still returns k well-formed, deduped rows per query
    tight = pq_topk(c, q, cbs, k=5, rerank=1, round_dp=6).collect()
    assert len(tight) == 5
    assert len({r.vec_id for r in tight}) == 5


@pytest.mark.spark
def test_pq_codebooks_lloyd_improves_quantization(spark, vecs):
    from parquet_spark.textops.similarity import (pq_codebooks,
                                                  pq_codebooks_md5,
                                                  pq_encode)
    seeded = pq_codebooks_md5(vecs, m=4, k=4)
    refined = pq_codebooks(vecs, m=4, k=4, lloyd_iters=3)
    assert len(refined) == 4 and all(len(cb) == 4 for cb in refined)

    def sq_error(cbs):
        rows = {r.vec_id: np.array(r.embedding) for r in vecs.collect()}
        codes = {r.vec_id: r.codes for r in
                 pq_encode(vecs, cbs).select("vec_id", "codes").collect()}
        err = 0.0
        for vid, vec in rows.items():
            for j in range(4):
                sub = vec[j * 4:(j + 1) * 4]
                err += float(((sub - np.array(cbs[j][codes[vid][j]])) ** 2
                              ).sum())
        return err

    # Lloyd refinement must not worsen total quantization error
    assert sq_error(refined) <= sq_error(seeded) + 1e-9


@pytest.mark.spark
def test_rolling_fingerprint_matches_python(spark, docs):
    from parquet_spark.textops.textstats import (ROLL_BASE, ROLL_MOD,
                                                 rolling_fingerprint)
    got = {r.doc_id: r.rolling_fp
           for r in rolling_fingerprint(docs).collect()}
    rows = {r.doc_id: r.text for r in docs.collect()}
    for did, text in rows.items():
        h = 0
        for ch in text:
            h = (h * ROLL_BASE + ord(ch)) % ROLL_MOD
        assert got[did] == h
    assert got[0] == got[3] and got[0] != got[1]  # order-sensitive, exact


@pytest.mark.spark
def test_resize_and_frame_sampling_stubs(spark):
    from parquet_spark.textops.multimodal import resize_image, sample_frames
    df = spark.createDataFrame(
        [(0, bytearray(b"x" * 5000)), (1, None), (2, bytearray(b"y" * 100))],
        "media_id long, blob binary")
    th = {r.media_id: r for r in
          resize_image(df, "media_id", "blob", 8, 8, fake=True).collect()}
    assert len(th[0].thumb) == 64 and th[1].thumb is None
    assert th[0].thumb != th[2].thumb          # content-derived
    fr = sample_frames(df, "media_id", "blob",
                       frame_bytes=1000, every_k=2).collect()
    by_id = {}
    for r in fr:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert sorted(by_id[0]) == [0, 2, 4]       # 5 frames, every 2nd
    assert 1 not in by_id                      # null blob skipped
    assert sorted(by_id[2]) == [0]


@pytest.mark.spark
def test_ivf_seeds_md5_deterministic_and_assign_rounding(spark, vecs):
    from parquet_spark.textops.similarity import ivf_assign, ivf_seeds_md5
    em = vecs.withColumn(
        "embedding", F.expr("transform(embedding, x -> cast(x as double))"))
    s1 = ivf_seeds_md5(em, n_clusters=4)
    s2 = ivf_seeds_md5(em.repartition(7), n_clusters=4)
    assert s1 == s2 and len(s1) == 4
    a = ivf_assign(em, s1, round_dp=6)
    counts = {r.cluster: r.n_vecs
              for r in a.groupBy("cluster").agg(
                  F.count(F.lit(1)).alias("n_vecs")).collect()}
    assert sum(counts.values()) == em.count()
    # every seed vector is distance 0 from its own centroid
    assert len(counts) == 4


@pytest.mark.spark
def test_ivf_kmeanspp_and_lloyd_convergence(spark, vecs):
    from parquet_spark.textops.similarity import ivf_centroids, ivf_topk
    em = vecs.withColumn(
        "embedding", F.expr("transform(embedding, x -> cast(x as double))"))
    stats = {}
    cents = ivf_centroids(em, n_clusters=4, lloyd_iters=4,
                          seeding="kmeans++", tol=1e-9, stats=stats)
    assert len(cents) == 4
    # deterministic under repartitioning
    cents2 = ivf_centroids(em.repartition(7), n_clusters=4, lloyd_iters=4,
                           seeding="kmeans++", tol=1e-9)
    assert cents == cents2
    # Lloyd movement is monotonically shrinking (or stops early)
    moves = [r["max_move_sq"] for r in stats["rounds"]]
    assert len(moves) >= 1
    assert all(b <= a * 1.5 + 1e-12 for a, b in zip(moves, moves[1:]))
    # every corpus vector lands in a cluster and ivf_topk finds the
    # planted near-duplicate direction (vec 100 = scaled copy of vec 0)
    q = em.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding")
    c = em.where(F.col("vec_id") != 0)
    got = ivf_topk(c, q, cents, k=3, nprobe=2).collect()
    assert any(r.vec_id == 100 and abs(r.cos - 1.0) < 1e-6 for r in got)


@pytest.mark.spark
def test_embedding_near_dups_lsh_subset_of_bruteforce(spark, vecs):
    """The LSH-bucketed scale path must agree with the brute-force
    baseline on every pair it emits, and emit exactly the baseline
    pairs whose endpoints share a bucket (no in-bucket pair lost)."""
    from pyspark.sql import functions as F

    from parquet_spark.textops.dedup import (embedding_near_dups,
                                             embedding_near_dups_lsh)
    from parquet_spark.textops.similarity import hyperplanes, lsh_bucket
    emb = vecs.withColumn(
        "embedding", F.expr("transform(embedding, x -> cast(x as double))"))
    planes = hyperplanes(16, n_planes=3, seed=7)  # match the vec dim
    thr = 0.25
    brute = {(r.id_a, r.id_b): r.cos
             for r in embedding_near_dups(emb, threshold=thr).collect()}
    fast = {(r.id_a, r.id_b): r.cos
            for r in embedding_near_dups_lsh(emb, planes,
                                             threshold=thr).collect()}
    assert fast, "LSH path emitted no pairs (vacuous test)"
    # every fast pair is a brute pair with the identical cosine
    for k, v in fast.items():
        assert k in brute and brute[k] == v, k
    # completeness within buckets: a brute pair sharing a bucket is kept
    buckets = {r.vec_id: r.bucket for r in lsh_bucket(emb, planes).collect()}
    expected = {k for k in brute if buckets[k[0]] == buckets[k[1]]}
    assert set(fast) == expected


@pytest.mark.spark
def test_quality_filter_rules_and_keep(spark):
    """Each rule fires independently and `keep` is their conjunction;
    obvious junk is dropped, obvious prose is kept."""
    from pyspark.sql import functions as F

    from parquet_spark.textops.textstats import quality_filter
    rows = [
        (0, "the quick brown fox and the lazy dog is in that house for "
            "a very long time of the day and it is good that for now"),
        (1, "short text"),                      # too few words
        (2, "!!! ??? ;;; " * 20),               # punctuation soup
        (3, " ".join("zq" + str(i) for i in range(40))),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in quality_filter(df).collect()}
    assert got[0].keep
    assert not got[1].ok_words and not got[1].keep
    assert not got[2].ok_punct and not got[2].keep
    assert not got[3].ok_stopwords and not got[3].keep


@pytest.mark.spark
def test_top_vocabulary_deterministic_ranking(spark):
    from parquet_spark.textops.textstats import top_vocabulary
    df = spark.createDataFrame(
        [(0, "b a a c b a"), (1, "c b  d")], "doc_id int, text string")
    top = top_vocabulary(df, k=10)
    out = [(r.rank, r.word, r.n) for r in top.orderBy("rank").collect()]
    # a:3 b:3 c:2 d:1 — ties broken word-asc; empty token (double
    # space) excluded
    assert out == [(1, "a", 3), (2, "b", 3), (3, "c", 2), (4, "d", 1)]
    top.collect()
    _assert_bounded_topk(top._jdf.queryExecution().executedPlan()
                         .toString(), 10)


def _assert_bounded_topk(plan: str, k: int) -> None:
    """The rank <= k filter over a window became a bounded top-k in the
    physical plan: WindowGroupLimit for a partitioned window, and for a
    global window Spark pushes the limit below it as
    TakeOrderedAndProject(limit=k).  Either way only k rows per group
    reach the window, never the whole sorted input."""
    assert ("WindowGroupLimit" in plan
            or f"TakeOrderedAndProject(limit={k}," in plan), plan[:2000]


@pytest.mark.spark
def test_repetition_stats_detects_boilerplate(spark):
    from parquet_spark.textops.textstats import repetition_stats
    rows = [
        (0, "nav menu\nnav menu\nnav menu\ncontent line"),  # dup lines
        (1, "spam spam spam spam spam ham"),                # one word dominates
        (2, "all words here are fully distinct tokens"),    # clean prose
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[0].dup_line_frac == 0.5          # 2 of 4 lines are repeats
    assert got[1].top_word_frac == round(5 / 6, 4)
    assert got[1].dup_word_frac == round(4 / 6, 4)
    assert got[2].dup_line_frac == 0.0
    assert got[2].dup_word_frac == 0.0


@pytest.mark.spark
def test_bounded_topk_identity_with_single_window(spark, vecs):
    """The explicit two-level bounded_topk (local top-n per (query,
    input partition), then global rank over the survivors) returns the
    EXACT same rows as the single-window rank for every query — the
    identity that lets _per_query_rank switch renderings at the
    WindowGroupLimit threshold without changing results."""
    from parquet_spark.textops.similarity import (_dot, _norm,
                                                  _per_query_rank,
                                                  bounded_topk)
    q = vecs.where(F.col("vec_id").isin(0, 3, 7)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    c = (vecs.repartition(5)
         .select(F.col("vec_id"), F.col("embedding").alias("cv")))
    scored = (c.join(F.broadcast(q))
              .withColumn("cos", F.round(_dot("qv", "cv") /
                                         (_norm("qv") * _norm("cv")), 6)))
    order = [F.col("cos").desc(), F.col("vec_id").asc()]
    cols = ["q_id", "vec_id", "cos", "rank"]
    single = sorted(map(tuple, _per_query_rank(scored, order, 4, "q_id")
                        .select(*cols).collect()))
    two = sorted(map(tuple, bounded_topk(scored, order, 4, "q_id")
                     .select(*cols).collect()))
    assert single == two and len(single) == 12
    # reserved internal columns are guarded
    with pytest.raises(ValueError, match="_lp"):
        bounded_topk(scored.withColumn("_lp", F.lit(1)), order, 4, "q_id")


@pytest.mark.spark
def test_pq_adc_rank_plan_is_bounded(spark, vecs):
    """Regression guard for the pq_topk ADC candidate stage: the
    single-window rank must keep the map-side Partial WindowGroupLimit
    BELOW (= executed before) the exchange, so each task forwards at
    most k*rerank candidate rows per query and the per-query reduce
    side sees at most k*rerank*n_parts rows — the two-level bound,
    materialized by Catalyst.  If a future rank-filter shape stops the
    rewrite from firing, this test fails before the plan regresses at
    scale."""
    from parquet_spark.textops.similarity import pq_codebooks_md5, pq_topk
    cbs = pq_codebooks_md5(vecs, m=4, k=4)
    q = vecs.limit(2).select(F.col("vec_id").alias("q_id"), "embedding")
    plan = (pq_topk(vecs, q, cbs, k=3, rerank=2)
            ._jdf.queryExecution().executedPlan().toString())
    partials = [i for i, ln in enumerate(plan.splitlines())
                if "WindowGroupLimit" in ln and "Partial" in ln]
    finals = [i for i, ln in enumerate(plan.splitlines())
              if "WindowGroupLimit" in ln and "Final" in ln]
    exchanges = [i for i, ln in enumerate(plan.splitlines())
                 if "Exchange hashpartitioning(q_id" in ln]
    assert partials and finals and exchanges
    # tree-string depth order: a node printed LATER executes EARLIER;
    # the Partial limit must sit below the q_id exchange it bounds
    assert any(p > e for p in partials for e in exchanges)


@pytest.mark.spark
def test_connected_components_long_chain_log_rounds(spark):
    """Pointer-jumping property test: a 100-node path graph converges
    to the single component minimum in O(log n) rounds — far inside
    the default max_iters=25 that plain min-label propagation (one hop
    per round) would blow through."""
    from parquet_spark.textops.dedup import connected_components
    edges = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    stats = {}
    got = {r.node: r.comp for r in
           connected_components(df, stats=stats).collect()}
    assert stats["converged"]
    assert len(stats["rounds"]) <= 10          # ~log2(100) + settle
    assert got == {i: 0 for i in range(101)}


@pytest.mark.spark
def test_connected_components_unconverged_warns_and_keep_refuses(spark):
    from parquet_spark.textops.dedup import (connected_components,
                                             dedup_keep)
    edges = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    stats = {}
    with pytest.warns(RuntimeWarning, match="NOT component minima"):
        connected_components(df, max_iters=2, stats=stats)
    assert not stats["converged"]
    docs = spark.range(101).select(F.col("id").alias("doc_id"),
                                   F.lit("t").alias("text"))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_keep(docs, df, max_iters=2)


@pytest.mark.spark
def test_dedup_lines_removes_cross_doc_boilerplate(spark):
    """dedup_lines: a line in >= min_docs distinct docs disappears from
    every doc; order of the surviving lines is preserved; fully-
    boilerplate docs come back empty; short lines never vote."""
    from parquet_spark.textops.dedup import dedup_lines
    rows = [
        (1, "intro one\nSHARED FOOTER\nbody a"),
        (2, "SHARED FOOTER\nbody b"),
        (3, "solo text only"),
        (4, "SHARED FOOTER"),               # -> empty after clean
        (5, "x\ny"),                         # single-char lines
        (6, "x\nz"),                         # 'x' repeats across 5,6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_lines(df, min_docs=2, min_chars=2).orderBy("doc_id")
    got = {r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
           for r in out.collect()}
    assert got[1] == ("intro one\nbody a", 3, 1)
    assert got[2] == ("body b", 2, 1)
    assert got[3] == ("solo text only", 1, 0)
    assert got[4] == ("", 1, 1)
    # 'x' occurs in two docs but is below min_chars: kept everywhere
    assert got[5] == ("x\ny", 2, 0)
    assert got[6] == ("x\nz", 2, 0)
    # reserved internal names are guarded
    with pytest.raises(ValueError, match="reserves"):
        dedup_lines(df.withColumn("_pos", F.lit(1)))
    with pytest.raises(ValueError, match="min_docs"):
        dedup_lines(df, min_docs=1)


@pytest.mark.spark
def test_dedup_lines_regex_meta_separator_and_clash_guard(spark):
    """sep is a LITERAL separator even when it contains regex
    metacharacters ('|', '.'), and output-column clashes fail loudly."""
    from parquet_spark.textops.dedup import dedup_lines
    rows = [(1, "keep me|DUP|tail one"), (2, "DUP|other text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
           for r in dedup_lines(df, sep="|", min_chars=2).collect()}
    assert out[1] == ("keep me|tail one", 3, 1)
    assert out[2] == ("other text", 2, 1)
    with pytest.raises(ValueError, match="reserves"):
        dedup_lines(df.withColumn("n_removed", F.lit(0)))
    with pytest.raises(ValueError, match="reserves"):
        dedup_lines(df.withColumn("text_clean", F.lit("x")))


@pytest.mark.spark
def test_token_index_build_and_search(spark, tmp_path):
    """Inverted index answers AND/OR probes exactly; postings are
    distinct per (token, doc) even when a token repeats in a doc."""
    from parquet_spark.textops.textindex import (build_token_index,
                                                 search_tokens)
    rows = [(1, "Alpha beta GAMMA alpha"), (2, "beta delta"),
            (3, "gamma epsilon beta"), (4, "zeta!zeta, alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_token_index(df, idx, n_parts=2)
    allhit = {r.doc_id for r in
              search_tokens(spark, idx, ["alpha", "beta"]).collect()}
    assert allhit == {1}
    anyhit = {r.doc_id for r in
              search_tokens(spark, idx, ["ALPHA", "beta"],
                            mode="any").collect()}
    assert anyhit == {1, 2, 3, 4}
    # punctuation splits tokens; repeated token posts once
    from parquet_spark.manifest import read_decoded
    post = {r.token: (r.df, list(r.doc_ids))
            for r in read_decoded(spark, idx).collect()}
    assert post["zeta"] == (1, [4])
    assert post["alpha"] == (2, [1, 4])
    assert post["beta"][1] == sorted(post["beta"][1])


@pytest.mark.spark
def test_token_index_max_df_drops_stopwords(spark, tmp_path):
    from parquet_spark.manifest import read_decoded
    from parquet_spark.textops.textindex import (build_token_index,
                                                 search_tokens)
    rows = [(i, f"the common word{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_token_index(df, idx, max_df=3, n_parts=2)
    toks = {r.token for r in read_decoded(spark, idx).collect()}
    assert "the" not in toks and "common" not in toks  # df=6 > 3
    assert "word2" in toks  # df=1 survives
    assert search_tokens(spark, idx, ["the"]).count() == 0
    with pytest.raises(ValueError, match="mode"):
        search_tokens(spark, idx, ["x"], mode="nope")
    with pytest.raises(ValueError, match="at least one"):
        search_tokens(spark, idx, [])


@pytest.mark.spark
def test_token_index_probe_prunes_files(spark, tmp_path):
    """A single-token probe must touch a strict subset of the index's
    part files (manifest-level range pruning on token)."""
    from parquet_spark.manifest import EncodedTable, _prune_parts
    from parquet_spark.textops.textindex import build_token_index
    rows = [(i, f"w{i:03d} shared") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_token_index(df, idx, n_parts=4)
    parts = EncodedTable(idx).committed_parts()
    kept = _prune_parts(parts, [("token", "=", "w001")])
    assert 1 <= len(kept) < len(parts)


@pytest.mark.spark
def test_rank_tokens_quantized_tfidf(spark, tmp_path):
    """Exact integer scoring: weight = tf * (n_docs*1e6 div df), ties
    break by doc_id; guards reject bad inputs."""
    from parquet_spark.manifest import read_decoded
    from parquet_spark.textops.textindex import (build_token_index,
                                                 rank_tokens)
    rows = [(1, "alpha beta alpha alpha"), (2, "beta beta gamma"),
            (3, "alpha gamma"), (4, "delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_token_index(df, idx, n_parts=2)
    # tfs align with doc_ids in the postings
    post = {r.token: (list(r.doc_ids), list(r.tfs))
            for r in read_decoded(spark, idx).collect()}
    assert post["alpha"] == ([1, 3], [3, 1])
    assert post["beta"] == ([1, 2], [1, 2])
    got = [(r.rank, r.doc_id, r.score)
           for r in rank_tokens(spark, idx, ["alpha", "beta"],
                                n_docs=4, k=3).collect()]
    # idf(alpha)=idf(beta)=4e6 div 2=2_000_000
    assert got == [(1, 1, 8_000_000), (2, 2, 4_000_000),
                   (3, 3, 2_000_000)]
    with pytest.raises(ValueError, match="n_docs"):
        rank_tokens(spark, idx, ["alpha"], n_docs=0)
    with pytest.raises(ValueError, match="k must"):
        rank_tokens(spark, idx, ["alpha"], n_docs=4, k=0)


@pytest.mark.spark
def test_token_index_empty_corpus(spark, tmp_path):
    """An index built over zero documents commits (resumable no-op) and
    probes answer empty instead of failing on the schema-less table."""
    from parquet_spark.textops.textindex import (build_token_index,
                                                 rank_tokens,
                                                 search_tokens)
    df = spark.createDataFrame([], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    snap = build_token_index(df, idx, n_parts=2)
    assert snap["parts"] == {}
    assert search_tokens(spark, idx, ["x"]).count() == 0
    assert rank_tokens(spark, idx, ["x"], n_docs=1).count() == 0


@pytest.mark.spark
def test_token_index_prefix_search(spark, tmp_path):
    from parquet_spark.textops.textindex import (build_token_index,
                                                 search_prefix)
    rows = [(1, "vector vectors"), (2, "vecna stream"), (3, "velvet"),
            (4, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_token_index(df, idx, n_parts=2)
    assert {r.doc_id for r in
            search_prefix(spark, idx, "vec").collect()} == {1, 2}
    assert {r.doc_id for r in
            search_prefix(spark, idx, "VE").collect()} == {1, 2, 3}
    assert search_prefix(spark, idx, "zz").count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        search_prefix(spark, idx, "")


@pytest.mark.spark
def test_bigram_lm_train_counts_and_caps(spark, monkeypatch):
    """train_bigram_lm on a hand-countable corpus: exact unigram/bigram
    counts, deterministic (count desc, word asc) vocab cut, and the
    invariant that no bigram key escapes the vocabulary (OOV tokens are
    semi-joined away BEFORE the pair-count shuffle)."""
    from parquet_spark.textops.textstats import train_bigram_lm
    rows = [(1, "a b a b c"), (2, "a b z"), (3, "c a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # record the executed plan of every frame the trainer collects
    plans = []
    frame = type(df)
    collect = frame.collect

    def recording_collect(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(frame, "collect", recording_collect)
    lm = train_bigram_lm(df, vocab_size=3, bigram_cap=16)
    monkeypatch.undo()
    # both cuts (vocab_size, bigram_cap) are bounded top-k plans
    _assert_bounded_topk(plans[0], 3)
    _assert_bounded_topk(plans[-1], 16)
    # counts: a=4 b=3 c=2 z=1 -> vocab cap 3 drops z
    assert lm["vocab"] == {"a": 4, "b": 3, "c": 2}
    assert lm["n_tokens"] == 10
    # pairs within vocab: (a,b)x3 (b,a)x1 (b,c)x1 (c,a)x1; (b,z) dies
    # at the semi-join, so z can never mint a bigram key
    assert lm["bigrams"] == {("a", "b"): 3, ("b", "a"): 1,
                             ("b", "c"): 1, ("c", "a"): 1}
    # tie-break at the cap is (count desc, word asc): with vocab_size=2
    # the n=2 'c' loses to a/b deterministically
    lm2 = train_bigram_lm(df, vocab_size=2, bigram_cap=2)
    assert set(lm2["vocab"]) == {"a", "b"}
    # bigram cap keeps (a,b) n=3 then (b,a) by (w1 asc, w2 asc)
    assert lm2["bigrams"] == {("a", "b"): 3, ("b", "a"): 1}


@pytest.mark.spark
def test_bigram_lm_score_backoff_branches(spark):
    """score_bigram_lm per-pair stupid-backoff: every branch (bigram
    hit, vocab backoff, OOV floor) reproduced by a pure-Python model
    on the same counts — integers exactly, log-prob to float tol."""
    import math
    from parquet_spark.textops.textstats import (score_bigram_lm,
                                                 train_bigram_lm)
    rows = [(1, "a b a b c"), (2, "a b z"), (3, "c a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm = train_bigram_lm(df, vocab_size=3, bigram_cap=16)
    alpha, N = 0.4, lm["n_tokens"]

    def p(w1, w2):
        if (w1, w2) in lm["bigrams"] and w1 in lm["vocab"]:
            return lm["bigrams"][(w1, w2)] / lm["vocab"][w1]
        if w2 in lm["vocab"]:
            return alpha * lm["vocab"][w2] / N
        return alpha / N

    got = {r.doc_id: r for r in score_bigram_lm(df, lm).collect()}
    # doc 2 "a b z": (a,b) hit, (b,z) OOV floor
    assert (got[2].lm_pairs, got[2].lm_oov, got[2].lm_hits) == (2, 1, 1)
    exp2 = (math.log(p("a", "b")) + math.log(p("b", "z"))) / 2
    assert got[2].lm_logprob == pytest.approx(exp2, rel=1e-12)
    # doc 1 exercises hit-only pairs; doc 3 (c,a) is also a hit
    for d, toks in {1: "a b a b c".split(), 3: "c a".split()}.items():
        prs = list(zip(toks, toks[1:]))
        assert got[d].lm_pairs == len(prs)
        exp = sum(math.log(p(a, b)) for a, b in prs) / len(prs)
        assert got[d].lm_logprob == pytest.approx(exp, rel=1e-12)
    # vocab-backoff branch: pair absent from bigrams but w2 in vocab
    one = spark.createDataFrame([(9, "z c")], "doc_id long, text string")
    r9 = score_bigram_lm(one, lm).collect()[0]
    assert (r9.lm_pairs, r9.lm_oov, r9.lm_hits) == (1, 0, 0)
    assert r9.lm_logprob == pytest.approx(math.log(p("z", "c")), rel=1e-12)
    # a one-token document has no pairs -> no output row
    short = spark.createDataFrame([(8, "a")], "doc_id long, text string")
    assert score_bigram_lm(short, lm).count() == 0


@pytest.mark.spark
def test_dup_span_stats_hand_counts(spark):
    """Window-granular ExactSubstr on a planted shared span: exact
    window/coverage arithmetic, overlap union (no double-count),
    short-doc and unique-doc zero rows, and the min_docs vote."""
    from parquet_spark.textops.dedup import dup_span_stats
    rows = [(1, "a b c d e x y z"),       # shares 'a b c d e' with 2
            (2, "q a b c d e r"),
            (3, "totally unique words here now"),
            (4, "a b")]                   # < k tokens: no windows
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: tuple(r)[1:] for r in
           dup_span_stats(df, k=3).collect()}
    # (n_tokens, n_windows, n_dup_windows, n_dup_tokens)
    assert got[1] == (8, 6, 3, 5)   # dup windows pos 1-3, cover 1..5
    assert got[2] == (7, 5, 3, 5)   # dup windows pos 2-4, cover 2..6
    assert got[3] == (5, 3, 0, 0)
    assert got[4] == (2, 0, 0, 0)
    # min_docs=3: the pair-shared span no longer votes
    got3 = {r.doc_id: r.n_dup_windows for r in
            dup_span_stats(df, k=3, min_docs=3).collect()}
    assert all(v == 0 for v in got3.values())
    # a span repeated WITHIN one doc is not cross-doc duplication
    one = spark.createDataFrame(
        [(9, "p q r s p q r s")], "doc_id long, text string")
    r9 = dup_span_stats(one, k=3).collect()[0]
    assert (r9.n_dup_windows, r9.n_dup_tokens) == (0, 0)
    # case-sensitive identity: only 'b c d' is shared, 'A b c' is not
    cs = spark.createDataFrame(
        [(1, "A b c d"), (2, "a b c d")], "doc_id long, text string")
    assert all((r.n_dup_windows, r.n_dup_tokens) == (1, 3) for r in
               dup_span_stats(cs, k=3).collect())
    with pytest.raises(ValueError, match="min_docs"):
        dup_span_stats(df, k=3, min_docs=1)
    with pytest.raises(ValueError, match="k must"):
        dup_span_stats(df, k=0)


@pytest.mark.spark
def test_remove_dup_spans_keep_one_copy(spark):
    """ExactSubstr removal: min-doc_id owner keeps its copy, every
    other doc loses the covered positions (union over overlaps);
    short docs pass through; kept = n_tokens - n_removed."""
    from parquet_spark.textops.dedup import remove_dup_spans
    rows = [(1, "a b c d e x y z", "en"),   # owner of 'a b c'... spans
            (2, "q a b c d e r", "en"),     # loses pos 2..6
            (3, "c d e f g", "de"),         # loses pos 1..3 ('c d e')
            (4, "a b", "de"),               # < k tokens: untouched
            (5, "totally unique words here", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: (r.text, r.n_tokens, r.n_removed, r.lang)
           for r in remove_dup_spans(df, k=3).collect()}
    assert got[1] == ("a b c d e x y z", 8, 0, "en")   # owner keeps
    assert got[2] == ("q r", 7, 5, "en")
    assert got[3] == ("f g", 5, 3, "de")
    assert got[4] == ("a b", 2, 0, "de")
    assert got[5] == ("totally unique words here", 4, 0, "en")
    # non-id columns survive the rewrite (checked via lang above);
    # whitespace is normalized even for untouched docs
    messy = spark.createDataFrame(
        [(7, "  padded   tokens  ")], "doc_id long, text string")
    assert remove_dup_spans(messy, k=3).collect()[0].text == "padded tokens"
    # within-doc repetition of an un-shared span is never cut
    one = spark.createDataFrame(
        [(9, "p q r s p q r s")], "doc_id long, text string")
    r9 = remove_dup_spans(one, k=3).collect()[0]
    assert (r9.text, r9.n_removed) == ("p q r s p q r s", 0)
    # owner keeps BOTH copies of a span it owns when repeated in-doc
    two = spark.createDataFrame(
        [(1, "u v w z u v w"), (2, "m u v w n")],
        "doc_id long, text string")
    got2 = {r.doc_id: (r.text, r.n_removed)
            for r in remove_dup_spans(two, k=3).collect()}
    assert got2[1] == ("u v w z u v w", 0)
    assert got2[2] == ("m n", 3)
    # reserved-column guard
    with pytest.raises(ValueError, match="reserved"):
        remove_dup_spans(df.withColumn("n_removed", F.lit(1)), k=3)


# ---------------------------------------------------------------- htmlops


@pytest.mark.spark
def test_extract_text_inverts_synth_html(spark, docs):
    """extract_text(synth_html(text)) == text for clean single-spaced
    source — the north-rule byte-identity, end-to-end through Spark."""
    from parquet_spark.textops.htmlops import extract_text, synth_html
    h = synth_html(docs)
    e = extract_text(h.select("doc_id", "html"), html_col="html")
    back = {r.doc_id: (r.text, r.n_links) for r in e.collect()}
    for r in docs.collect():
        assert back[r.doc_id][0] == r.text, r.doc_id
        assert back[r.doc_id][1] == 1      # exactly one synthetic anchor


def test_extract_html_text_spec():
    """The extraction spec, clause by clause, on hand-written HTML."""
    from parquet_spark.textops.htmlops import extract_html_text
    t, n = extract_html_text(
        "<html><head><title>skip me</title><style>p{}</style>"
        "<script>var x='skip';</script></head>"
        "<body><!-- skip -->\n<p>keep&#32;one</p>\n"
        "<p>keep <a href='#'>two</a>\t three</p>"
        "<noscript>skip</noscript><br><b>bo</b>ld</body></html>")
    # title/style/script/comment/noscript dropped; entities decoded;
    # whitespace runs collapse; inline tags flatten (space-joined)
    assert t == "keep one keep two three bo ld"
    assert n == 1
    # charref forms: decimal, hex, named
    assert extract_html_text("<p>a&#32;b&#x20;c&amp;d&lt;e</p>")[0] \
        == "a b c&d<e"
    # bytes input with broken utf-8 must not raise
    t2, _ = extract_html_text(b"<p>ok \xff broken</p>")
    assert t2.startswith("ok")
    # void skip-adjacent tags never deadlock the skip counter
    assert extract_html_text("<script>x</script><p>a</p>")[0] == "a"
    assert extract_html_text("")[0] == ""


@pytest.mark.spark
def test_extract_text_null_and_passthrough(spark):
    """Null html -> null text; non-html columns pass through; binary
    and string html columns both accepted."""
    from parquet_spark.textops.htmlops import extract_text
    df = spark.createDataFrame(
        [(1, "en", bytearray(b"<p>hello world</p>")), (2, "fr", None)],
        "doc_id bigint, lang string, html binary")
    out = {r.doc_id: r for r in
           extract_text(df, html_col="html").collect()}
    assert out[1].text == "hello world" and out[1].lang == "en"
    assert out[2].text is None and out[2].n_links == 0
    s = spark.createDataFrame([(3, "<p>a&amp;b</p>")],
                              "doc_id bigint, html string")
    assert extract_text(s, html_col="html").head().text == "a&b"


# ----------------------------------------------------------------- urlops


@pytest.mark.spark
def test_url_features_structure(spark):
    from parquet_spark.textops.urlops import url_features
    df = spark.createDataFrame(
        [(1, "https://www.Example.co.uk:443/a/b/c?z=9&a=1#frag"),
         (2, "http://sub.deep.example.com:8080/?x=1"),
         (3, "ftp://user:pw@files.example.org/pub"),
         (4, "https://example.io"),
         (5, "not a url"),
         (6, "https://host.co.uk")],
        "doc_id bigint, url string")
    r = {x.doc_id: x for x in url_features(df).collect()}
    assert (r[1].scheme, r[1].host, r[1].port) == \
        ("https", "www.example.co.uk", 443)
    assert r[1].registered_domain == "example.co.uk"      # PSL 2-label
    assert (r[1].subdomain, r[1].tld) == ("www", "uk")
    assert (r[1].path_depth, r[1].n_params, r[1].has_fragment) == \
        (3, 2, True)
    assert r[2].registered_domain == "example.com"
    assert r[2].subdomain == "sub.deep" and r[2].port == 8080
    assert r[3].host == "files.example.org"               # userinfo gone
    assert r[4].port is None and r[4].path_depth == 0
    assert r[5].scheme == "" and r[5].port is None        # malformed: nulls
    assert r[6].registered_domain == "host.co.uk"         # host == regdom


@pytest.mark.spark
def test_canonicalize_url_dedup_key(spark):
    from parquet_spark.textops.urlops import canonicalize_url
    df = spark.createDataFrame(
        [(1, "https://www.Example.com:443/page?b=2&a=1#x"),
         (2, "https://www.example.com/page?a=1&b=2"),
         (3, "http://h.io:80"),
         (4, "http://h.io/"),
         (5, "not a url")],
        "doc_id bigint, url string")
    c = {x.doc_id: x.url_canon
         for x in canonicalize_url(df).collect()}
    # 1 and 2 name the same page -> same canonical key
    assert c[1] == c[2] == "https://www.example.com/page?a=1&b=2"
    assert c[3] == c[4] == "http://h.io/"
    assert c[5] == "not a url"                            # passthrough


@pytest.mark.spark
def test_gopher_filter_rules(spark):
    from parquet_spark.textops.textstats import gopher_filter
    rows = [
        (1, ("the quick brown fox likes to be of use and that is fine "
             "to have with ") * 4),                    # passes all
        (2, "short text"),                             # too few words
        (3, "#### " * 60),                             # symbols+alpha+stops
        (4, " ".join(["supercalifragilistic"] * 60)),  # word len, stops
        (5, "dots ... and ... more ... dots " * 10),   # ellipsis symbols
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    r = {x.doc_id: x for x in gopher_filter(df, min_words=20,
                                            min_stop_hits=2).collect()}
    assert r[1].keep and r[1].stop_hits >= 2
    assert not r[2].ok_words
    assert not r[3].ok_symbols and not r[3].ok_alpha
    assert not r[4].ok_word_len and not r[4].ok_stopwords
    assert r[5].symbol_ratio > 0.1 and not r[5].ok_symbols
    # whitespace-split robustness: tabs/newlines count as separators
    df2 = spark.createDataFrame([(9, "a\tb\nc d")],
                                "doc_id bigint, text string")
    assert gopher_filter(df2).head().n_words == 4


@pytest.mark.spark
def test_semdedup_keeps_one_per_semantic_cluster(spark):
    """Two tight semantic groups plus one isolate, centroids given
    explicitly: each group collapses to its min id, the isolate and
    the cross-cluster near-parallel pair both survive (pairs form only
    WITHIN a cluster — the SemDeDup contract)."""
    from parquet_spark.textops.dedup import semdedup
    rows = [
        (0, [1.0, 0.0, 0.0]),   # cluster A, dup group {0,1,2}
        (1, [0.999, 0.04, 0.0]),
        (2, [0.998, 0.06, 0.0]),
        (3, [0.0, 1.0, 0.0]),   # cluster B, dup group {3,4}
        (4, [0.02, 0.999, 0.0]),
        (5, [0.0, 0.0, 1.0]),   # isolate (equidistant -> tie-break c0)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    kept = semdedup(emb, centroids=cents, threshold=0.95)
    got = {(r.vec_id, r.cluster) for r in kept.collect()}
    assert got == {(0, 0), (3, 1), (5, 0)}


@pytest.mark.spark
def test_semdedup_default_seeding_deterministic(spark, vecs):
    """Default md5 seeding: two runs agree row-for-row, keepers are a
    subset of the input, and every kept id is its component's min
    (no kept id ever appears as the greater member of a >=tau pair
    with another kept id in the same cluster)."""
    from parquet_spark.textops.dedup import semdedup
    a = sorted(r.vec_id for r in
               semdedup(vecs, n_clusters=4, threshold=0.9).collect())
    b = sorted(r.vec_id for r in
               semdedup(vecs, n_clusters=4, threshold=0.9).collect())
    assert a == b and len(a) >= 1
