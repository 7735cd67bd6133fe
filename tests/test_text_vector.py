"""North-star operators (§2.10): dedup finds planted duplicates, similarity
search ranks correctly, text stats are exact on hand-computable inputs."""

import pytest
from pyspark.sql import functions as F

from apache_flink_essentials_spark.operators import dedup as D
from apache_flink_essentials_spark.operators import multimodal as M
from apache_flink_essentials_spark.operators import text as X
from apache_flink_essentials_spark.operators import vector as V


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank yesterday"
    far = "completely different words about spark engines and distributed query planning"
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, base, "en", "src0", len(base)),          # exact dup of 0
        (2, near, "en", "src0", len(near)),          # near dup of 0
        (3, far, "en", "src0", len(far)),
        (4, "short text", "en", "src1", 10),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_groups(spark, docs):
    out = D.exact_dedup(docs)
    groups = {r.keep_id: r.n_dups for r in out.collect()}
    assert groups[0] == 2 and groups[2] == 1 and len(groups) == 4


def test_minhash_lsh_finds_planted_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs          # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs   # near dup caught
    assert not any(3 in p for p in pairs)       # unrelated doc excluded


def test_ngram_jaccard_blocked(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(
        docs, block_cols=["lang", "source"]).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8


def test_simhash_exact_dup_zero_hamming(spark, docs):
    out = {(r.id_a, r.id_b): r.hamming for r in D.simhash_dup_pairs(docs).collect()}
    assert out.get((0, 1)) == 0


def test_simhash_best_match_agrees_with_pair_argmin(spark, docs):
    # the corpus-bounded contract must equal a driver-side argmin over the
    # symmetrized pair output (hamming asc, partner asc tiebreak)
    pairs = D.simhash_dup_pairs(docs).collect()
    expect = {}
    for r in pairs:
        for doc, partner in ((r.id_a, r.id_b), (r.id_b, r.id_a)):
            cur = expect.get(doc)
            if cur is None or (r.hamming, partner) < cur:
                expect[doc] = (r.hamming, partner)
    got = {
        r.doc_id: (r.best_hamming, r.best_match_id)
        for r in D.simhash_best_match(docs).collect()
    }
    assert got == expect
    assert got  # the planted exact dup guarantees a non-empty result


def test_text_stats_exact(spark, docs):
    r = X.text_stats(docs).filter(F.col("doc_id") == 4).collect()[0]
    assert (r.n_tokens, r.n_distinct_tokens, r.n_chars) == (2, 2, 10)
    assert r.stopword_ratio == 0.0 and r.ttr == 1.0


def test_lang_detect_heuristic(spark):
    rows = [
        (0, "the cat and the dog is here", "x", "s", 1),
        (1, "el perro y la casa de que y", "x", "s", 1),
        (2, "xyzzy qwerty plugh", "x", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r.doc_id: r.detected_lang for r in X.detect_language(df).collect()}
    assert got[0] == "en" and got[1] == "es" and got[2] == "und"


def test_knn_excludes_self_and_ranks(spark):
    import random

    random.seed(7)
    dim = 64
    base = [random.uniform(-1, 1) for _ in range(dim)]
    near = [x + random.uniform(-0.01, 0.01) for x in base]
    rows = [(0, base, 0), (1, near, 0)] + [
        (i, [random.uniform(-1, 1) for _ in range(dim)], 1) for i in range(2, 30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = V.knn_cosine_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert all(r.neighbor_id != 0 for r in rows)
    assert rows[0].neighbor_id == 1 and rows[0].cosine > 0.99
    assert rows[0].cosine >= rows[1].cosine >= rows[2].cosine


def test_embedding_dedup_finds_planted_duplicate(spark):
    import random

    random.seed(9)
    dim = 64
    base = [random.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, base, 0), (1, list(base), 0)] + [
        (i, [random.uniform(-1, 1) for _ in range(dim)], 1) for i in range(2, 20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r.id_a, r.id_b): r.cosine for r in V.embedding_dedup_pairs(emb, threshold=0.99).collect()}
    assert pairs.get((0, 1)) == 1.0


def test_embedding_dedup_auto_planes(spark):
    # policy: occupancy held constant — clamp(ceil(log2(n/target)), 4, 24)
    assert V.auto_num_planes(0) == 4
    assert V.auto_num_planes(20) == 4          # sf0.001 fixture → lo clamp
    assert V.auto_num_planes(200) == 5         # sf0.01
    assert V.auto_num_planes(2_000) == 8       # sf0.1 — matches the pinned oracle
    assert V.auto_num_planes(20_000) == 12     # sf1
    assert V.auto_num_planes(10**12) == 24     # hi clamp

    # identical vectors share every sign bit at ANY plane count, so the
    # planted exact duplicate survives auto scaling
    import random

    random.seed(9)
    dim = 64
    base = [random.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, base, 0), (1, list(base), 0)] + [
        (i, [random.uniform(-1, 1) for _ in range(dim)], 1) for i in range(2, 20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in V.embedding_dedup_pairs(emb, threshold=0.99, num_planes=None).collect()
    }
    assert pairs.get((0, 1)) == 1.0


def test_multimodal_feature_plumbing(spark, docs):
    feats = M.extract_features(M.documents_as_media(docs), dim=8).collect()
    assert len(feats) == 5
    by_id = {r.media_id: r for r in feats}
    assert by_id[0].features == by_id[1].features          # same payload → same features
    assert all(len(r.features) == 8 for r in feats)
    assert abs(sum(by_id[0].features) - 1.0) < 0.01        # L1-normalized


def test_multimodal_real_decode_honest_on_text(spark, docs):
    # real decode path (default): text payloads are not images, so every row
    # must take the decoded=false byte-histogram fallback — never a silent
    # false "decoded"
    media = M.documents_as_media(docs)
    rows = M.extract_features(media, decode_stub=False).collect()
    assert rows and all(not r.decoded and r.format is None for r in rows)


def test_frame_sample_plan(spark):
    rows = [(1, "video", bytearray(b"xx"), ("video/mp4", None, None, 3500, None))]
    from apache_flink_essentials_spark.schemas import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = M.frame_sample_plan(media, every_ms=1000)
    assert [r.sample_ms for r in out.collect()] == [0, 1000, 2000, 3000]


def test_resize_images_plumbing(spark, docs):
    media = M.documents_as_media(docs)
    out = M.resize_images(media, 224, 224).collect()
    assert len(out) == 5                                   # all rows are 'image'
    assert all(r.width == 224 and r.height == 224 for r in out)
    # stub passes payload through unchanged (deterministic)
    orig = {r.media_id: bytes(r.payload) for r in media.collect()}
    assert all(bytes(r.payload) == orig[r.media_id] for r in out)


def test_resize_filters_non_images_before_python(spark):
    from apache_flink_essentials_spark.schemas import MEDIA_SCHEMA

    rows = [
        (1, "video", bytearray(b"vv"), ("video/mp4", None, None, 3500, None)),
        (2, "image", bytearray(b"ii"), ("image/png", 8, 8, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = M.resize_images(media, 64, 64)
    # the modality filter sits below the Python boundary in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 1
    assert "image" in plan


def test_spread_media_partitioning(spark, docs):
    media = M.spread_media(M.documents_as_media(docs), 4)
    assert media.rdd.getNumPartitions() == 4
    assert media.count() == 5


def test_ivf_search_recall_and_exactness_at_full_probe(spark):
    import random

    random.seed(11)
    dim = 64
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)], i % 3) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") < 4)
    cents = V.kmeans_fit(emb, k=4, iters=2)
    exact = {(r.query_id, r.neighbor_id) for r in V.knn_cosine_bruteforce(emb, q, k=3).collect()}
    # full probe (nprobe = k clusters) must equal brute force exactly
    full = {(r.query_id, r.neighbor_id) for r in V.ivf_search(emb, q, cents, k=3, nprobe=4).collect()}
    assert full == exact
    # partial probe: valid top-k subset behavior (recall may be < 1)
    part = V.ivf_search(emb, q, cents, k=3, nprobe=2)
    by_q = {}
    for r in part.collect():
        by_q.setdefault(r.query_id, []).append(r.cosine)
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_ann_lsh_arrow_matches_expression_form(spark):
    import random

    random.seed(21)
    dim = 64
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)], 0) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") < 5)
    kwargs = dict(k=4, num_planes=4, num_tables=6)
    a = sorted(map(tuple, V.ann_lsh_cosine(emb, q, **kwargs).collect()))
    b = sorted(map(tuple, V.ann_lsh_cosine(emb, q, use_arrow=True, **kwargs).collect()))
    assert a == b


def test_ivf_assign_arrow_matches_expression_form(spark):
    import random

    random.seed(33)
    dim = 64
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)], 0) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cents = [list(r.embedding) for r in emb.orderBy("vec_id").limit(6).collect()]
    a = {r.vec_id: r.cluster_id for r in V.ivf_assign(emb, cents, use_arrow=False).collect()}
    b = {r.vec_id: r.cluster_id for r in V.ivf_assign(emb, cents, use_arrow=True).collect()}
    assert a == b


def test_connected_components_planted_graph(spark):
    # chain 1-2-3-4 (incl. a cycle edge), pair 10-11, star 20-{21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    rows = sorted((r.node, r.component) for r in D.connected_components(edges).collect())
    assert rows == [
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    ]


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(edges).count() == 0


def test_dedup_clusters_transitive_chain(spark, docs):
    # docs 0 (base), 1 (exact dup), 2 (near dup): LSH pairs (0,1),(0,2),(1,2)
    # must collapse into ONE cluster with rep 0 — pairwise output alone
    # can't express that; the cluster op must.
    out = {r.doc_id: r.rep_id for r in D.dedup_clusters(docs).collect()}
    assert out == {0: 0, 1: 0, 2: 0}


def test_dedup_against_corpus_drops_known_fingerprints(spark, docs):
    corpus = docs.filter(F.col("doc_id") <= 1)       # contains base text
    new = docs.filter(F.col("doc_id") >= 1)          # 1 dups corpus, 2-4 novel
    kept = {r.doc_id for r in D.dedup_against_corpus(new, corpus).collect()}
    assert kept == {2, 3, 4}                         # doc 1 dropped (known)


def test_centroid_outliers_hand_example(spark):
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0),   # centroid [.5,.5]
        (3, [2.0, 2.0], 1),                        # own centroid → cosine 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r.cosine_to_centroid for r in V.centroid_outliers(df).collect()}
    assert abs(out[1] - 0.707107) < 1e-6 and abs(out[2] - 0.707107) < 1e-6
    assert abs(out[3] - 1.0) < 1e-6


def test_term_stats_hand_computed(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "the cat the dog"), (2, "the dog runs"), (3, "a cat")],
        "doc_id long, text string",
    )
    out = {r.term: (r.df, r.total_tf) for r in X.term_stats(docs).collect()}
    assert out["the"] == (2, 3)   # docs 1,2; tf 2+1
    assert out["cat"] == (2, 2)
    assert out["dog"] == (2, 2)
    assert out["runs"] == (1, 1)
    assert out["a"] == (1, 1)


def test_tfidf_top_terms_ranks_rare_terms_first(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "common rare rare"), (2, "common x"), (3, "common y")],
        "doc_id long, text string",
    )
    out = X.tfidf_top_terms(docs, k=1).collect()
    top = {r.doc_id: (r.term, r.tfidf) for r in out}
    # doc 1: 'rare' tf=2 df=1 → 2*3/1=6 beats 'common' tf=1 df=3 → 1
    assert top[1] == ("rare", 6.0)
    assert top[2][0] == "x" and top[3][0] == "y"


def test_oov_rate_planted(spark):
    # "the" dominates; rare terms fall outside a top-1 vocabulary
    docs = spark.createDataFrame(
        [(1, "the the the"), (2, "the zebra"), (3, "qux zap")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.oov_rate(docs, vocab_size=1).collect()}
    assert out[1].oov_tokens == 0 and out[1].oov_rate == 0.0
    assert out[2].n_tokens == 2 and out[2].oov_tokens == 1
    assert out[3].oov_rate == 1.0


def test_semantic_dedup_planted_duplicates(spark):
    rows = []
    # two well-separated direction clusters, 20 vectors each; WITHIN a
    # cluster, consecutive angles differ by ≥1.0° (cosine ≤ ~0.9998), so
    # nothing but the planted pair crosses the 0.9999 threshold
    for i in range(20):
        rows.append((i, [10.0, 1.0 + i * 0.25, 0.0]))
        rows.append((100 + i, [1.0 + i * 0.25, 10.0, 0.0]))
    # planted near-duplicate pair INSIDE cluster A, angularly ~4.3° below
    # the arm's lowest vector (cosine ≈ 0.997 to it — well under threshold)
    rows.append((500, [10.0, 0.25, 0.0]))
    rows.append((501, [10.001, 0.2501, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    drop = V.semantic_dedup(emb, k=2, iters=3, threshold=0.9999)
    got = {r.vec_id: r.kept_neighbor for r in drop.collect()}
    assert got.get(501) == 500  # higher id superseded by lowest-id neighbor
    assert 500 not in got


def test_bm25_rank_orders_by_relevance(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join"),      # heavy on both query terms
            (2, "spark banana banana banana"),  # one hit, long-ish
            (3, "banana kiwi mango papaya"),    # no hits
            (4, "spark join"),                  # both terms, shortest doc
        ],
        "doc_id long, text string",
    )
    out = X.bm25_rank(docs, ["spark", "join"], k=10)
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids            # zero-hit docs don't appear
    assert ids[0] in (1, 4)        # both-term docs outrank the one-term doc
    assert ids[-1] == 2
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_near_dedup_against_corpus_planted(spark):
    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog near the river"),
         (2, "completely unrelated text about query engines and planning")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [  # near-rewrite of corpus doc 0 → dropped
            (1, "the quick brown fox jumps over the lazy dog near the ocean"),
            # fresh content → kept
            (3, "novel document with entirely new vocabulary and meaning"),
        ],
        "doc_id long, text string",
    )
    out = D.near_dedup_against_corpus(new, corpus)
    assert [r.doc_id for r in out.collect()] == [3]


def test_pca_recovers_planted_direction(spark):
    import math
    import random

    rng = random.Random(5)
    d = 8
    direction = [1.0 / math.sqrt(d)] * d
    rows = []
    for i in range(200):
        t = rng.gauss(0, 10)          # dominant variance along `direction`
        noise = [rng.gauss(0, 0.1) for _ in range(d)]
        rows.append((i, [t * direction[j] + noise[j] for j in range(d)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = V.pca_fit(emb, k=3, dim=d)
    c0 = model["components"][0]
    cos = sum(a * b for a, b in zip(c0, direction))
    assert abs(cos) > 0.99
    ev = model["explained_variance"]
    assert ev[0] > 50 * ev[1]          # variance concentrated in component 0
    assert ev[0] >= ev[1] >= ev[2]

    proj = V.pca_project(emb, model, out_col="pca")
    out = proj.collect()
    assert all(len(r.pca) == 3 for r in out)
    # projection onto c0 recovers t up to sign/noise: variance of pca[0]
    # must dwarf pca[1]
    import statistics
    v0 = statistics.pvariance([r.pca[0] for r in out])
    v1 = statistics.pvariance([r.pca[1] for r in out])
    assert v0 > 50 * v1


def test_pca_fit_is_deterministic(spark):
    import random

    rng = random.Random(6)
    rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m1 = V.pca_fit(emb, k=2, dim=6)
    m2 = V.pca_fit(emb.repartition(7), k=2, dim=6)
    for a, b in zip(m1["components"], m2["components"]):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9


def test_signature_table_path_matches_direct_near_dedup(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"shared prefix tokens alpha beta gamma delta doc {i % 3}")
         for i in range(12)] + [(100, "entirely different content here now")],
        "doc_id long, text string",
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    direct = {r.doc_id for r in D.near_dedup_against_corpus(new, corpus).collect()}
    # signature table round-tripped through parquet (the persist path)
    sig_path = str(tmp_path / "sigs")
    D.build_signature_table(corpus).write.parquet(sig_path)
    sigs = spark.read.parquet(sig_path)
    via_table = {r.doc_id for r in D.near_dedup_with_signatures(new, sigs).collect()}
    assert via_table == direct


def test_substring_dup_spans_planted(spark):
    # doc 0 and 1 share an 8-token prefix; doc 2 is unrelated; doc 3 too short
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, shared + " unique tail zero one two", ),
        (1, shared + " other ending words here now", ),
        (2, "nothing in common with anything else at all nine ten", ),
        (3, "tiny", ),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.substring_dup_spans(df, k=8, min_docs=2).collect()}
    # doc 3 (< k tokens) excluded entirely
    assert set(out) == {0, 1, 2}
    # exactly the 8 shared prefix tokens are covered in docs 0 and 1
    assert out[0].dup_tokens == 8 and out[1].dup_tokens == 8
    assert out[0].n_tokens == 13 and out[0].dup_fraction == 8 / 13
    assert out[2].dup_tokens == 0 and out[2].dup_fraction == 0.0


def test_substring_dup_spans_overlapping_intervals(spark):
    # doc 0 fully inside doc 1: every 4-gram of doc 0 duplicated -> full cover
    a = "one two three four five six"
    rows = [(0, a), (1, a + " seven eight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.substring_dup_spans(df, k=4, min_docs=2).collect()}
    assert out[0].dup_fraction == 1.0          # overlapping spans union to n
    assert out[1].dup_tokens == 6 and out[1].n_tokens == 8


def test_mmr_diversify_prefers_coverage(spark):
    # query 1 candidates: two near-identical high-scoring vectors and one
    # orthogonal lower-scoring vector — plain top-2 takes the twins, MMR
    # must take one twin + the orthogonal doc
    rows = [
        (1, 10, [1.0, 0.0, 0.0], 0.95),
        (1, 11, [0.999, 0.01, 0.0], 0.94),   # near-dup of 10
        (1, 12, [0.0, 1.0, 0.0], 0.80),      # diverse
        (2, 20, [1.0, 0.0, 0.0], 0.9),       # second query group
        (2, 21, [0.0, 0.0, 1.0], 0.5),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, neighbor_id long, embedding array<double>, cosine double",
    )
    out = V.mmr_diversify(df, k=2, lam=0.5)
    got = {
        q: [r.neighbor_id for r in rs]
        for q, rs in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: (r.query_id, r.rank)),
            key=lambda r: r.query_id,
        )
    }
    assert got[1] == [10, 12]          # not [10, 11]
    assert got[2] == [20, 21]


def test_mmr_rank1_is_plain_argmax_and_deterministic(spark):
    rows = [
        (1, 5, [1.0, 0.0], 0.9),
        (1, 3, [0.0, 1.0], 0.9),   # tie on score -> lower id wins rank 1
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, embedding array<double>, cosine double"
    )
    out = sorted(V.mmr_diversify(df, k=1, lam=1.0).collect(),
                 key=lambda r: r.rank)
    assert [(r.rank, r.neighbor_id) for r in out] == [(1, 3)]


def test_mmr_exact_agrees_with_pandas_mmr(spark):
    # the expression-path twin must pick the same ids in the same order as
    # the numpy greedy on well-separated data (rounded sims can only
    # diverge on sub-1e-6 ties, absent here)
    rows = [
        (1, 10, [1.0, 0.0, 0.0], 0.95),
        (1, 11, [0.999, 0.01, 0.0], 0.94),
        (1, 12, [0.0, 1.0, 0.0], 0.80),
        (1, 13, [0.0, 0.9, 0.4], 0.70),
        (2, 20, [1.0, 0.0, 0.0], 0.9),
        (2, 21, [0.0, 0.0, 1.0], 0.5),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, neighbor_id long, embedding array<double>, cosine double",
    )
    want = sorted(
        [(r.query_id, r.rank, r.neighbor_id)
         for r in V.mmr_diversify(df, k=3, lam=0.5).collect()]
    )
    got = sorted(
        [(r.query_id, r.rank, r.neighbor_id)
         for r in V.mmr_diversify_exact(df, k=3, lam=0.5).collect()]
    )
    assert got == want
    # and the diversity property holds directly
    by_q = {}
    for q, rank, nid in got:
        by_q.setdefault(q, []).append(nid)
    assert by_q[1][:2] == [10, 12]     # twin 11 skipped at rank 2


def test_mmr_exact_rank1_tiebreak_and_k_truncation(spark):
    rows = [
        (1, 5, [1.0, 0.0], 0.9),
        (1, 3, [0.0, 1.0], 0.9),   # score tie -> lower id is rank 1
    ]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, embedding array<double>, cosine double"
    )
    out = sorted(
        V.mmr_diversify_exact(df, k=1, lam=1.0).collect(),
        key=lambda r: r.rank,
    )
    assert [(r.rank, r.neighbor_id) for r in out] == [(1, 3)]


def test_hot_bucket_salted_join_broadcast_fallback_unchanged(spark, monkeypatch):
    # >SALT_MAX_INLINE_HOT hot keys routes through the broadcast-join form —
    # pin its output against the plain join (r13: the inline-map and
    # empty-hot paths are pinned by the forced-salting tests below)
    import apache_flink_essentials_spark.operators.skew as SK

    rows = [(i, i % 5) for i in range(60)]
    df = spark.createDataFrame(rows, "id_a long, bucket long")
    right = df.select(F.col("id_a").alias("id_b"), "bucket")
    plain = {
        (r.bucket, r.id_a, r.id_b)
        for r in df.join(right, "bucket").collect()
    }
    monkeypatch.setattr(SK, "SALT_THRESHOLD", 2)
    monkeypatch.setattr(SK, "SALT_MAX_INLINE_HOT", 1)
    salted = {
        (r.bucket, r.id_a, r.id_b)
        for r in SK.hot_bucket_salted_join(df, right, "bucket").collect()
    }
    assert salted == plain and plain


def test_winnow_fingerprints_guarantee_and_density(spark):
    # identical docs share ALL fingerprints; a doc sharing a long substring
    # shares at least one (the winnowing guarantee: len >= w + k - 1)
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, shared),
        (1, shared),                                   # identical
        (2, shared + " lambda mu nu xi omicron pi"),   # superstring
        (3, "totally different words with no overlap here at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in X.winnow_fingerprints(df, k=5, w=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert fps[0] == fps[1]
    assert fps[0] & fps[2]                  # guarantee: >=1 shared
    assert not (fps[0] & fps[3])
    # density: far fewer fingerprints than grams (10 tokens -> 6 grams)
    assert len(fps[0]) <= 3


def test_winnow_candidate_pairs_finds_planted_overlap(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (0, shared + " tail one two three four five"),
        (1, "prefix words here then " + shared),
        (2, "unrelated text with completely different content in every way"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in X.winnow_candidate_pairs(
        df, k=5, w=4, min_shared=1).collect()}
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_unigram_logprob_hand_computed(spark):
    # corpus: "a a b" + "a c" → counts a=3, b=1, c=1, total=5.
    # doc 0 mean = (2*log10(3) + log10(1))/3 - log10(5)
    # doc 1 mean = (log10(3) + log10(1))/2 - log10(5)
    import math

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.mean_logprob)
           for r in X.unigram_logprob(docs).collect()}
    ml3 = round(math.log10(3) * 1e6) / 1e6  # the operator's micro-log grid
    assert got[0][0] == 3 and got[1][0] == 2
    assert abs(got[0][1] - (2 * ml3 / 3 - math.log10(5))) < 1e-9
    assert abs(got[1][1] - (ml3 / 2 - math.log10(5))) < 1e-9
    # rarer tokens → lower mean logprob
    assert got[1][1] < got[0][1]


def test_pmi_pairs_flags_collocation(spark):
    # "x y" always co-occur (5 docs); "x z" co-occur in only 5 of 10 docs
    # where z appears → PMI(x,y) > PMI(x,z); pairs below min_pair_docs drop
    rows = [(i, "x y z w") for i in range(5)]
    rows += [(5 + i, "z w") for i in range(5)]
    rows += [(10 + i, "w", ) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.pmi_pairs(docs, vocab_size=4, min_pair_docs=2, top_k=10)
    got = {(r.tok_a, r.tok_b): (r.pair_docs, r.pmi) for r in out.collect()}
    assert got[("x", "y")][0] == 5
    assert got[("w", "z")][0] == 10
    # x,y co-occur perfectly (df 5 each, 14 docs): pmi = log10(5*14/25) > 0
    assert got[("x", "y")][1] > got[("x", "z")][1]
    # symmetric ordering: tok_a < tok_b always
    assert all(a < b for a, b in got)


def test_exact_dedup_best_keeps_highest_score(spark, docs):
    # docs 0 and 1 share identical text; scoring by doc_id*10 must keep 1
    scored = docs.withColumn("score", F.col("doc_id") * 10)
    out = {r.keep_id: r for r in D.exact_dedup_best(
        scored, score_col="score").collect()}
    assert 1 in out and out[1].n_dups == 2 and out[1].keep_score == 10
    assert 0 not in out
    # singleton groups keep themselves
    assert out[3].n_dups == 1


def test_matryoshka_knn_exact_at_full_prefix(spark):
    # with coarse_dims == full dim and coarse_keep >= corpus, the staged
    # form must equal brute force exactly; with a small prefix it still
    # returns k rows per query ranked by exact full-dim cosine
    import math

    rows = [
        (i, [math.sin(i * 7 + j) for j in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    exact = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in V.knn_cosine_bruteforce(emb, q, k=4).collect()
    )
    staged_full = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in V.knn_cosine_matryoshka(
            emb, q, k=4, coarse_dims=8, coarse_keep=100
        ).collect()
    )
    assert staged_full == exact
    pruned = V.knn_cosine_matryoshka(
        emb, q, k=4, coarse_dims=2, coarse_keep=8
    ).collect()
    assert len(pruned) == 12  # 3 queries x k
    # within each query, ranks are 1..k and cosines non-increasing
    by_q = {}
    for r in pruned:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for rs in by_q.values():
        rs.sort()
        assert [x[0] for x in rs] == [1, 2, 3, 4]
        assert all(rs[i][1] >= rs[i + 1][1] for i in range(len(rs) - 1))


def test_containment_directional(spark):
    big = "the quick brown fox jumps over the lazy dog near the old river bank"
    small = "the quick brown fox jumps over"   # strict subset of big's shingles
    far = "completely different words about spark engines and planning"
    df = spark.createDataFrame(
        [(0, big, "en", "s0", len(big)), (1, small, "en", "s0", len(small)),
         (2, far, "en", "s0", len(far)), (3, big, "en", "s0", len(big))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r.src_id, r.dst_id): r.containment
           for r in D.containment_pairs(df, threshold=0.6).collect()}
    # small fully contained in big; big NOT contained in small (asymmetric)
    assert out[(1, 0)] == 1.0 and (0, 1) not in out
    # exact dups contained both ways
    assert out[(0, 3)] == 1.0 and out[(3, 0)] == 1.0
    # unrelated doc absent entirely
    assert not any(2 in p for p in out)


def test_block_caps_skip_oversized_blocks(spark):
    """max_block_size drops the hot block entirely (the 100-TB skew guard):
    the oversized 'en' block's pairs vanish, the small 'fr' block's
    survive, and cap=None keeps today's uncapped behavior."""
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, base, "en", "s0", len(base)) for i in range(4)] + [
        (10, base, "fr", "s0", len(base)),
        (11, base, "fr", "s0", len(base)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    capped = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(
        df, block_cols=["lang"], max_block_size=3).collect()}
    assert capped == {(10, 11)}      # en block (4 docs) skipped, fr kept
    uncapped = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(
        df, block_cols=["lang"]).collect()}
    assert (0, 1) in uncapped and (10, 11) in uncapped

    cont = {(r.src_id, r.dst_id) for r in D.containment_pairs(
        df, block_cols=["lang"], max_block_size=3).collect()}
    assert cont == {(10, 11), (11, 10)}


def test_winnow_candidates_bucket_cap(spark):
    """A fingerprint bucket above max_bucket_size emits no pairs; small
    buckets still do."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    boiler = "one two three four five six seven eight nine ten eleven twelve"
    rows = [(i, boiler) for i in range(5)] + [
        (10, shared + " unique tail here now"),
        (11, "other prefix then " + shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in X.winnow_candidate_pairs(
        df, k=5, w=4, min_shared=1, max_bucket_size=3).collect()}
    assert (10, 11) in pairs
    assert not any(a < 10 and b < 10 for a, b in pairs)


def test_bigram_logprob_hand_computed(spark):
    # corpus bigrams: d0 -> "a b"; d1 -> "a c".
    # cnt("a b") = cnt("a c") = 1; first-token count a -> 2.
    # d0 mean = log10(1/2) = -log10(2); same for d1.
    import math

    df = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "solo")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.mean_logprob)
           for r in X.bigram_logprob(df).collect()}
    assert 2 not in got                      # <2 tokens -> no bigrams
    assert got[0][0] == 1 and got[1][0] == 1
    assert abs(got[0][1] + math.log10(2)) < 1e-5
    assert abs(got[1][1] + math.log10(2)) < 1e-5


def test_knn_recall_counts_overlap(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    got = {r.query_id: (r.n_exact, r.n_hit, r.recall)
           for r in V.knn_recall(exact, approx).collect()}
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 2, 1.0)


def test_dsir_weights_favor_target_language(spark):
    # target = lang 'en'. Token 'a' appears only in the en doc, 'b' only
    # in the fr doc, so the en doc's tokens are over-represented in the
    # target LM (positive log weight) and the fr doc's under (negative).
    import math

    from apache_flink_essentials_spark.operators import curation as CU

    df = spark.createDataFrame(
        [(0, "a a", "en"), (1, "b", "fr")],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r.log_weight for r in CU.dsir_weights(
        df, F.col("lang") == "en").collect()}
    norm = math.log10(4) - math.log10(5)     # T_t+V=4, T_r+V=5
    assert abs(got[0] - (0.0 - 2 * norm)) < 1e-5
    assert abs(got[1] - (-math.log10(2) - norm)) < 1e-5
    assert got[0] > 0 > got[1]


def test_bigram_logprob_window_and_join_paths_agree(spark, monkeypatch):
    # The small-input window formulation and the 100 TB shuffle-join
    # formulation must agree bit-for-bit (order-independent exact integer
    # micro-log sums). A file-backed input exercises the size probe.
    from apache_flink_essentials_spark import session

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    small = X.bigram_logprob(df).orderBy("doc_id").collect()
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)
    large = X.bigram_logprob(df).orderBy("doc_id").collect()
    assert small == large
    assert len(small) > 0


def test_knn_recall_dedupes_duplicate_pairs(spark):
    # duplicate (query, neighbor) rows in approx must not fan out the
    # join and overstate recall (ADVICE r4)
    exact = spark.createDataFrame(
        [(1, 10), (1, 11)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10)], "query_id long, neighbor_id long"
    )
    got = {r.query_id: (r.n_exact, r.n_hit, r.recall)
           for r in V.knn_recall(exact, approx).collect()}
    assert got[1] == (2, 1, 0.5)


# ---------------------------------------------------------------- gopher


def test_gopher_rules_on_crafted_docs(spark):
    from apache_flink_essentials_spark.operators.text import gopher_quality_flags

    docs = spark.createDataFrame(
        [
            # passes everything (enough stopword-bearing words, sane lengths)
            (1, " ".join(["the", "cat", "sat", "and", "ran", "off"] * 10)),
            # too short
            (2, "the and tiny doc"),
            # symbol-heavy: many '#'
            (3, " ".join(["the", "and"] + ["##word"] * 60)),
            # bullet lines dominate
            (4, "\n".join(["- the item and stuff word here extra pad"] * 10)),
            # ellipsis line endings dominate
            (5, "\n".join(["the thing and more..."] * 10)),
            # numeric tokens (alpha fraction fails)
            (6, " ".join(["the", "and"] + ["12345"] * 60)),
            # no required stopwords
            (7, " ".join(["zig", "zag", "word", "pad"] * 20)),
        ],
        ["doc_id", "text"],
    )
    r = {
        row.doc_id: row
        for row in gopher_quality_flags(docs, min_words=10).collect()
    }
    assert r[1].gopher_pass
    assert not r[2].ok_word_count and not r[2].gopher_pass
    assert not r[3].ok_symbol_ratio and not r[3].gopher_pass
    assert not r[4].ok_bullet and not r[4].gopher_pass
    assert not r[5].ok_ellipsis and not r[5].gopher_pass
    assert not r[6].ok_alpha and not r[6].gopher_pass
    assert not r[7].ok_stopwords and not r[7].gopher_pass
    # metric sanity: doc 1 has 60 words of mean length (3+3+3+3+3+3)/6 = 3
    assert r[1].n_words == 60
    assert abs(r[1].mean_word_len - 3.0) < 1e-12


def test_gopher_pass_expr_matches_flag_table(spark):
    from apache_flink_essentials_spark.io import load_table
    from apache_flink_essentials_spark.operators.text import (
        gopher_pass_expr,
        gopher_quality_flags,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    via_table = {
        r.doc_id: r.gopher_pass for r in gopher_quality_flags(docs).collect()
    }
    via_expr = {
        r.doc_id: r.p
        for r in docs.select("doc_id", gopher_pass_expr().alias("p")).collect()
    }
    assert via_table == via_expr and len(via_table) > 0


# ------------------------------------------------------- paragraph dedup


def test_paragraph_dedup_first_occurrence_and_reconstruction(spark):
    from apache_flink_essentials_spark.operators.dedup import (
        paragraph_dedup,
        paragraph_dedup_docs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\ncommon boilerplate\n\ngamma"),
            (2, "common boilerplate\n\ndelta"),
            # doc 3 is ALL previously-seen paragraphs
            (3, "common boilerplate\n\ngamma"),
        ],
        ["doc_id", "text"],
    )
    marked = {
        (r.doc_id, r.para_idx): (r.paragraph, r.kept)
        for r in paragraph_dedup(docs).collect()
    }
    # first occurrence of the boilerplate is (1, 1); later copies dropped
    assert marked[(1, 1)] == ("common boilerplate", True)
    assert marked[(2, 0)] == ("common boilerplate", False)
    assert marked[(3, 0)] == ("common boilerplate", False)
    assert marked[(3, 1)] == ("gamma", False)
    assert marked[(1, 0)][1] and marked[(1, 2)][1] and marked[(2, 1)][1]

    recon = {
        r.doc_id: r for r in paragraph_dedup_docs(docs).collect()
    }
    assert recon[1].retained_text == "alpha beta\n\ncommon boilerplate\n\ngamma"
    assert recon[2].retained_text == "delta"
    assert recon[3].retained_text == ""
    assert (recon[3].n_paras, recon[3].n_kept) == (2, 0)
    assert (recon[1].n_paras, recon[1].n_kept) == (3, 3)


def test_paragraph_dedup_no_hot_key_window(spark):
    """The first-occurrence pass must be a hash aggregate (map-side
    combinable), NOT a window over the paragraph key — a hot paragraph
    would funnel through one task under a window."""
    from apache_flink_essentials_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame([(1, "x\n\ny")], ["doc_id", "text"])
    plan = paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # min(struct) plans as SortAggregate with a map-side partial_min —
    # the partial is what makes a hot paragraph arrive at its reducer as
    # one row per upstream partition
    assert "partial_min" in plan


# ------------------------------------------------------------------- pq


def _planted_pq_df(spark):
    """Vectors assembled from 4 distinct sub-vectors per 2 subspaces —
    a k=4 codebook can represent them LOSSLESSLY, so ADC distances equal
    exact squared L2 and PQ top-k equals exact top-k."""
    import itertools

    subs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    # diagonal pairs first: the lowest-id k-means init then seeds each
    # subspace with 4 DISTINCT sub-vectors, so Lloyd's converges to the
    # lossless codebook
    pairs = [(a, a) for a in range(4)] + [
        (a, b) for a, b in itertools.product(range(4), range(4)) if a != b
    ]
    rows = []
    for i, (a, b) in enumerate(pairs):
        rows.append((i, [float(x) for x in subs[a] + subs[b]]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_encode_arrow_matches_expression(spark):
    from apache_flink_essentials_spark.io import load_table
    from apache_flink_essentials_spark.operators.vector import pq_encode, pq_fit

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    books = pq_fit(emb, m=4, k=8, iters=1, dim=64)
    a = {
        r.vec_id: list(r.pq_codes)
        for r in pq_encode(emb, books, use_arrow=True).collect()
    }
    e = {
        r.vec_id: list(r.pq_codes)
        for r in pq_encode(emb, books, use_arrow=False).collect()
    }
    assert a == e and len(a) == 500


def test_kmeans_fit_leaves_nothing_cached(spark):
    # only centroids come back, so the fit's cached corpus must not
    # outlive it: a leftover entry pins storage for the session and can
    # be substituted into later plans that match it
    from conftest import SF_SMOKE

    from apache_flink_essentials_spark.io import load_table

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    emb = load_table(spark, "embeddings", SF_SMOKE)
    assert len(V.kmeans_fit(emb, k=4, iters=2, dim=64)) == 4
    assert cache.isEmpty()


def test_text_count_operators_leave_nothing_cached(spark):
    # tf-idf and source affinity derive every count from one pass over
    # their token table, so running them pins no cache entry
    from conftest import SF_SMOKE

    from apache_flink_essentials_spark.io import load_table

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = load_table(spark, "documents", SF_SMOKE)
    assert X.tfidf_top_terms(docs, k=3).collect()
    assert X.source_term_affinity(docs, k=5).collect()
    assert cache.isEmpty()


def test_pq_fit_arrow_matches_expression_path(spark):
    from apache_flink_essentials_spark.operators.vector import pq_fit

    df = _planted_pq_df(spark)
    arrow = pq_fit(df, m=2, k=4, iters=2, dim=8, use_arrow=True)
    expr = pq_fit(df, m=2, k=4, iters=2, dim=8, use_arrow=False)
    for s in range(2):
        for c in range(4):
            for x, y in zip(arrow[s][c], expr[s][c]):
                assert abs(x - y) < 1e-9


def test_pq_adc_exact_when_codebook_lossless(spark):
    """With every distinct sub-vector present as a centroid, quantization
    is lossless: ADC squared distance == exact squared distance, and the
    PQ top-k is the exact L2 top-k."""
    import numpy as np
    from apache_flink_essentials_spark.operators.vector import pq_fit, pq_search

    df = _planted_pq_df(spark)
    books = pq_fit(df, m=2, k=4, iters=3, dim=8)
    res = pq_search(df, df.filter("vec_id < 3"), books, k=15)
    rows = [r for r in res.collect()]
    vecs = {r.vec_id: np.array(r.embedding) for r in df.collect()}
    for r in rows:
        true = float(((vecs[r.query_id] - vecs[r.neighbor_id]) ** 2).sum())
        assert abs(r.adc_sq_dist - true) < 1e-6


def test_pq_normalized_search_recalls_planted_clusters(spark):
    """Ten tight clusters around distinct axis directions: normalized PQ
    search must put same-cluster members at the top — recall@4 == 1."""
    import numpy as np
    from apache_flink_essentials_spark.operators.vector import (
        knn_recall,
        pq_fit,
        pq_search,
        knn_cosine_bruteforce,
    )

    rng = np.random.RandomState(7)
    rows = []
    for cl in range(10):
        center = np.zeros(16)
        center[cl] = 10.0
        for j in range(5):
            v = center + rng.normal(0, 0.05, 16)
            # interleaved ids (j*10+cl): the k=16 lowest-id init then
            # seeds at least one sub-centroid near every cluster
            rows.append((j * 10 + cl, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq_fit(df, m=4, k=16, iters=3, dim=16, normalize=True)
    approx = pq_search(
        df, df.filter("vec_id < 10"), books, k=4, normalize=True
    )
    exact = knn_cosine_bruteforce(df, df.filter("vec_id < 10"), k=4)
    rec = knn_recall(exact, approx).collect()
    assert len(rec) == 10
    for r in rec:
        assert r.recall == 1.0


def test_ivfpq_exact_at_full_probe_with_lossless_codebooks(spark):
    """nprobe = |centroids| and a codebook containing every distinct
    sub-vector ⇒ IVF-PQ returns the exact L2 top-k with exact distances."""
    import numpy as np
    from apache_flink_essentials_spark.operators.vector import (
        ivfpq_search,
        kmeans_fit,
        pq_fit,
        pq_search,
    )

    df = _planted_pq_df(spark)
    cents = kmeans_fit(df, k=4, iters=2, dim=8)
    books = pq_fit(df, m=2, k=4, iters=3, dim=8)
    res = ivfpq_search(
        df, df.filter("vec_id < 3"), cents, books, k=15, nprobe=4
    )
    vecs = {r.vec_id: np.array(r.embedding) for r in df.collect()}
    rows = res.collect()
    assert rows
    for r in rows:
        true = float(((vecs[r.query_id] - vecs[r.neighbor_id]) ** 2).sum())
        assert abs(r.adc_sq_dist - true) < 1e-6
    # full probe ≡ plain PQ over the whole corpus (same codes, all clusters)
    flat = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_search(df, df.filter("vec_id < 3"), books, k=15).collect()
    }
    assert {(r.query_id, r.neighbor_id, r.rank) for r in rows} == flat


def test_ivfpq_partial_probe_subset_and_cluster_confinement(spark):
    """nprobe=1 must only return candidates from each query's own coarse
    cluster, and scores must match the full-probe scores for those
    neighbors (probing changes the candidate set, never the distances)."""
    from apache_flink_essentials_spark.operators.vector import (
        ivfpq_index,
        ivfpq_search,
        kmeans_fit,
        pq_fit,
    )

    df = _planted_pq_df(spark)
    cents = kmeans_fit(df, k=4, iters=2, dim=8)
    books = pq_fit(df, m=2, k=4, iters=3, dim=8)
    idx = {r.vec_id: r.cluster_id for r in ivfpq_index(df, cents, books).collect()}
    part = ivfpq_search(df, df.filter("vec_id < 3"), cents, books, k=15, nprobe=1)
    full = {
        (r.query_id, r.neighbor_id): r.adc_sq_dist
        for r in ivfpq_search(
            df, df.filter("vec_id < 3"), cents, books, k=15, nprobe=4
        ).collect()
    }
    rows = part.collect()
    assert rows
    for r in rows:
        assert idx[r.neighbor_id] == idx[r.query_id]
        assert full[(r.query_id, r.neighbor_id)] == r.adc_sq_dist


# ------------------------------------------------- perplexity buckets


def test_perplexity_buckets_equal_counts_and_ranges(spark):
    from apache_flink_essentials_spark.io import load_table
    from apache_flink_essentials_spark.operators.curation import (
        perplexity_buckets,
    )
    from apache_flink_essentials_spark.operators.text import unigram_logprob

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    scored = unigram_logprob(docs)
    n = scored.count()
    out = sorted(perplexity_buckets(scored).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in out] == [1, 2, 3, 4, 5]
    assert sum(r.n_docs for r in out) == n
    # equal-count bins within 1 doc
    assert max(r.n_docs for r in out) - min(r.n_docs for r in out) <= 1
    # score ranges are ordered and non-overlapping
    for lo, hi in zip(out, out[1:]):
        assert lo.max_mean_logprob <= hi.min_mean_logprob


def test_token_entropy_extremes(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    res = {r.doc_id: r for r in X.token_entropy(df).collect()}
    assert res[1].entropy == 0.0          # constant doc: zero diversity
    assert abs(res[2].entropy - math.log10(4)) < 1e-5  # uniform: log10(k)
    assert abs(res[3].entropy - math.log10(2)) < 1e-5
    assert res[2].n_tokens == 4


def test_pq_zero_vector_normalize_arrow_matches_expression(spark):
    # a zero vector must pass through normalization unchanged on BOTH
    # paths (arrow guards n[n==0]=1; the expression path divides by
    # safe_norm_expr) — codes must agree, not NULL out
    from apache_flink_essentials_spark.operators.vector import pq_encode

    rows = [(0, [0.0] * 8), (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 2.0, 0.0, 0.0, 0.0, 0.0, 3.0, 0.0]), (3, [0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = [[[0.0, 0, 0, 0], [1.0, 0, 0, 0], [0.0, 1, 0, 0], [0.25] * 4],
             [[0.0, 0, 0, 0], [0.0, 0, 1, 0], [0.25] * 4, [1.0, 0, 0, 0]]]
    a = {r.vec_id: list(r.pq_codes) for r in pq_encode(
        df, books, normalize=True, use_arrow=True).collect()}
    e = {r.vec_id: list(r.pq_codes) for r in pq_encode(
        df, books, normalize=True, use_arrow=False).collect()}
    assert a == e and len(a) == 4
    assert a[0] == [0, 0]  # zero vector encodes to the zero centroid


def test_pq_fit_raises_on_too_few_distinct_seeds(spark):
    import pytest
    from apache_flink_essentials_spark.operators.vector import pq_fit

    # 3 rows < k=4
    tiny = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(3)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="at least k=4 rows"):
        pq_fit(tiny, m=2, k=4, iters=1, dim=8)
    # enough rows but all duplicates -> per-subspace distinctness fails
    dup = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(20)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="distinct"):
        pq_fit(dup, m=2, k=4, iters=1, dim=8)


def test_pq_search_exclude_self_flag_for_external_queries(spark):
    # an EXTERNAL query table whose ids coincidentally collide with
    # corpus ids must not lose the colliding neighbor when
    # exclude_self=False; default True keeps the self-search convention
    from apache_flink_essentials_spark.operators.vector import (
        ivfpq_search, pq_fit, pq_search)

    df = _planted_pq_df(spark)
    books = pq_fit(df, m=2, k=4, iters=3, dim=8)
    q = df.filter("vec_id = 0")  # same id 0 exists in the corpus
    with_self = pq_search(df, q, books, k=16, exclude_self=False)
    without = pq_search(df, q, books, k=16)
    ws = {r.neighbor_id for r in with_self.collect()}
    wo = {r.neighbor_id for r in without.collect()}
    assert 0 in ws and 0 not in wo
    assert ws - {0} == wo
    # self-pair is exact-duplicate -> ADC distance 0, rank 1
    top = with_self.filter("rank = 1").collect()[0]
    assert top.neighbor_id == 0 and top.adc_sq_dist == 0.0
    # same contract on the IVF-PQ composite
    cents = [[1.0, 0, 0, 0, 1.0, 0, 0, 0], [0.0, 0, 0, 1.0, 0, 0, 0, 1.0]]
    ivf_ws = {r.neighbor_id for r in ivfpq_search(
        df, q, cents, books, k=16, nprobe=2, exclude_self=False).collect()}
    ivf_wo = {r.neighbor_id for r in ivfpq_search(
        df, q, cents, books, k=16, nprobe=2).collect()}
    assert 0 in ivf_ws and 0 not in ivf_wo


def test_bpe_pair_stats_counts_and_tiebreak(spark):
    # "aaab" has pairs aa, aa, ab; two copies double the counts; "zz xy"
    # plants a tie between distinct single-count pairs -> pair-asc ranks
    rows = [(1, "aaab aaab"), (2, "zz xy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.pair: (r.n_occ, r.rank)
           for r in X.bpe_pair_stats(df, k=10).collect()}
    assert got["aa"] == (4, 1)
    assert got["ab"] == (2, 2)
    # single-count tie: 'xy' < 'zz' in pair-asc order
    assert got["xy"][1] < got["zz"][1]
    # single-char tokens contribute nothing
    assert all(len(p) == 2 for p in got)


def test_bpe_train_merges_hand_computed(spark):
    # "abab" x2: step 1 merges the a-b pair (4 occurrences), step 2 the
    # resulting ab-ab pair, step 3 falls through to the "cd" token
    rows = [(1, "abab abab"), (2, "cd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.step, r.pair, r.n_occ)
        for r in X.bpe_train_merges(df, n_merges=3).collect()
    )
    assert got == [(1, "a b", 4), (2, "ab ab", 2), (3, "c d", 1)]


def test_bpe_segment_hand_computed(spark):
    # merges ["e r","i n"]: "winter" -> w i n t e r -> (in) w in t er ->
    # 4 symbols / 6 chars; "a" -> 1 symbol / 1 char
    rows = [(1, "winter a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = X.bpe_segment(df, ["e r", "i n"]).collect()[0]
    assert (r.n_symbols, r.n_chars) == (5, 7)


def test_minhash_estimate_exact_duplicates_agree(spark):
    from apache_flink_essentials_spark.operators.dedup import (
        minhash_estimate_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "completely different words here now ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r for r in minhash_estimate_pairs(df).collect()}
    dup = out[(1, 2)]
    # identical shingle sets → identical signatures → estimate == exact == 1
    assert dup.est_jaccard == 1.0 and dup.jaccard == 1.0
    assert (1, 3) not in out and (2, 3) not in out


def test_minhash_estimate_is_slotwise_fraction(spark):
    from apache_flink_essentials_spark.operators.dedup import (
        minhash_estimate_pairs,
    )

    rows = [
        (1, "a b c d e f g h i j k l"),
        (2, "a b c d e f g h i j k zz"),  # near-dup: one token changed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_estimate_pairs(df, num_hashes=8).collect()
    assert len(out) == 1
    r = out[0]
    # estimate is k/8 for integer k, exact jaccard below 1
    assert r.est_jaccard in [i / 8 for i in range(9)]
    assert 0.5 <= r.jaccard < 1.0


def test_softdedup_weights_planted_clusters(spark):
    from apache_flink_essentials_spark.operators.curation import (
        softdedup_weights,
    )

    rows = [
        (1, "same text"),
        (2, "same   text"),        # whitespace-normalized duplicate
        (3, "same text"),
        (4, "unique text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in softdedup_weights(df).collect()}
    assert out[1].cluster_size == 3 and out[1].weight == 1 / 3
    assert out[2].cluster_size == 3
    assert out[4].cluster_size == 1 and out[4].weight == 1.0
    # total weight == number of distinct texts
    assert abs(sum(r.weight for r in out.values()) - 2.0) < 1e-12


def test_ivf_balance_report_arrow_equals_expression(spark):
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.vector import (
        _hyperplane,
        ivf_balance_report,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cents = [_hyperplane(64, 800 + j) for j in range(8)]
    expr = ivf_balance_report(emb, cents, use_arrow=False).collect()
    arrow = ivf_balance_report(emb, cents, use_arrow=True).collect()
    assert sorted(map(tuple, expr)) == sorted(map(tuple, arrow))
    assert abs(sum(r.share for r in expr) - 1.0) < 1e-9
    # load factors average to 1 by construction (k clusters, weights share*k)
    assert abs(sum(r.load_factor for r in expr) - 8.0) < 1e-9


def test_connected_components_long_chain_and_dups(spark):
    # a 17-node chain (diameter 16) forces multiple star rounds; duplicate
    # and reversed edges plus self-loops must not change the answer
    from apache_flink_essentials_spark.operators import dedup as D

    edges = [(i, i + 1) for i in range(16)]
    edges += [(b, a) for a, b in edges[:5]]  # reversed dups
    edges += [(3, 3), (9, 9)]  # self-loops (dropped)
    edges += [(100, 101)]  # separate 2-component
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = dict(
        (r.node, r.component)
        for r in D.connected_components(df).collect()
    )
    assert all(rows[i] == 0 for i in range(17))
    assert rows[100] == 100 and rows[101] == 100


def test_simhash_bit_sliced_guards(spark):
    # gen-3 bit-sliced fold (dedup.simhash): 16-bit counter lanes cap
    # distinct tokens per doc at 65535 — the guard must be a loud
    # assert_true, never a silent wrap; and the lane layout is specified
    # for bits=32 only.
    from apache_flink_essentials_spark.operators import dedup as D

    with pytest.raises(ValueError):
        D.simhash(
            spark.createDataFrame([(1, "a b")], "doc_id long, text string"),
            bits=16,
        )

    ok = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    assert D.simhash(ok).collect()[0].simhash is not None

    # 65536+ distinct tokens in one doc must fail LOUDLY: under ANSI
    # (Spark 4 default) the 2^48-lane accumulation overflows long first
    # (ARITHMETIC_OVERFLOW); under non-ANSI the fold wraps silently and
    # the assert_true lane guard fires instead — either way, no silent
    # wrong fingerprint
    import pyspark.sql.functions as FF

    big = spark.range(1).select(
        FF.lit(1).alias("doc_id"),
        FF.array_join(
            FF.transform(FF.sequence(FF.lit(0), FF.lit(65600)), lambda i: FF.concat(FF.lit("t"), i.cast("string"))),
            " ",
        ).alias("text"),
    )
    with pytest.raises(Exception, match="65536|assert|overflow|ARITHMETIC"):
        D.simhash(big).collect()


def test_simhash_hot_bucket_salting_pairs_unchanged(spark, docs, monkeypatch):
    # force EVERY multi-doc band bucket through the hot-bucket salting
    # path (threshold 1) — the pair set and per-doc bests must be
    # byte-identical to the unsalted plan
    import apache_flink_essentials_spark.operators.skew as SK

    base_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_dup_pairs(docs).collect()
    }
    base_best = {
        (r.doc_id, r.best_match_id, r.best_hamming)
        for r in D.simhash_best_match(docs).collect()
    }
    monkeypatch.setattr(SK, "SALT_THRESHOLD", 1)
    salted_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_dup_pairs(docs).collect()
    }
    salted_best = {
        (r.doc_id, r.best_match_id, r.best_hamming)
        for r in D.simhash_best_match(docs).collect()
    }
    assert salted_pairs == base_pairs and base_pairs
    assert salted_best == base_best and base_best


def test_simhash_incremental_prebuilt_equals_inline_and_guards(spark, docs):
    # split the fixture into corpus (even ids) and batch (odd ids): the
    # prebuilt-fingerprint path must equal the inline front door, and the
    # survivors must be exactly batch-minus-(band+hamming matched)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    table = D.build_simhash_table(corpus)
    via_table = {
        r.doc_id
        for r in D.simhash_dedup_with_fingerprints(batch, table).collect()
    }
    inline = {
        r.doc_id
        for r in D.simhash_dedup_against_corpus(batch, corpus).collect()
    }
    assert via_table == inline

    # driver-side truth: batch doc survives iff NO corpus doc shares a
    # band half with hamming <= 3
    fp = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    half = 1 << 16

    def bands(s):
        return (s % half, s // half)

    expect = set()
    for b in (r.doc_id for r in batch.collect()):
        hit = False
        for c in (r.doc_id for r in corpus.collect()):
            same_band = bands(fp[b])[0] == bands(fp[c])[0] or (
                bands(fp[b])[1] == bands(fp[c])[1]
            )
            if same_band and bin(fp[b] ^ fp[c]).count("1") <= 3:
                hit = True
                break
        if not hit:
            expect.add(b)
    assert via_table == expect

    # parameter guards: missing / mismatched sig_bits fail fast
    with pytest.raises(ValueError, match="sig_bits"):
        D.simhash_dedup_with_fingerprints(batch, table.drop("sig_bits"))
    with pytest.raises(ValueError, match="bits=32"):
        D.simhash_dedup_with_fingerprints(
            batch, table.withColumn("sig_bits", F.lit(16))
        )


def test_embedding_dedup_salted_bucket_join_unchanged(spark, monkeypatch):
    # identical vectors share a bucket at any plane count; force every
    # multi-vector bucket through the salted path and require identical
    # pair output
    import apache_flink_essentials_spark.operators.skew as SK

    rows = [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)]) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(10)]  # planted exact dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = {
        (r.id_a, r.id_b, r.cosine)
        for r in V.embedding_dedup_pairs(df, dim=8).collect()
    }
    monkeypatch.setattr(SK, "SALT_THRESHOLD", 1)
    salted = {
        (r.id_a, r.id_b, r.cosine)
        for r in V.embedding_dedup_pairs(df, dim=8).collect()
    }
    assert salted == base and base


def test_embedding_dedup_incremental_prebuilt_equals_inline(spark):
    rows = [(i, [float((i * 13 + j * 5) % 7) - 3.0 for j in range(8)]) for i in range(30)]
    # planted: batch vec 101 duplicates corpus vec 4 exactly -> must be dropped
    rows += [(101, rows[4][1]), (103, [9.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") % 2 == 0)
    batch = df.filter(F.col("vec_id") % 2 == 1)
    table = V.build_embedding_bucket_table(corpus, num_planes=4, dim=8)
    via_table = {
        r.vec_id
        for r in V.embedding_dedup_with_buckets(
            batch, table, threshold=0.999
        ).collect()
    }
    inline = {
        r.vec_id
        for r in V.embedding_dedup_against_corpus(
            batch, corpus, threshold=0.999, num_planes=4, dim=8
        ).collect()
    }
    assert via_table == inline
    assert 101 not in via_table        # planted exact dup removed
    assert 103 in via_table            # unique vector survives

    with pytest.raises(ValueError, match="sig_planes"):
        V.embedding_dedup_with_buckets(batch, table.drop("sig_planes"))


def test_cosine_pairs_blocked_salted_unchanged(spark, monkeypatch):
    import apache_flink_essentials_spark.operators.skew as SK

    rows = [
        (i, "blk%d" % (i % 3), [float((i * 11 + j) % 6) - 2.5 for j in range(8)])
        for i in range(36)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    base = {
        (r.id_a, r.id_b, r.cosine)
        for r in V.cosine_pairs_blocked(df, "label", 0.2).collect()
    }
    monkeypatch.setattr(SK, "SALT_THRESHOLD", 1)
    salted = {
        (r.id_a, r.id_b, r.cosine)
        for r in V.cosine_pairs_blocked(df, "label", 0.2).collect()
    }
    assert salted == base and base
