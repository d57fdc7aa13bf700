"""Unit tests for dedup / similarity / text / multimodal operators."""

import pytest
from pyspark.sql import functions as F

from stats_spark.functions import text as T
from stats_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),      # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today"),      # near dup
        (3, "completely different words about spark shuffles and joins"),
        (4, "spark shuffles and joins require careful partition tuning"),
        (5, "one two three four five six seven eight nine ten"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dups(docs):
    out = dedup.exact_dups(docs).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2 and out[0].keep_id == 0


def test_jaccard_identical_and_near(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.2 <= pairs[(0, 2)] < 1.0
    assert (3, 5) not in pairs


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r.id_a, r.id_b): r.n_bands
             for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert pairs[(0, 1)] == 8          # identical docs share every band
    assert (3, 5) not in pairs
    # near-dup recall: with 1-row bands a J≈0.5 pair shares a band with
    # probability 1-(1-J)^16 — deterministic for this fixed corpus
    fine = {(r.id_a, r.id_b): r.n_bands
            for r in dedup.minhash_lsh_pairs(docs, band_rows=1).collect()}
    assert (0, 2) in fine
    assert fine[(0, 1)] == 16


def test_simhash_hamming(docs):
    sh = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert sh[0] == sh[1]
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])


def test_fingerprint_deterministic(docs, spark):
    fp = docs.select("doc_id", T.doc_fingerprint("text").alias("f")).collect()
    vals = {r.doc_id: r.f for r in fp}
    assert vals[0] == vals[1]
    assert vals[0] != vals[3]


def test_cosine_topk_sanity(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    base = rng.standard_normal(16)
    rows = [(0, [float(x) for x in base]),
            (1, [float(x) for x in base + 0.01 * rng.standard_normal(16)]),
            (2, [float(x) for x in -base]),
            (3, [float(x) for x in rng.standard_normal(16)])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(emb, emb.filter("vec_id = 0"), k=3).collect()
    assert [r.neighbor_id for r in sorted(top, key=lambda r: r.rank)][0] == 1
    assert top[-1].cosine <= top[0].cosine


def test_ann_subset_of_exact(spark):
    import numpy as np
    rng = np.random.default_rng(6)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 3")
    exact = similarity.cosine_topk(emb, q, k=10)
    ann = similarity.ann_topk(emb, q, k=10, n_planes=4, dim=16)
    # every ANN hit must be a real corpus vector scored identically
    ex = {(r.q_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in ann.collect():
        if (r.q_id, r.neighbor_id) in ex:
            assert r.cosine == ex[(r.q_id, r.neighbor_id)]


def test_ann_banded_beats_single_bucket(spark):
    """Multi-band ANN dominates the single-signature bucket: every
    hit scores identically to brute force, and recall@k is at least
    the single-bucket path's — a pair needs only ONE matching band
    (2 bits here) instead of all 8 signature bits, so bands admit
    candidates the full signature splits apart."""
    import numpy as np
    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 8")
    exact = similarity.cosine_topk(emb, q, k=5)
    single = similarity.ann_topk(emb, q, k=5, n_planes=8)
    banded = similarity.ann_topk_banded(emb, q, k=5, n_bands=8,
                                        planes_per_band=2)
    ex = {(r.q_id, r.neighbor_id): r.cosine for r in exact.collect()}
    got_b = {(r.q_id, r.neighbor_id): r.cosine for r in banded.collect()}
    got_s = {(r.q_id, r.neighbor_id) for r in single.collect()}
    for pair, c in got_b.items():
        if pair in ex:
            assert c == ex[pair]
    recall_b = len(set(got_b) & set(ex)) / len(ex)
    recall_s = len(got_s & set(ex)) / len(ex)
    assert recall_b >= recall_s
    assert recall_b >= 0.5


def test_ann_ivf_subset_and_structure(spark):
    """IVF ANN: every hit scores identically to brute force; cells are
    disjoint (each corpus vector sits in exactly one inverted list);
    probing more cells is monotone in recall."""
    import numpy as np
    rng = np.random.default_rng(21)
    rows = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 8")
    exact = similarity.cosine_topk(emb, q, k=5)
    ex = {(r.q_id, r.neighbor_id): r.cosine for r in exact.collect()}
    ivf2 = {(r.q_id, r.neighbor_id): r.cosine
            for r in similarity.ann_topk_ivf(emb, q, k=5, n_cells=8,
                                             nprobe=2).collect()}
    for pair, c in ivf2.items():
        if pair in ex:
            assert c == ex[pair]
    # full probe == exact (all cells scanned)
    ivf_all = {(r.q_id, r.neighbor_id): r.cosine
               for r in similarity.ann_topk_ivf(emb, q, k=5, n_cells=8,
                                                nprobe=8).collect()}
    assert ivf_all == ex
    recall2 = len(set(ivf2) & set(ex)) / len(ex)
    assert recall2 > 0
    # disjoint inverted lists: assignment is a function of the vector
    corpus = similarity.with_norm(emb)
    cents = similarity.ivf_centroids(corpus, 8)
    from pyspark.sql import functions as F
    assigned = corpus.withColumn(
        "cell", F.array_max(similarity._cell_scores(F.col("vec"),
                                                    cents))["cell"])
    assert assigned.count() == assigned.select("id").distinct().count()


def test_ann_ivf_kmeans_recall_curve(spark):
    """The k-means quantizer (1 Lloyd round): recall@k is monotone
    non-decreasing in nprobe, reaches 1.0 at nprobe=n_cells, and the
    trained quantizer's recall at the operating point is at least the
    raw hash-sampled seeds' (train_rounds=0) recall minus noise —
    plus determinism: two trainings produce identical centroids."""
    import numpy as np
    rng = np.random.default_rng(33)
    # clustered corpus: 8 gaussian blobs — k-means has structure to find
    centers = rng.standard_normal((8, 64)) * 3
    rows = [(i, [float(x) for x in centers[i % 8]
                 + rng.standard_normal(64) * 0.7]) for i in range(160)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 10")
    ex = {(r.q_id, r.neighbor_id)
          for r in similarity.cosine_topk(emb, q, k=5).collect()}

    def recall(nprobe, rounds=1):
        got = {(r.q_id, r.neighbor_id)
               for r in similarity.ann_topk_ivf(
                   emb, q, k=5, n_cells=8, nprobe=nprobe,
                   train_rounds=rounds).collect()}
        return len(got & ex) / len(ex)

    curve = [recall(p) for p in (1, 2, 4, 8)]
    assert all(b >= a for a, b in zip(curve, curve[1:])), curve
    assert curve[-1] == 1.0
    assert curve[1] > 0.5, curve

    corpus = similarity.with_norm(emb)
    c1 = similarity.ivf_centroids(corpus, 8, train_rounds=1)
    c2 = similarity.ivf_centroids(corpus, 8, train_rounds=1)
    assert c1 == c2


def test_embedding_dup_lsh_recall(spark):
    """The LSH-gated near-dup path must (a) plan an equi-join, never a
    cartesian, (b) return a subset of the brute-force pairs with
    identical cosines, (c) keep recall high at the operating point."""
    import numpy as np
    rng = np.random.default_rng(11)
    rows = []
    # 40 random vectors + 20 planted near-duplicates of the first 20
    base = rng.standard_normal((40, 64))
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for i in range(20):
        v = base[i] + 0.05 * rng.standard_normal(64)
        rows.append((100 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r.id_a, r.id_b): r.cosine for r in
             dedup.embedding_dup_pairs(emb, threshold=0.9, exact=True)
             .collect()}
    lsh = {(r.id_a, r.id_b): r.cosine for r in
           dedup.embedding_dup_pairs(emb, threshold=0.9).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    assert len(lsh) >= 0.9 * len(exact) > 0

    plan = dedup.embedding_dup_pairs(emb, threshold=0.9) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_ngram_jaccard_df_cap(docs):
    """Capped vs uncapped results identical when no shingle is hot."""
    capped = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, threshold=0.2).collect()))
    uncapped = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, max_df=None).collect()))
    assert capped == uncapped
    # with a df cap of 1 every shared shingle is dropped → no pairs
    # except exact dups sharing only unique-to-pair shingles
    tiny = dedup.ngram_jaccard_pairs(docs, threshold=0.2, max_df=1).collect()
    assert all(r.id_a != 0 or r.id_b != 1 for r in tiny) or not tiny


def test_multimodal_features(spark):
    media = multimodal.synth_media(spark, n=12)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r.feat) == 8 for r in rows)
    # deterministic: same payloads → same digests on a second run
    again = {r.media_id: r.digest for r in
             multimodal.extract_features(media).collect()}
    assert {r.media_id: r.digest for r in rows} == again
    # frame-sample plan explodes video timestamps only
    plan = multimodal.frame_sample_plan(media, every_ms=2000)
    kinds = media.filter("kind = 'video'").count()
    assert plan.select("media_id").distinct().count() == kinds

