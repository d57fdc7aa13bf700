"""Similarity search over an embedding column (array<float>).

  cosine_topk   exact brute-force top-k per query — the correctness
                baseline.  Queries are a small broadcast side; the
                corpus side streams, so the plan is a broadcast
                nested-loop scoring pass + per-query top-k window (no
                corpus shuffle until the tiny ranked result).
  lsh_buckets   random-hyperplane signatures (deterministic md5-seeded
                planes) — the scale path: candidate pairs share a
                bucket, turning O(n²) scoring into an equi-join.

Dot products use F.aggregate/zip_with (JVM higher-order functions) —
no Python in the scoring loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _respread(df: DataFrame) -> DataFrame:
    """Re-spread a compact scan up to cluster parallelism BEFORE the
    CPU-heavy projections (norms, plane projections and scoring here;
    tokenize/shingle/hash in `dedup`): a small parquet packs into 1-2
    scan splits under the 8 MB local split size, and every pre-shuffle
    projection would otherwise run single-task.  At 100 TB the scan
    exceeds parallelism × maxPartitionBytes and this is a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism * 2
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


def with_norm(emb: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return _respread(emb.select(F.col(id_col).alias("id"), v.alias("vec"))) \
        .withColumn("norm", F.sqrt(dot(F.col("vec"), F.col("vec"))))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self-matches
    excluded).  ``queries`` must be small (it was the broadcast side of
    the r05 broadcast-NLJ; it is collected to the driver here — the
    same size constraint, stated instead of implied).

    r06 physical shape: the scoring pass is a VECTORIZED numpy sweep
    inside ``mapInArrow`` over the corpus (guide §4.2) — each task
    scores its Arrow batches against the in-memory query block at C
    speed instead of evaluating an interpreted zip_with/aggregate HOF
    fold per (corpus, query) pair (measured 2.4×; an unrolled-codegen
    variant was tried and measured SLOWER than the HOF, see BENCH.md).
    Bit-identical cosines: the dim loop accumulates in the same
    sequential order as the HOF fold (acc = (…(0.0+t0)+t1)+…), float→
    double casts are exact, sqrt is correctly rounded in both, and the
    final 6dp round stays in Spark.  Per-query top-k is the same
    window; only the scoring operator changed."""
    from pyspark.sql import Window

    q_rows = (queries.select(F.col(id_col).alias("q_id"),
                             F.col(vec_col).alias("q_vec")).collect())
    out_schema = "q_id long, id long, cosine_raw double"
    if not q_rows:
        empty = emb.sparkSession.createDataFrame([], out_schema)
        return empty.select("q_id", F.col("id").alias("neighbor_id"),
                            F.lit(0.0).alias("cosine"),
                            F.lit(0).alias("rank")).limit(0)
    import numpy as np
    qids = np.array([r.q_id for r in q_rows], dtype=np.int64)
    Q = np.array([[float(x) for x in r.q_vec] for r in q_rows],
                 dtype=np.float64)
    dim = Q.shape[1]
    qn = np.zeros(len(q_rows))
    for i in range(dim):          # sequential fold == HOF dot order
        qn = qn + Q[:, i] * Q[:, i]
    q_norm = np.sqrt(qn)

    def fn(batches):
        import pyarrow as pa
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False) \
                   .astype(np.int64)
            vl = b.column(1)
            offs = vl.offsets.to_numpy(zero_copy_only=False)
            flat = vl.values.to_numpy(zero_copy_only=False)
            assert (np.diff(offs) == dim).all(), \
                "cosine_topk: ragged embedding widths"
            V = flat[offs[0]:offs[0] + n * dim] \
                .reshape(n, dim).astype(np.float64)
            nrm = np.zeros(n)
            S = np.zeros((n, len(qids)))
            for i in range(dim):  # same sequential fold per pair
                nrm = nrm + V[:, i] * V[:, i]
                S = S + V[:, i:i + 1] * Q[:, i][None, :]
            cos = S / (np.sqrt(nrm)[:, None] * q_norm[None, :])
            keep = ids[:, None] != qids[None, :]
            rows_q = np.broadcast_to(qids, cos.shape)[keep]
            rows_id = np.broadcast_to(ids[:, None], cos.shape)[keep]
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows_q, type=pa.int64()),
                 pa.array(rows_id, type=pa.int64()),
                 pa.array(cos[keep], type=pa.float64())],
                ["q_id", "id", "cosine_raw"])

    scored = (_respread(emb.select(F.col(id_col).alias("id"),
                                   F.col(vec_col)))
              .mapInArrow(fn, out_schema)
              .withColumn("cosine", F.round("cosine_raw", 6)))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col("id").alias("neighbor_id"),
                    "cosine", "rank"))


def _planes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_buckets(emb: DataFrame, n_planes: int = 12, dim: int = 64,
                vec_col: str = "embedding", id_col: str = "vec_id",
                seed: int = 7) -> DataFrame:
    """Random-hyperplane LSH: sign bits of <v, plane_i> → bucket key.
    Planes are literal arrays (deterministic from the seed), so the
    signature is pure column math."""
    planes = _planes(dim, n_planes, seed)
    corpus = with_norm(emb, vec_col, id_col)
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(F.col("vec"), plane) >= 0, F.lit(1))
                     .otherwise(F.lit(0)).cast("string"))
    return corpus.withColumn("bucket", F.concat(*bits)).select("id", "bucket")


def band_planes(n_bands: int, band_planes: int, dim: int,
                seed: int = 7) -> np.ndarray:
    """Deterministic (n_bands, band_planes, dim) hyperplane tensor for
    multi-band LSH — seed-derived so an external oracle can reproduce
    the exact bucket keys."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bands, band_planes, dim))


def lsh_band_buckets(emb: DataFrame, n_bands: int = 8, planes_per_band: int = 2,
                     dim: int = 64, vec_col: str = "embedding",
                     id_col: str = "vec_id", seed: int = 7) -> DataFrame:
    """Multi-band random-hyperplane LSH: per band, the bucket key is the
    concatenated sign bits of <v, plane_j>.  Vectors sharing ANY band
    bucket become candidates — recall grows with n_bands while each
    band's join stays selective (the minhash banding trick applied to
    cosine space).  Output: (id, vec, norm, band, key)."""
    tensor = band_planes(n_bands, planes_per_band, dim, seed)
    corpus = with_norm(emb, vec_col, id_col)
    bands = []
    for bi in range(n_bands):
        bits = []
        for p in tensor[bi]:
            plane = F.array(*[F.lit(float(x)) for x in p])
            bits.append(F.when(dot(F.col("vec"), plane) >= 0, F.lit("1"))
                         .otherwise(F.lit("0")))
        bands.append(F.struct(F.lit(bi).alias("band"),
                              F.concat(*bits).alias("key")))
    return (corpus.withColumn("b", F.explode(F.array(*bands)))
            .select("id", "vec", "norm",
                    F.col("b.band").alias("band"), F.col("b.key").alias("key")))


def ann_topk_banded(emb: DataFrame, queries: DataFrame, k: int = 5,
                    n_bands: int = 8, planes_per_band: int = 2,
                    dim: int = 64, vec_col: str = "embedding",
                    id_col: str = "vec_id", seed: int = 7) -> DataFrame:
    """Multi-band (multi-probe) ANN: a corpus vector is a candidate if
    it shares ANY band bucket with the query.  Recall grows with
    n_bands while each band's join stays selective — the fix for the
    single-signature ann_topk, whose recall collapses as n_planes
    grows (P[all n bits equal] ≈ (1-θ/π)^n).  Plan shape: per-band
    equi-join against the broadcast query buckets, cosine scored
    JVM-side, duplicates across bands collapsed by a (q_id, id)
    group-by, then the per-query top-k window."""
    from pyspark.sql import Window

    cb = lsh_band_buckets(emb, n_bands, planes_per_band, dim,
                          vec_col, id_col, seed)
    qb = (lsh_band_buckets(queries, n_bands, planes_per_band, dim,
                           vec_col, id_col, seed)
          .select(F.col("id").alias("q_id"), F.col("vec").alias("q_vec"),
                  F.col("norm").alias("q_norm"), "band", "key"))
    scored = (cb.join(F.broadcast(qb), ["band", "key"])
              .filter(F.col("id") != F.col("q_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("vec"), F.col("q_vec"))
                                  / (F.col("norm") * F.col("q_norm")), 6))
              # the same (query, candidate) pair can match in several
              # bands — collapse before ranking (cosine is identical)
              .groupBy("q_id", "id").agg(F.first("cosine").alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col("id").alias("neighbor_id"),
                    "cosine", "rank"))


def _seq_dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def train_ivf_centroids(sample_rows: list, n_cells: int,
                        rounds: int = 1) -> list:
    """Lloyd-refined coarse quantizer from a deterministic ordered
    sample: seeds = the first ``n_cells`` normalized sample vectors,
    then ``rounds`` k-means iterations (cosine assignment, L2-normalized
    cell means; empty cells keep their previous centroid).

    Pure SEQUENTIAL float64 math — no numpy pairwise summation, no
    order-dependent reduction — so any caller that supplies the same
    ordered sample (Spark collect or the DuckDB oracle builder) gets
    bit-identical centroids, and the SQL twin can inline them as
    literals.  ``sample_rows`` is [[raw floats], ...] in (md5(id), id)
    order; assignment ties go to the LARGER cell id, matching the
    Spark operator's struct array_max."""
    import math

    X = []
    for v in sample_rows:
        n = math.sqrt(_seq_dot(v, v))
        X.append([x / n for x in v] if n else list(v))
    C = [list(x) for x in X[:n_cells]]
    for _ in range(rounds):
        dim = len(C[0])
        sums = [[0.0] * dim for _ in C]
        counts = [0] * len(C)
        for x in X:
            best, bs = 0, None
            for ci in range(len(C)):
                s = _seq_dot(x, C[ci])
                if bs is None or s > bs or s == bs:
                    best, bs = ci, s
            counts[best] += 1
            sb = sums[best]
            for j, v in enumerate(x):
                sb[j] += v
        for ci in range(len(C)):
            if counts[ci]:
                n = math.sqrt(_seq_dot(sums[ci], sums[ci]))
                if n:
                    C[ci] = [v / n for v in sums[ci]]
    return [(ci, C[ci]) for ci in range(len(C))]


def ivf_sample(corpus: DataFrame, train_sample: int = 1024) -> list:
    """Deterministic training sample: the ``train_sample`` corpus
    vectors with the smallest (md5(id), id), raw doubles in that
    order.  Hash-ordered sampling is scale-safe (a TopK over the
    corpus, no full collect) and exactly reproducible by the oracle's
    DuckDB reader."""
    rows = (corpus.withColumn("h", F.md5(F.col("id").cast("string")))
            .orderBy("h", "id").limit(train_sample)
            .select("vec").collect())
    return [[float(x) for x in r.vec] for r in rows]


def ivf_centroids(corpus: DataFrame, n_cells: int = 16,
                  train_rounds: int = 1,
                  train_sample: int = 1024) -> list:
    """Coarse quantizer for IVF: k-means-refined centroids trained on a
    deterministic hash-ordered sample (``train_ivf_centroids``).
    ``train_rounds=0`` reproduces the round-3 hash-sampled quantizer
    exactly (seeds = smallest-md5 vectors, no refinement).  Returns
    [(cell, [floats])] — tiny, computed driver-side and re-broadcast
    as literals."""
    return train_ivf_centroids(ivf_sample(corpus, train_sample),
                               n_cells, rounds=train_rounds)


def _cell_scores(vec_col, cents):
    """(score, cell) structs per centroid — array_max picks the best
    cell, ties to the larger cell id (struct comparison)."""
    return F.array(*[
        F.struct(dot(vec_col, F.array(*[F.lit(x) for x in c])).alias("s"),
                 F.lit(ci).alias("cell"))
        for ci, c in cents])


def ann_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 5,
                 n_cells: int = 16, nprobe: int = 2,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id",
                 train_rounds: int = 1,
                 train_sample: int = 1024) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its best coarse
    cell (inverted lists), probe each query's ``nprobe`` best cells,
    score only those lists.  The quantizer is k-means-trained on a
    deterministic hash-ordered sample (``train_rounds`` Lloyd
    iterations; 0 = raw hash-sampled seeds).  Scan cost drops to
    ~nprobe/n_cells of the corpus per query; cells are disjoint so no
    candidate dedup is needed.  At cluster scale the assignment is a
    write-side partition key (partitionBy(cell)) and probing prunes
    partitions."""
    from pyspark.sql import Window

    corpus = with_norm(emb, vec_col, id_col)
    cents = ivf_centroids(corpus, n_cells, train_rounds, train_sample)
    assigned = corpus.withColumn(
        "cell", F.array_max(_cell_scores(F.col("vec"), cents))["cell"])
    q = with_norm(queries, vec_col, id_col).select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"))
    probes = (q.withColumn(
        "cell",
        F.explode(F.transform(
            F.slice(F.reverse(F.array_sort(
                _cell_scores(F.col("q_vec"), cents))), 1, nprobe),
            lambda x: x["cell"]))))
    scored = (assigned.join(F.broadcast(probes), "cell")
              .filter(F.col("id") != F.col("q_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("vec"), F.col("q_vec"))
                                  / (F.col("norm") * F.col("q_norm")), 6)))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col("id").alias("neighbor_id"),
                    "cosine", "rank"))


def ann_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 8, dim: int = 64,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket.  Recall < 1 by design; the scale path for 100 TB corpora."""
    from pyspark.sql import Window

    b = lsh_buckets(emb, n_planes, dim, vec_col, id_col)
    corpus = with_norm(emb, vec_col, id_col).join(b, "id")
    qb = lsh_buckets(queries, n_planes, dim, vec_col, id_col) \
        .withColumnRenamed("id", "q_id").withColumnRenamed("bucket", "q_bucket")
    q = (with_norm(queries, vec_col, id_col)
         .select(F.col("id").alias("q_id"), F.col("vec").alias("q_vec"),
                 F.col("norm").alias("q_norm"))
         .join(qb, "q_id"))
    scored = (corpus.join(F.broadcast(q),
                          (F.col("bucket") == F.col("q_bucket"))
                          & (F.col("id") != F.col("q_id")))
              .withColumn("cosine",
                          F.round(dot(F.col("vec"), F.col("q_vec"))
                                  / (F.col("norm") * F.col("q_norm")), 6)))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col("id").alias("neighbor_id"), "cosine", "rank"))
