"""Deduplication operators over a documents table.

Scale-first designs (the 100 TB story is the point — these run on the
`documents` table here but are written for a corpus that doesn't fit
anywhere):

  exact_dups          hash-groupBy on md5(text) — one shuffle keyed by
                      digest, representative = min(doc_id)
  ngram_jaccard_pairs shingle → explode → self-equi-join on shingle →
                      pair counts (candidate generation is the join;
                      never an O(n²) cross join)
  minhash_lsh_pairs   shingle → K md5 minhashes → band keys → bucket
                      join; only same-bucket pairs are scored
  simhash64           60-bit simhash per doc via bit-position explode +
                      sign aggregation (near-dup = small hamming dist)
  embedding_dup_pairs cosine ≥ τ pairs via normalized dot product

Every hash is md5-derived so the DuckDB oracle computes bit-identical
values (Spark conv(md5) == DuckDB ('0x'||md5)::UBIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from stats_spark.functions import text as T
from stats_spark.operators.similarity import _respread

HASH_BITS = 60

# one pinned shingle frame at a time: each ngram_jaccard_pairs call
# unpersists the previous call's cache (repeated operator calls in a
# long-lived session must not accumulate pinned RDDs)
_SHINGLE_CACHE: list[DataFrame] = []


def _cache_shingles(sh: DataFrame) -> DataFrame:
    while _SHINGLE_CACHE:
        try:
            _SHINGLE_CACHE.pop().unpersist()
        except Exception:
            pass
    sh = sh.cache()
    _SHINGLE_CACHE.append(sh)
    return sh


def exact_dups(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: digest → count + representative id."""
    return (docs
            .select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
            .groupBy("digest")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def doc_shingles(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", w: int = 3) -> DataFrame:
    # two projections: tokenize ONCE into a real column, then shingle —
    # embedding the regex split inside the shingle lambda re-evaluates
    # it per position (quadratic; measured 6s -> <1s at sf0.1)
    toks = _respread(docs.select(F.col(id_col).alias("id"),
                                 F.col(text_col))) \
        .select("id", T.word_tokens(text_col).alias("toks"))
    return toks.select("id",
                       F.explode(T.shingles_from("toks", w)).alias("sh"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", w: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = 1000) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.  The shingle
    equi-join generates only candidate pairs that share ≥1 shingle.

    ``max_df`` drops shingles whose document frequency exceeds the cap
    BEFORE the self-join — a hot shingle ("the end") otherwise creates
    a quadratic bucket at corpus scale.  Jaccard is then computed over
    the capped shingle sets (sizes and intersections consistently), the
    standard stop-shingle treatment in web-scale dedup pipelines."""
    sh = doc_shingles(docs, text_col, id_col, w)
    if max_df is not None:
        rare = (sh.groupBy("sh").agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_df).select("sh"))
        sh = sh.join(rare, "sh")
    sh = _cache_shingles(sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    j = (inter.join(sa, "id_a").join(sb, "id_b")
         .withColumn("jaccard",
                     F.round(F.col("inter")
                             / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6))
         .filter(F.col("jaccard") >= threshold))
    return j.select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")


def minhash_signature(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", w: int = 3,
                      k: int = 16) -> DataFrame:
    """K minhashes per doc.  Each md5 digest yields TWO independent
    60-bit hashes (hex chars 0-14 and 16-30), so k hashes cost k/2 md5
    calls per shingle row — md5 is the whole cost of this operator at
    scale.  h_{2i}   = min over shingles of md5(sh || '#i')[0:15]
            h_{2i+1} = min over shingles of md5(sh || '#i')[16:31].

    r06 physical shape: shingles are built JVM-side (so tokenize/
    shingle string semantics stay byte-identical to the SQL twin), and
    the hashing runs ONE-PASS in ``mapInArrow`` (guide §4.2) with a
    per-task shingle→hashes MEMO.  Three multipliers over the r05
    all-JVM projection (26.8s at sf1.0):
      * a shingle shared by D documents in a task is hashed ONCE, not
        D times — shingle frequency is Zipf on any real corpus
        (measured here: ~21k distinct vs ~40k instances per task), and
        repeated instances cost one dict probe instead of k/2 md5s;
      * hashlib hashes the shared shingle PREFIX once and forks the
        k/2 suffix digests with ``.copy()`` — a ~8× hash-work
        reduction no JVM expression can express;
      * the per-doc element-wise min runs as ONE numpy reduction over
        the doc's stacked hash rows, not k Python comparisons per
        shingle instance.
    A global distinct-shingle variant (distinct → hash → join back →
    groupBy min) was measured SLOWER here (4.7s vs 2s signature): it
    plans the tokenize/shingle subtree twice and adds two shuffles,
    which dwarfs the md5 saving.  The memo is capped (cleared at 2^20
    entries) so executor memory stays bounded at corpus scale; this
    stage remains shuffle-free — the only exchange in the whole LSH
    query is the band-bucket groupBy downstream.

    Identical values: md5 over the same UTF-8 bytes, same '#i'
    suffixes, same 60-bit slices (big-endian bytes >> 4), same min.
    A null-shingle doc (null text) drops out exactly as the exploded
    form dropped it.  ``id`` is declared long (every corpus id here
    is); the signature schema is otherwise caller-invisible."""
    n_dig = (k + 1) // 2
    suffixes = [f"#{i}".encode() for i in range(n_dig)]

    # re-spread BEFORE the compute projections (see _respread; measured
    # 3.5s single-task vs 0.6s spread for the shingle build at sf1.0),
    # then two projections: tokenize ONCE into a real column, then
    # shingle — embedding the regex split inside the shingle lambda
    # re-evaluates it per position (quadratic; see doc_shingles)
    base = _respread(docs.select(F.col(id_col).alias("id"),
                                 F.col(text_col)))
    toks = base.select("id", T.word_tokens(text_col).alias("toks"))
    shs = toks.select("id", T.shingles_from("toks", w).alias("shs"))

    def fn(batches):
        from hashlib import md5
        import numpy as np
        import pyarrow as pa
        memo: dict = {}

        def hash_of(s):
            v = memo.get(s)
            if v is None:
                m0 = md5(s.encode("utf-8"))
                v = np.empty(k, np.int64)
                for i, suf in enumerate(suffixes):
                    m = m0.copy()
                    m.update(suf)
                    d = m.digest()
                    j = 2 * i
                    v[j] = int.from_bytes(d[:8], "big") >> 4
                    if j + 1 < k:
                        v[j + 1] = int.from_bytes(d[8:16], "big") >> 4
                if len(memo) >= (1 << 20):
                    memo.clear()
                memo[s] = v
            return v

        for b in batches:
            ids = b.column(0).to_pylist()
            shingle_lists = b.column(1).to_pylist()
            out_ids = []
            out_rows = []
            for rid, shingles in zip(ids, shingle_lists):
                if not shingles:
                    continue
                out_ids.append(rid)
                out_rows.append(np.min(
                    np.stack([hash_of(s) for s in shingles]), axis=0))
            if out_ids:
                mat = np.stack(out_rows)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_ids, type=pa.int64())]
                    + [pa.array(mat[:, j]) for j in range(k)],
                    ["id"] + [f"h{j}" for j in range(k)])

    schema = "id long, " + ", ".join(f"h{j} long" for j in range(k))
    return shs.mapInArrow(fn, schema)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", w: int = 3,
                      k: int = 16, band_rows: int = 2) -> DataFrame:
    """LSH candidate pairs: split the K-row signature into bands of
    ``band_rows``; docs sharing any band bucket become a candidate.
    Returns distinct (id_a < id_b) pairs with the number of matching
    bands (a cheap similarity proxy; rescore with jaccard downstream)."""
    sig = minhash_signature(docs, text_col, id_col, w, k)
    n_bands = k // band_rows
    bands = F.array(*[
        F.struct(F.lit(bi).alias("band"),
                 F.concat_ws("_", *[F.col(f"h{bi * band_rows + r}")
                                    for r in range(band_rows)]).alias("key"))
        for bi in range(n_bands)
    ])
    buckets = (sig.select("id", F.explode(bands).alias("b"))
               .select("id", F.col("b.band").alias("band"),
                       F.col("b.key").alias("key")))
    # r06 pair generation: group each (band, key) bucket, sort its ids,
    # expand pairs with the same positional HOF idiom as A6 teammates.
    # The r05 bucket SELF-JOIN planned the whole shingle→md5→signature
    # subtree on BOTH join sides (no exchange to reuse — one side rode
    # a BroadcastExchange), so every md5 was computed twice; the
    # groupBy computes the signature once and shuffles only the tiny
    # (id, band, key) bucket rows.  Identical output: a sorted bucket
    # [i1 < … < im] expands to exactly the (a.id < b.id) join pairs,
    # and the per-pair count of shared bands is unchanged.
    pair_structs = F.flatten(F.expr(
        "transform(ids, (x, i) -> "
        " transform(slice(ids, 1, i), y -> struct(y as id_a, x as id_b)))"))
    return (buckets.groupBy("band", "key")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") > 1)
            .select(F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"),
                     F.col("p.id_b").alias("id_b"))
            .agg(F.count("*").alias("n_bands")))


def simhash64(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over word tokens: per bit position, sign of
    Σ(±1) across token hashes.  One explode + one groupBy."""
    toks = (_respread(docs.select(F.col(id_col).alias("id"),
                                  F.col(text_col)))
            .select("id",
                    F.explode(F.array_distinct(T.word_tokens(text_col)))
                     .alias("tok"))
            .withColumn("h", T.md5_long("tok")))
    # one sum per bit position in a SINGLE groupBy over the token rows —
    # no 60× bit-explode (the row inflation the naive formulation pays)
    sums = [F.sum(F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1))
             .alias(f"v{b}") for b in range(HASH_BITS)]
    agg = toks.groupBy("id").agg(*sums)
    sim = None
    for b in range(HASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("id", sim.alias("simhash"))


def embedding_dup_pairs(emb: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", threshold: float = 0.95,
                        n_bands: int = 8, planes_per_band: int = 2,
                        dim: int = 64, seed: int = 7,
                        exact: bool = False) -> DataFrame:
    """Near-duplicate vectors: cosine ≥ threshold among multi-band LSH
    candidates.  Candidate generation is an equi-join on (band, bucket
    key) — never an O(n²) cross join — then exact cosine rescoring
    within buckets.  Recall < 1 by design (tunable via n_bands); the
    planes are seed-deterministic so an external oracle can reproduce
    the candidate set bit-for-bit.

    ``exact=True`` keeps the brute-force all-pairs path — the small-n
    test oracle for measuring the LSH recall, NOT a scale path."""
    from stats_spark.operators.similarity import (with_norm, dot,
                                                  lsh_band_buckets)

    if exact:
        n = with_norm(emb, vec_col, id_col)
        a, b = n.alias("a"), n.alias("b")
        cos = (dot(F.col("a.vec"), F.col("b.vec"))
               / (F.col("a.norm") * F.col("b.norm")))
        return (a.join(b, F.col("a.id") < F.col("b.id"))
                .withColumn("cosine", F.round(cos, 6))
                .filter(F.col("cosine") >= threshold)
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"), "cosine"))

    bk = lsh_band_buckets(emb, n_bands, planes_per_band, dim,
                          vec_col, id_col, seed)
    a, b = bk.alias("a"), bk.alias("b")
    cos = (dot(F.col("a.vec"), F.col("b.vec"))
           / (F.col("a.norm") * F.col("b.norm")))
    # same-bucket equi-join; a pair sharing several bands appears once
    # (distinct on the pair key before scoring keeps rescoring minimal)
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.vec").alias("va"), F.col("b.vec").alias("vb"),
                    F.col("a.norm").alias("na"), F.col("b.norm").alias("nb"))
            .dropDuplicates(["id_a", "id_b"]))
    cos = (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    return (cand.withColumn("cosine", F.round(cos, 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))
