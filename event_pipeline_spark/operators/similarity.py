"""Similarity search over embedding columns (north-star surface).

Two paths, one semantic:

- **brute force** — exact cosine top-k. Scoring is a vectorized Arrow
  batch (one (n x d) @ (d,) matmul per batch); queries broadcast, so the
  corpus is scanned once with no shuffle of vectors. Top-k per query via
  window row_number (WindowGroupLimit pushes the k cutoff into the sort).
- **LSH (random hyperplanes)** — sign-bit signature per hash table →
  bucket join on (table, bucket) → exact cosine re-rank of candidates.
  The 100 TB path: candidate generation shuffles ~24-byte (table,
  bucket, id) rows ONLY — vectors are fetched by id for the surviving
  candidate set. All signatures for all tables come from one
  (n x d) @ (d, tables*planes) matmul per Arrow batch.

An IVF variant (k-means coarse quantizer) is the classic third option;
with no trained codebook shipped, LSH is the stateless choice.

Registered queries (rows-only; LSH recall vs brute force asserted in
tests/test_similarity.py): ``sim_topk_bruteforce``, ``sim_lsh_topk``,
``sim_embedding_neardup``.
"""

from __future__ import annotations

import functools as _functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}

#: embeddings.parquet vector dimensionality (FIXTURES.md)
DIM = 64


def _register(name: str, fn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return read_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# vector math
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product (zip_with + aggregate). Fine for a handful of
    evaluations; the batch paths below use the Arrow kernel instead —
    HOF lambdas run interpreted and measure ~10x slower per element."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


@_functools.lru_cache(maxsize=1)
def _cosine_udf():
    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        if ma.size == 0:
            return pd.Series(np.zeros(0))
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        out = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
        return pd.Series(out)

    return cos


def cosine_batch(a: Column, b: Column) -> Column:
    """Vectorized cosine over Arrow batches — the hot-path form."""
    return _cosine_udf()(a, b)


# ---------------------------------------------------------------------------
# brute-force top-k
# ---------------------------------------------------------------------------


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries`` is expected to be small (a batch of probes) — it is
    broadcast, so the corpus is scanned once with no shuffle of vectors;
    only (query_id, corpus_id, score) triples shuffle for the window.
    """
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("qv"))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col(query_id_col) != F.col("corpus_id"))
        .select(
            query_id_col,
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# LSH: random hyperplane signatures
# ---------------------------------------------------------------------------


@_functools.lru_cache(maxsize=8)
def _bucket_udf(n_planes: int, n_tables: int, seed: int, dim: int = DIM):
    rng = np.random.RandomState(seed)
    # (dim, tables*planes): ALL tables' signatures in one matmul
    planes = rng.normal(size=(dim, n_tables * n_planes))
    weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def bk(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        if m.size == 0:
            return pd.Series([], dtype=object)
        bits = (m @ planes) >= 0  # (n, T*P)
        bits = bits.reshape(len(m), n_tables, n_planes)
        buckets = (bits * weights).sum(axis=2)  # (n, T)
        return pd.Series(list(buckets.astype(np.int64)))

    return bk


def lsh_buckets(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(table, bucket, _id) rows — one signature per hash table, all
    computed in a single Arrow pass. Deliberately NARROW: vectors stay
    behind; fetch them by id for candidates only."""
    sig = df.select(
        F.col(id_col).alias("_id"),
        _bucket_udf(n_planes, n_tables, seed)(F.col(vec_col)).alias("_bks"),
    )
    return sig.select("_id", F.posexplode("_bks").alias("table", "bucket"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    n_tables: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing any LSH
    bucket with the query in any table, re-ranked by exact cosine."""
    cb = lsh_buckets(corpus, id_col=id_col, vec_col=vec_col,
                     n_planes=n_planes, n_tables=n_tables)
    qb = lsh_buckets(queries, id_col=query_id_col, vec_col=vec_col,
                     n_planes=n_planes, n_tables=n_tables)
    cand = (
        cb.alias("c")
        .join(
            F.broadcast(qb.alias("q")),
            (F.col("c.table") == F.col("q.table"))
            & (F.col("c.bucket") == F.col("q.bucket")),
        )
        .select(
            F.col("q._id").alias(query_id_col),
            F.col("c._id").alias("corpus_id"),
        )
        .where(F.col(query_id_col) != F.col("corpus_id"))
        .dropDuplicates([query_id_col, "corpus_id"])
    )
    scored = (
        cand.join(
            corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")),
            "corpus_id",
        )
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("qv"))
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_duplicates(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 6,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold: self-join on narrow bucket
    rows, dedup the candidate ids, THEN fetch vectors for candidates and
    re-check exactly — the 64-dim arrays never ride the bucket join."""
    b = lsh_buckets(df, id_col=id_col, vec_col=vec_col,
                    n_planes=n_planes, n_tables=n_tables)
    left, right = b.alias("l"), b.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    return (
        pairs.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")),
            "id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(cosine_batch(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Centroid training (one trainer for IVF, k-means and SemDeDup cells,
# kNN cells) + IVF: k-means coarse quantizer and probed clusters
# ---------------------------------------------------------------------------


def _unit_sample(
    df: DataFrame, vec_col: str, sample_cap: int, seed: int
) -> tuple[int, np.ndarray]:
    """(row count, L2-normalized bounded sample) — the one count and
    one ``sample().collect()`` every trainer pays at build time. The
    sample is capped, so driver memory is bounded regardless of corpus
    size."""
    n = df.count()
    frac = min(1.0, sample_cap / max(n, 1))
    sample = np.array(
        [r[0] for r in df.select(vec_col).sample(frac, seed=seed).collect()],
        dtype=np.float64,
    )
    if len(sample) == 0:
        raise ValueError(f"cannot train centroids on an empty {vec_col!r} sample")
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    return n, sample


def knn_cell_count(n: int, target_cell_size: int) -> int:
    """The k ~ n/target rule ``train_centroids`` applies when no k is
    given: cells sized to a CONSTANT target as the corpus grows, so
    per-cell work (SemDeDup's quadratic term, kNN candidates) stays
    bounded instead of growing ~n²/k under a fixed k."""
    return max(2, -(-int(n) // int(target_cell_size)))


def train_centroids(
    df: DataFrame,
    *,
    n_clusters: int | None = 16,
    target_cluster_size: int = 10_000,
    vec_col: str = "embedding",
    sample_cap: int = 50_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means (Lloyd's on normalized vectors, the cosine
    form) over a bounded driver sample; returns the (k x d) unit
    centroids. At 100 TB it trains on ~50k rows and the codebook
    rides the plan (literal expressions or a UDF closure), so
    assignment is a map with no Spark job of its own.

    ``n_clusters=None`` derives k from the row count by the k ~
    n/target rule (``knn_cell_count``). k is clamped to the number of
    sampled rows. Building costs two eager actions, the count and the
    sample collect: the count sizes the sample fraction and k."""
    n, sample = _unit_sample(df, vec_col, sample_cap, seed)
    if n_clusters is None:
        n_clusters = knn_cell_count(n, target_cluster_size)
    k = min(n_clusters, len(sample))
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        assign = (sample @ centroids.T).argmax(axis=1)  # nearest by cosine
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
    return centroids


def _assign_udf(centroids: np.ndarray, n_probe: int):
    cT = centroids.T  # (d, k)

    @F.pandas_udf("array<int>")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        if m.size == 0:
            return pd.Series([], dtype=object)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cT  # (n, k)
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    *,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via inverted lists: corpus rows live in their
    single nearest cluster; each query probes its ``n_probe`` nearest
    clusters. Candidate generation joins on the int cluster id (narrow),
    re-rank is exact cosine on fetched vectors."""
    corpus_cells = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(_assign_udf(centroids, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    query_cells = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qv"),
        F.explode(_assign_udf(centroids, n_probe)(F.col(vec_col))).alias("cell"),
    )
    scored = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .where(F.col(query_id_col) != F.col("corpus_id"))
        .select(
            query_id_col,
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias("cosine"),
        )
        .dropDuplicates([query_id_col, "corpus_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return cosine_topk(emb, queries, k=5).orderBy("query_id", "rank")


_register(
    "sim_topk_bruteforce",
    q_sim_topk_bruteforce,
    # DOUBLE[] casts: DuckDB's list_cosine_similarity would otherwise
    # compute over float32; both engines then do float64 math over the
    # same float32-sourced values, and ROUND(x, 6) absorbs the
    # summation-order ulp between numpy and the sequential loop.
    """WITH q AS (
         SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         FROM embeddings WHERE vec_id < 5),
       scored AS (
         SELECT q.query_id, e.vec_id AS corpus_id,
                ROUND(list_cosine_similarity(
                    CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
         FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
       ranked AS (
         SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
         FROM scored)
       SELECT query_id, corpus_id, cosine, rank FROM ranked
       WHERE rank <= 5 ORDER BY query_id, rank""",
)


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH params calibrated for this corpus: embeddings are near-random
    (max pairwise cosine ≈ 0.48), so short signatures (4 planes) + many
    tables keep recall high; tighter corpora warrant longer signatures."""
    emb = _emb(spark, sf_dir)
    queries = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return lsh_topk(emb, queries, k=5, n_planes=4, n_tables=8).orderBy(
        "query_id", "rank"
    )


_register("sim_lsh_topk", q_sim_lsh_topk)


def q_sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold 0.45 ≈ the corpus's 99.9th-percentile pairwise cosine —
    'near-dup' is meaningful only relative to the similarity distribution
    (this synthetic corpus has no true clones)."""
    return embedding_near_duplicates(
        _emb(spark, sf_dir), threshold=0.45, n_planes=4, n_tables=8
    ).orderBy("id_a", "id_b")


_register("sim_embedding_neardup", q_sim_embedding_neardup)


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: spherical k-means codebook trained on a bounded sample,
    3-of-8 clusters probed (rows-only; recall vs brute force asserted in
    tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    queries = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    centroids = train_centroids(emb, n_clusters=8)
    return ivf_topk(emb, queries, centroids, k=5, n_probe=3).orderBy(
        "query_id", "rank"
    )


_register("sim_ivf_topk", q_sim_ivf_topk)


# -- embedding clustering ---------------------------------------------------

def cluster_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Input columns + ``cluster``: each row's nearest of ``k``
    spherical k-means centroids. Centroids come from ``train_centroids``
    (an eager count and sample collect at build time, bounded driver
    memory); the assignment is ``assign_fixed_centroids`` in the plan,
    so the action is one map over the rows with no per-iteration job.
    """
    centroids = train_centroids(df, n_clusters=k, vec_col=vec_col, seed=seed)
    return df.withColumn(
        "cluster", assign_fixed_centroids(vec_col, centroids.tolist())
    )


def q_sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of k-means over the embeddings table
    (rows-only: centroid init is seed/partitioning-dependent; the
    SSE-beats-random and determinism contracts are unit-tested)."""
    emb = _emb(spark, sf_dir)
    k = emb.select("label").distinct().count()
    out = cluster_embeddings(emb, "embedding", k=k)
    return (
        out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


_register("sim_kmeans_clusters", q_sim_kmeans)


# ---------------------------------------------------------------------------
# Product quantization (round 3): m-subvector codebooks + ADC search —
# the memory side of IVF-PQ. A d-dim float32 vector (d*4 bytes) becomes
# m uint8 codes: 64-dim → 8 bytes, a 32x cut, which is what lets a
# trillion-vector index fit a cluster's RAM. Codebooks are trained on
# the capped driver sample ``train_centroids`` also draws (L2 Lloyd's
# per subvector) and ride the plan as a broadcast; encode and search
# are Arrow-batched numpy.
# ---------------------------------------------------------------------------


def _nearest_l2(block: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid by L2. ||b - c||² =
    ||b||² - 2 b·c + ||c||², and ||b||² is constant per row, so the
    argmin needs only an (n x k) temporary, never (n x k x sub)."""
    return (-2.0 * (block @ cent.T) + (cent**2).sum(axis=1)[None, :]).argmin(axis=1)


def train_pq_codebooks(
    df: DataFrame,
    *,
    m_subvectors: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample_cap: int = 50_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Per-subvector Lloyd's k-means on a bounded sample → codebooks of
    shape (m, n_codes, d/m). L2 metric in code space (the PQ standard);
    callers normalize vectors first when cosine ranking is wanted."""
    _, sample = _unit_sample(df, vec_col, sample_cap, seed)
    d = sample.shape[1]
    if d % m_subvectors:
        raise ValueError(f"dim {d} not divisible by m={m_subvectors}")
    sub = d // m_subvectors
    k = min(n_codes, len(sample))
    rng = np.random.RandomState(seed)
    books = np.empty((m_subvectors, k, sub))
    for mi in range(m_subvectors):
        block = sample[:, mi * sub : (mi + 1) * sub]
        cent = block[rng.choice(len(block), size=k, replace=False)]
        for _ in range(iters):
            assign = _nearest_l2(block, cent)
            for c in range(k):
                members = block[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[mi] = cent
    return books


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectors → m uint8-range codes (stored as array<smallint>): per
    subvector, the index of the nearest codebook centroid."""
    m, _, sub = books.shape

    @F.pandas_udf("array<smallint>")
    def enc(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        if x.size == 0:
            return pd.Series([], dtype=object)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        n = len(x)
        codes = np.empty((n, m), np.int16)
        for mi in range(m):
            codes[:, mi] = _nearest_l2(x[:, mi * sub : (mi + 1) * sub], books[mi])
        return pd.Series(list(codes))

    return df.select(id_col, enc(F.col(vec_col)).alias("pq_codes"))


def pq_decode_np(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Codes → reconstructed vectors (test/diagnostic helper)."""
    m, k, sub = books.shape
    return np.concatenate(
        [books[mi][codes[:, mi]] for mi in range(m)], axis=1
    )


def pq_topk(
    encoded: DataFrame,
    query_vec: np.ndarray,
    books: np.ndarray,
    *,
    top_k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric distance computation: the query stays full-precision;
    each subvector contributes via a precomputed (m x k) lookup table,
    so scoring a code is m table gathers + a sum — no vector decode.
    One scan of the code table, per-partition numpy, global top-k via
    TakeOrderedAndProject."""
    m, k, sub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    lut = np.empty((m, k))
    for mi in range(m):
        qs = q[mi * sub : (mi + 1) * sub]
        lut[mi] = ((books[mi] - qs[None, :]) ** 2).sum(axis=1)

    @F.pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        c = np.array(codes.tolist(), dtype=np.int64)
        if c.size == 0:
            return pd.Series([], dtype="float64")
        dist = lut[np.arange(m)[None, :], c].sum(axis=1)
        return pd.Series(dist)

    return (
        encoded.select(id_col, F.round(adc(F.col("pq_codes")), 6).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(top_k)
    )


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed top-10 nearest to the deterministic query vector
    (vec_id 0's embedding). Rows-only by design (quantized ranking is
    approximate); recall + compression contracts in test_similarity.py."""
    emb = _emb(spark, sf_dir)
    books = train_pq_codebooks(emb, m_subvectors=8)
    qv = np.array(
        emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    )
    encoded = pq_encode(emb.where(F.col("vec_id") != 0), books)
    return pq_topk(encoded, qv, books, top_k=10)


_register("sim_pq_topk", q_sim_pq_topk)


def ivfpq_topk(
    corpus: DataFrame,
    query_vec: np.ndarray,
    centroids: np.ndarray,
    books: np.ndarray,
    *,
    top_k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVF-PQ pipeline: rows live in their nearest coarse cell
    holding only (id, cell, m-byte code); a query probes ``n_probe``
    cells and ranks the candidates by ADC. Memory per row = one int +
    m bytes (no float vectors in the index), scan per query = the
    probed cells only — the composition that serves billion-vector
    corpora from RAM. Both codebooks train on capped samples and ride
    the plan as broadcasts."""
    qsims = centroids @ np.asarray(query_vec, dtype=np.float64)
    probe_cells = [int(c) for c in np.argsort(-qsims)[:n_probe]]
    index = corpus.select(
        F.col(id_col),
        F.element_at(_assign_udf(centroids, 1)(F.col(vec_col)), 1).alias("cell"),
        F.col(vec_col),
    )
    encoded = pq_encode(
        index.where(F.col("cell").isin(probe_cells)),
        books,
        id_col=id_col,
        vec_col=vec_col,
    )
    return pq_topk(encoded, query_vec, books, top_k=top_k, id_col=id_col)


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probe + PQ-rank top-10 for the deterministic query (vec_id
    0). Rows-only by design; recall contract in test_similarity.py."""
    emb = _emb(spark, sf_dir)
    centroids = train_centroids(emb, n_clusters=8)
    books = train_pq_codebooks(emb, m_subvectors=8)
    qv = np.array(
        emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    )
    return ivfpq_topk(
        emb.where(F.col("vec_id") != 0), qv, centroids, books, n_probe=3
    )


_register("sim_ivfpq_topk", q_sim_ivfpq_topk)


# ---------------------------------------------------------------------------
# SemDeDup (round 5): semantic deduplication — the third dedup family
# next to exact (dedup.py hash) and lexical (MinHash/SimHash/Jaccard).
# Public recipe (Abbas et al. 2023, "SemDeDup"): k-means-cluster the
# embedding space, compute pairwise cosine WITHIN each cluster only,
# connect pairs above the threshold into duplicate groups, keep one
# representative per group. Cross-cluster pairs are declared
# non-duplicates — that is the approximation that removes the n² term:
# total work is sum of cluster-size², bounded by choosing k so p99
# cluster size is O(10^4) (k ~ n/target_size; the paper uses 11k
# clusters for LAION-440M). Representative choice follows the r4
# verdict's spec: the member nearest the cluster centroid (tie: lowest
# id) — deterministic given the assignment.
# ---------------------------------------------------------------------------


#: fixed ±1 hyperplane-style centroids for the deterministic-assignment
#: mode (4 × 64, rng seed 20260814). Every component is exactly
#: representable and |c| = sqrt(64) = 8 exactly, so a DuckDB oracle can
#: recompute the assignment bit-compatibly (cosine rounded to 7
#: decimals on both engines before the argmax).
SEM_CENTROIDS: list[list[float]] = [list(map(float, row)) for row in [
    [-1, 1, 1, -1, -1, 1, -1, -1, 1, 1, 1, -1, 1, -1, 1, 1, 1, -1, -1,
     1, 1, -1, -1, 1, -1, -1, -1, 1, -1, 1, 1, 1, 1, -1, 1, -1, 1, -1,
     1, -1, -1, 1, -1, 1, 1, -1, -1, 1, 1, -1, 1, 1, -1, -1, 1, -1, -1,
     1, 1, 1, -1, 1, 1, 1],
    [1, -1, -1, 1, -1, -1, -1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, 1, 1,
     1, -1, -1, 1, 1, -1, -1, 1, -1, 1, 1, -1, 1, -1, 1, 1, -1, 1, 1,
     -1, -1, -1, 1, -1, 1, -1, 1, 1, 1, -1, 1, -1, 1, -1, -1, 1, 1, 1,
     1, 1, -1, -1, 1, 1, 1],
    [-1, 1, 1, -1, 1, 1, 1, -1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, -1,
     1, -1, -1, -1, 1, -1, 1, -1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1,
     1, 1, 1, 1, -1, -1, -1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, -1, -1,
     1, -1, -1, -1, 1, -1, 1],
    [-1, 1, 1, -1, -1, 1, 1, 1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, 1,
     -1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1, -1, 1, 1,
     -1, 1, -1, -1, -1, -1, 1, -1, -1, -1, -1, 1, 1, 1, -1, 1, 1, -1,
     -1, -1, 1, 1, -1, 1, 1, 1],
]]


def assign_fixed_centroids(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """Deterministic cluster assignment against literal centroids —
    pure JVM expression (zip_with/aggregate HOFs, no Python crossing).

    cluster = argmax over centroids of round(cosine(v, c), 7), ties to
    the lowest centroid index. The rounding makes the argmax
    reproducible across engines (a DuckDB oracle recomputes the same
    quantized cosine), and the tie rule makes it total.
    """
    import math as _math

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    ranked = []
    for i, c in enumerate(centroids):
        cn = _math.sqrt(sum(x * x for x in c))
        dotp = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(float(x)) for x in c]),
                       lambda a, b: a * b),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        sim = F.round(dotp / (nrm * F.lit(cn)), 7)
        # lexicographic struct min == (sim desc, index asc) argmax
        ranked.append(F.struct((-sim).alias("ns"), F.lit(i).alias("i")))
    return F.array_min(F.array(*ranked))["i"].cast("int")


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k: int | None = None,
    target_cluster_size: int = 10_000,
    centroids: list[list[float]] | None = None,
    seed: int = 42,
    block: int = 1024,
) -> DataFrame:
    """Keep/drop list: (id, cluster, keep, kept_by).

    ``keep`` marks the per-group representative (centroid-nearest,
    then lowest id); dropped rows carry the representative's id in
    ``kept_by`` (keepers carry their own). Singleton docs are always
    kept. Per-cluster work runs as one ``applyInPandas`` group —
    vectorized gram-matrix blocks (``block`` rows at a time, so memory
    is block*n_c, not n_c²) + union-find over above-threshold pairs.

    Clustering: by default spherical k-means centroids from
    ``train_centroids`` with k derived from ``target_cluster_size``
    (k = max(2, ceil(n / target)), the paper's k ~ n/target rule —
    cluster size, and hence the quadratic per-cluster term, stays
    bounded as the corpus grows). Pass ``k`` to pin the cluster count,
    or ``centroids`` (literal vectors) for the deterministic mode whose
    full keep/kept_by output an external oracle can recompute. Either
    way rows are assigned in the plan by ``assign_fixed_centroids``
    (cosines rounded to 7 decimals before the argmax; the in-kernel
    rounding below applies in all modes).

    Building with trained centroids is eager: it runs two Spark actions,
    a ``df.count()`` (sizing k and the sample) and a bounded
    ``sample().collect()`` the driver trains on. The literal-centroid
    mode starts no job until the caller's action.
    """
    if centroids is None:
        centroids = train_centroids(
            df, n_clusters=k, target_cluster_size=target_cluster_size,
            vec_col=vec_col, seed=seed,
        ).tolist()
    clustered = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        assign_fixed_centroids(vec_col, centroids).alias("cluster"),
    )

    def dedup_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        pdf = pdf.sort_values("id").reset_index(drop=True)
        v = np.array(pdf["vec"].tolist(), dtype=np.float64)
        vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        # union-find over above-threshold pairs
        parent = list(range(n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for lo in range(0, n, block):
            g = vn[lo : lo + block] @ vn.T  # (block, n) cosine block
            # quantize before comparing: the duplicate relation is then
            # independent of summation order (numpy pairwise vs an
            # oracle's sequential fold differ at ~1e-15)
            bi, bj = np.nonzero(np.round(g, 7) >= threshold)
            for i, j in zip(bi + lo, bj):
                if i < j:
                    ri, rj = find(int(i)), find(int(j))
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        centroid = vn.mean(axis=0)
        cen_sim = np.round(vn @ centroid, 7)  # quantized (see above)
        groups: dict[int, list[int]] = {}
        for i in range(n):
            groups.setdefault(find(i), []).append(i)
        keep = np.zeros(n, dtype=bool)
        kept_by = np.empty(n, dtype=np.int64)
        for members in groups.values():
            # centroid-nearest, tie-break lowest id (rows sorted by id)
            rep = max(members, key=lambda i: (cen_sim[i], -i))
            for i in members:
                keep[i] = i == rep
                kept_by[i] = pdf["id"].iloc[rep]
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "cluster": pdf["cluster"],
                "keep": keep,
                "kept_by": kept_by,
            }
        )

    return clustered.groupBy("cluster").applyInPandas(
        dedup_group, schema="id long, cluster int, keep boolean, kept_by long"
    )


def q_sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table plus 25 injected twins
    (vec_id + 1_000_000, identical vectors): every twin pair must
    collapse to one keeper. Rows-only by design (k-means assignment is
    seed-dependent); the injected-twin and singleton contracts are
    property-tested in test_similarity.py."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    twins = emb.where(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        emb.unionByName(twins), threshold=0.999, k=8
    )
    return out.select(
        "id", "keep", "kept_by"
    ).orderBy("id")


_register("sim_semantic_dedup", q_sim_semantic_dedup)


def q_sim_semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in deterministic-assignment mode: literal ±1 centroids
    (``SEM_CENTROIDS``) replace seeded k-means, so the ENTIRE
    keep/kept_by contract — assignment, within-cluster duplicate
    graph, connected components, centroid-nearest representative — is
    recomputed by the DuckDB oracle (cosines quantized to 7 decimals
    on both engines before every comparison). Same injected-twin
    corpus as ``sim_semantic_dedup``."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    twins = emb.where(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        emb.unionByName(twins), threshold=0.999, centroids=SEM_CENTROIDS
    )
    return out.select("id", "cluster", "keep", "kept_by").orderBy("id")


def _sem_cents_values() -> str:
    rows = []
    for i, c in enumerate(SEM_CENTROIDS):
        lits = ", ".join(str(float(x)) for x in c)
        rows.append(f"({i}, [{lits}]::DOUBLE[])")
    return ",\n       ".join(rows)


_register(
    "sim_semantic_dedup_exact",
    q_sim_semantic_dedup_exact,
    f"""
WITH RECURSIVE base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
  FROM embeddings WHERE vec_id < 25
),
cents(cid, cv) AS (
  VALUES {_sem_cents_values()}
),
-- assignment: argmax over centroids of round(cos, 7), tie lowest cid;
-- |centroid| = sqrt(64) = 8 exactly for the ±1 literals
assign AS (
  SELECT id, vn, cl FROM (
    SELECT n.id, n.vn, c.cid AS cl,
           ROW_NUMBER() OVER (
             PARTITION BY n.id
             ORDER BY round(list_inner_product(n.v, c.cv)
                            / (sqrt(list_inner_product(n.v, n.v)) * 8.0),
                            7) DESC,
                      c.cid ASC) AS rk
    FROM (SELECT id, v,
                 list_transform(
                   v, x -> x / sqrt(list_inner_product(v, v))) AS vn
          FROM base) n
    CROSS JOIN cents c)
  WHERE rk = 1
),
-- duplicate graph: within-cluster pairs with quantized cosine >= thr
edges AS (
  SELECT a.id AS ia, b.id AS ib
  FROM assign a JOIN assign b ON a.cl = b.cl AND a.id < b.id
  WHERE round(list_inner_product(a.vn, b.vn), 7) >= 0.999
),
sym AS (SELECT ia, ib FROM edges UNION ALL SELECT ib, ia FROM edges),
-- connected components by min-label propagation
comp(id, r) AS (
  SELECT id, id FROM assign
  UNION
  SELECT s.ib, c.r FROM comp c JOIN sym s ON s.ia = c.id
),
root AS (SELECT id, min(r) AS root FROM comp GROUP BY id),
-- per-cluster centroid of the NORMALIZED members, then quantized
-- member-to-centroid similarity (the representative score)
cen AS (
  SELECT a.cl, t.i, avg(a.vn[t.i]) AS m
  FROM assign a, LATERAL unnest(generate_series(1, len(a.vn))) AS t(i)
  GROUP BY a.cl, t.i
),
cs AS (
  SELECT a.id, round(sum(a.vn[t.i] * c.m), 7) AS censim
  FROM assign a,
       LATERAL unnest(generate_series(1, len(a.vn))) AS t(i),
       cen c
  WHERE c.cl = a.cl AND c.i = t.i
  GROUP BY a.id
),
rep AS (
  SELECT r.id, a.cl,
         FIRST_VALUE(r.id) OVER (
           PARTITION BY r.root
           ORDER BY cs.censim DESC, r.id ASC) AS kept_by
  FROM root r
  JOIN cs ON cs.id = r.id
  JOIN assign a ON a.id = r.id
)
SELECT id, cl AS cluster, (id = kept_by) AS keep, kept_by
FROM rep ORDER BY id
""",
)


# ---------------------------------------------------------------------------
# Deterministic-parameter ANN (round 6): the SemDeDup-exact pattern
# applied to the two bucketed retrieval paths. The production variants
# above use seeded random hyperplanes / trained k-means codebooks —
# correct but only rows-only checkable (an external engine cannot
# reproduce numpy draws or Lloyd iterations). These variants fix the
# parameters as LITERAL +-1 matrices (generated once from the frozen
# legacy RandomState stream, NEP 19-stable), so bucket assignment,
# probing, candidate generation, and the exact-cosine re-rank are all
# recomputable by the DuckDB oracle end to end. Semantics and plan
# shape are identical to the production variants; only the parameter
# source differs. The +-1 entries also make |plane| = |centroid| =
# sqrt(64) = 8 exactly, so cosine needs no cross-engine norm rounding.
# ---------------------------------------------------------------------------


def _pm1_matrix(rows: int, seed: int, dim: int = DIM) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return [
        [float(x) for x in row]
        for row in (rng.randint(0, 2, size=(rows, dim)) * 2 - 1)
    ]


#: 8 tables x 4 planes of +-1 entries (row t*4+p = table t, plane p)
LSH_EXACT_PLANES: list[list[float]] = _pm1_matrix(32, seed=20260814)
#: 8 +-1 coarse centroids for the exact IVF quantizer
IVF_EXACT_CENTROIDS: list[list[float]] = _pm1_matrix(8, seed=20260815)


def lsh_buckets_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_planes: int = 4,
) -> DataFrame:
    """(_id, table, bucket) rows from literal hyperplanes — pure JVM
    expression (zip_with/aggregate fold per plane, sign quantized at 7
    decimals). Same narrow output contract as ``lsh_buckets``; the
    Arrow kernel there is the constant-factor-faster production path,
    this one is the externally recomputable form (equivalence on the
    same planes pinned in tests/test_similarity.py)."""
    planes = LSH_EXACT_PLANES if planes is None else planes
    n_tables = len(planes) // n_planes
    v = as_double(F.col(vec_col))
    buckets = []
    for t in range(n_tables):
        b = F.lit(0).cast("long")
        for p in range(n_planes):
            pl = planes[t * n_planes + p]
            dotp = F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in pl]),
                    lambda a, c: a * c,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            bit = (F.round(dotp, 7) >= 0).cast("long")
            b = b + bit * F.lit(1 << p).cast("long")
        buckets.append(b)
    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.array(*buckets)).alias("table", "bucket"),
    )


def lsh_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    planes: list[list[float]] | None = None,
    n_planes: int = 4,
) -> DataFrame:
    """``lsh_topk`` with literal hyperplanes: candidates = any shared
    (table, bucket), re-ranked by exact cosine (round 6), ties to the
    lower corpus id."""
    cb = lsh_buckets_exact(
        corpus, id_col=id_col, vec_col=vec_col, planes=planes,
        n_planes=n_planes,
    )
    qb = lsh_buckets_exact(
        queries, id_col=query_id_col, vec_col=vec_col, planes=planes,
        n_planes=n_planes,
    )
    cand = (
        cb.alias("c")
        .join(
            F.broadcast(qb.alias("q")),
            (F.col("c.table") == F.col("q.table"))
            & (F.col("c.bucket") == F.col("q.bucket")),
        )
        .select(
            F.col("q._id").alias(query_id_col),
            F.col("c._id").alias("corpus_id"),
        )
        .where(F.col(query_id_col) != F.col("corpus_id"))
        .dropDuplicates([query_id_col, "corpus_id"])
    )
    scored = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")
            ),
            "corpus_id",
        )
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("qv"))
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def probe_fixed_centroids(
    vec_col: str, centroids: list[list[float]], n_probe: int
) -> Column:
    """Array of the ``n_probe`` nearest centroid indices (by round-7
    cosine, ties to the lower index) — the deterministic multi-probe
    companion of ``assign_fixed_centroids``."""
    import math as _math

    v = as_double(F.col(vec_col))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    ranked = []
    for i, c in enumerate(centroids):
        cn = _math.sqrt(sum(x * x for x in c))
        dotp = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        sim = F.round(dotp / (nrm * F.lit(cn)), 7)
        ranked.append(F.struct((-sim).alias("ns"), F.lit(i).alias("i")))
    return F.slice(
        F.transform(F.array_sort(F.array(*ranked)), lambda s: s["i"]),
        1,
        n_probe,
    )


def ivf_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """``ivf_topk`` with literal centroids: corpus rows live in their
    argmax-cosine cell, queries probe their ``n_probe`` nearest cells,
    candidates join on the int cell id, re-rank is exact cosine."""
    centroids = IVF_EXACT_CENTROIDS if centroids is None else centroids
    corpus_cells = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        assign_fixed_centroids(vec_col, centroids).alias("cell"),
    )
    query_cells = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qv"),
        F.explode(
            probe_fixed_centroids(vec_col, centroids, n_probe)
        ).alias("cell"),
    )
    scored = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .where(F.col(query_id_col) != F.col("corpus_id"))
        .select(
            query_id_col,
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias("cosine"),
        )
        .dropDuplicates([query_id_col, "corpus_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def q_sim_lsh_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-k with literal +-1 hyperplanes (8 tables x 4 planes —
    the same calibration as ``sim_lsh_topk``), oracle-recomputable end
    to end."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk_exact(emb, queries, k=5).orderBy("query_id", "rank")


def _planes_values(planes: list[list[float]], n_planes: int) -> str:
    rows = []
    for idx, pl in enumerate(planes):
        t, p = divmod(idx, n_planes)
        lits = ", ".join(str(float(x)) for x in pl)
        rows.append(f"({t}, {1 << p}, [{lits}]::DOUBLE[])")
    return ",\n       ".join(rows)


def _cents_values(cents: list[list[float]]) -> str:
    rows = []
    for i, c in enumerate(cents):
        lits = ", ".join(str(float(x)) for x in c)
        rows.append(f"({i}, [{lits}]::DOUBLE[])")
    return ",\n       ".join(rows)


_register(
    "sim_lsh_topk_exact",
    q_sim_lsh_topk_exact,
    f"""
WITH corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT id AS query_id, v FROM corpus WHERE id < 5),
planes(t, w, pv) AS (
  VALUES {_planes_values(LSH_EXACT_PLANES, 4)}
),
cb AS (
  SELECT c.id, pl.t,
         CAST(sum(CASE WHEN round(list_inner_product(c.v, pl.pv), 7) >= 0
                       THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
  FROM corpus c CROSS JOIN planes pl GROUP BY c.id, pl.t),
qb AS (
  SELECT qq.query_id, pl.t,
         CAST(sum(CASE WHEN round(list_inner_product(qq.v, pl.pv), 7) >= 0
                       THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
  FROM q qq CROSS JOIN planes pl GROUP BY qq.query_id, pl.t),
cand AS (
  SELECT DISTINCT qb.query_id, cb.id AS corpus_id
  FROM qb JOIN cb ON qb.t = cb.t AND qb.bucket = cb.bucket
  WHERE qb.query_id != cb.id),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         ROUND(list_cosine_similarity(c.v, q2.v), 6) AS cosine
  FROM cand
  JOIN corpus c ON c.id = cand.corpus_id
  JOIN corpus q2 ON q2.id = cand.query_id),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
  FROM scored)
SELECT query_id, corpus_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
""",
)


def q_sim_ivf_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with literal +-1 coarse centroids (8 cells, 3 probed
    — the same shape as ``sim_ivf_topk``), oracle-recomputable end to
    end."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_exact(emb, queries, k=5, n_probe=3).orderBy(
        "query_id", "rank"
    )


_register(
    "sim_ivf_topk_exact",
    q_sim_ivf_topk_exact,
    f"""
WITH corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT id AS query_id, v FROM corpus WHERE id < 5),
cents(cid, cv) AS (
  VALUES {_cents_values(IVF_EXACT_CENTROIDS)}
),
-- |centroid| = sqrt(64) = 8 exactly for the +-1 literals
csim AS (
  SELECT c.id, ct.cid,
         round(list_inner_product(c.v, ct.cv)
               / (sqrt(list_inner_product(c.v, c.v)) * 8.0), 7) AS sim
  FROM corpus c CROSS JOIN cents ct),
cc AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim) WHERE rk = 1),
qc AS (
  SELECT id AS query_id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim WHERE id < 5) WHERE rk <= 3),
cand AS (
  SELECT DISTINCT qc.query_id, cc.id AS corpus_id
  FROM qc JOIN cc USING (cell)
  WHERE qc.query_id != cc.id),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         ROUND(list_cosine_similarity(c.v, q2.v), 6) AS cosine
  FROM cand
  JOIN corpus c ON c.id = cand.corpus_id
  JOIN corpus q2 ON q2.id = cand.query_id),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
  FROM scored)
SELECT query_id, corpus_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
""",
)


# ---------------------------------------------------------------------------
# Deterministic-parameter PQ / IVF-PQ (round 7): the exact-mode family
# extended to the memory-side quantizer. The production variants above
# (``sim_pq_topk`` / ``sim_ivfpq_topk``) train codebooks with Lloyd
# iterations on a driver sample — rows-only checkable. Here the
# codebooks are LITERAL ±1 sub-vector matrices (m=8 subvectors × 4
# codes × 8 dims), so code assignment, the per-query ADC lookup table,
# and the final ranking are all recomputable by DuckDB end to end.
#
# With equal-norm ±1 codes, L2 code assignment reduces exactly to a
# dot-product argmax: ‖s − c‖² = ‖s‖² − 2·s·c + 8, and ‖s‖²/+8 are
# constant across codes — so argmin_j ‖s−c_j‖² == argmax_j s·c_j. The
# oracle ranks round-7 dot products (ties to the lower code index),
# identical semantics, no norm rounding needed (|c| = sqrt(8) exactly).
#
# ADC distance keeps the production L2 form: per subvector the query
# contributes term(mi, j) = ‖q_mi‖² − 2·q_mi·c_j + 8, quantized to an
# INTEGER count of 1e-7 units; the per-query LUT (m × 4 terms) is
# computed ONCE per query row and rides the broadcast — scoring a
# candidate is 8 array gathers + a sum, the PQ promise. Integer terms
# make the 8-way sum exact and order-independent (a round-7 DOUBLE per
# term was observed to flip the last displayed digit between Spark's
# left-to-right chain and DuckDB's unordered SUM), so the ranking is
# engine-portable by construction; adc_dist renders as units/1e7.
# ---------------------------------------------------------------------------

#: 8 subvectors × 4 codes of ±1 entries over 8 dims (row mi*4+j =
#: subvector mi, code j; frozen legacy RandomState stream)
PQ_EXACT_BOOKS: list[list[float]] = _pm1_matrix(32, seed=20260816, dim=8)

_PQ_M = 8  # subvectors
_PQ_K = 4  # codes per subvector
_PQ_SUB = DIM // _PQ_M


def _normalized(vec_col: str) -> Column:
    v = as_double(F.col(vec_col))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / nrm)


def pq_codes_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    books: list[list[float]] | None = None,
    out_id: str = "corpus_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, c0..c7): per-subvector nearest-code indices against the
    literal ±1 codebooks — pure JVM expressions (argmax of round-7 dot,
    ties to the lower code index; == L2 argmin, see section comment)."""
    books = PQ_EXACT_BOOKS if books is None else books
    vn = _normalized(vec_col)
    cols = [F.col(id_col).alias(out_id)]
    for mi in range(_PQ_M):
        s = F.slice(vn, mi * _PQ_SUB + 1, _PQ_SUB)
        ranked = []
        for j in range(_PQ_K):
            code = books[mi * _PQ_K + j]
            dotp = F.aggregate(
                F.zip_with(
                    s,
                    F.array(*[F.lit(float(x)) for x in code]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            ranked.append(
                F.struct((-F.round(dotp, 7)).alias("ns"), F.lit(j).alias("j"))
            )
        cols.append(F.array_min(F.array(*ranked))["j"].alias(f"c{mi}"))
    return df.select(*cols)


def pq_lut_exact(
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    books: list[list[float]] | None = None,
    keep: list[Column] | None = None,
) -> DataFrame:
    """Per-query ADC lookup tables: columns lut0..lut7, each an
    array of 4 INTEGER L2 terms round((‖q_mi‖² − 2·q_mi·c_j + 8)·1e7)
    — exact 1e-7 units, so candidate sums are order-independent."""
    books = PQ_EXACT_BOOKS if books is None else books
    qn = _normalized(vec_col)
    cols = [F.col(query_id_col)] + list(keep or [])
    for mi in range(_PQ_M):
        s = F.slice(qn, mi * _PQ_SUB + 1, _PQ_SUB)
        qss = F.aggregate(s, F.lit(0.0), lambda a, x: a + x * x)
        terms = []
        for j in range(_PQ_K):
            code = books[mi * _PQ_K + j]
            dotp = F.aggregate(
                F.zip_with(
                    s,
                    F.array(*[F.lit(float(x)) for x in code]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            terms.append(
                F.round(
                    (qss - 2.0 * dotp + F.lit(float(_PQ_SUB))) * 1e7
                ).cast("long")
            )
        cols.append(F.array(*terms).alias(f"lut{mi}"))
    return queries.select(*cols)


def _adc_rank(scored: DataFrame, k: int, query_id_col: str) -> DataFrame:
    adc = F.element_at("lut0", F.col("c0") + 1)
    for mi in range(1, _PQ_M):
        adc = adc + F.element_at(f"lut{mi}", F.col(f"c{mi}") + 1)
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_dist"), F.asc("corpus_id")
    )
    return (
        scored.select(
            query_id_col,
            "corpus_id",
            F.round(adc.cast("double") / 1e7, 6).alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    books: list[list[float]] | None = None,
) -> DataFrame:
    """``pq_topk`` with literal codebooks: every corpus row is scored
    by ADC against each broadcast query's LUT (the full-scan PQ form by
    design — the probed variant is ``ivfpq_topk_exact``)."""
    codes = pq_codes_exact(
        corpus, id_col=id_col, vec_col=vec_col, books=books
    )
    lut = pq_lut_exact(
        queries, query_id_col=query_id_col, vec_col=vec_col, books=books
    )
    scored = codes.crossJoin(F.broadcast(lut)).where(
        F.col(query_id_col) != F.col("corpus_id")
    )
    return _adc_rank(scored, k, query_id_col)


def ivfpq_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    books: list[list[float]] | None = None,
) -> DataFrame:
    """``ivfpq_topk`` with literal coarse centroids AND codebooks:
    corpus rows live in their argmax-cosine cell holding only the int
    cell id + 8 code ints; queries probe ``n_probe`` cells; candidates
    join on the cell id and rank by ADC — the composition that serves
    billion-vector corpora from RAM, with every step DuckDB-checkable."""
    centroids = IVF_EXACT_CENTROIDS if centroids is None else centroids
    codes = pq_codes_exact(
        corpus, id_col=id_col, vec_col=vec_col, books=books
    )
    cells = corpus.select(
        F.col(id_col).alias("corpus_id"),
        assign_fixed_centroids(vec_col, centroids).alias("cell"),
    )
    index = codes.join(cells, "corpus_id")
    q = pq_lut_exact(
        queries,
        query_id_col=query_id_col,
        vec_col=vec_col,
        books=books,
        keep=[
            F.explode(
                probe_fixed_centroids(vec_col, centroids, n_probe)
            ).alias("cell")
        ],
    )
    scored = index.join(F.broadcast(q), "cell").where(
        F.col(query_id_col) != F.col("corpus_id")
    )
    return _adc_rank(scored, k, query_id_col)


def q_sim_pq_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k with literal ±1 codebooks — code assignment, LUT,
    and ranking all recomputed by the oracle."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk_exact(emb, queries, k=5).orderBy("query_id", "rank")


def _books_values(books: list[list[float]]) -> str:
    rows = []
    for idx, c in enumerate(books):
        mi, j = divmod(idx, _PQ_K)
        lits = ", ".join(str(float(x)) for x in c)
        rows.append(f"({mi}, {j}, [{lits}]::DOUBLE[])")
    return ",\n       ".join(rows)


#: shared oracle CTE chain: normalized vectors, subvector slices, code
#: assignment, and per-query LUT terms under PQ_EXACT_BOOKS
def _pq_exact_ctes() -> str:
    return f"""
corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
books(mi, j, bv) AS (
  VALUES {_books_values(PQ_EXACT_BOOKS)}
),
vn AS (
  SELECT id,
         list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS vn
  FROM corpus),
mis AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS mi),
sub AS (
  SELECT id, mi, vn[mi*{_PQ_SUB}+1 : mi*{_PQ_SUB}+{_PQ_SUB}] AS s
  FROM vn CROSS JOIN mis),
codes AS (
  SELECT id, mi, j AS code FROM (
    SELECT sub.id, sub.mi, b.j,
           row_number() OVER (
             PARTITION BY sub.id, sub.mi
             ORDER BY round(list_inner_product(sub.s, b.bv), 7) DESC,
                      b.j ASC) AS rk
    FROM sub JOIN books b ON b.mi = sub.mi)
  WHERE rk = 1),
lut AS (
  SELECT sub.id AS query_id, sub.mi, b.j,
         CAST(round((list_inner_product(sub.s, sub.s)
                     - 2 * list_inner_product(sub.s, b.bv)
                     + {_PQ_SUB}.0) * 10000000) AS BIGINT) AS term
  FROM sub JOIN books b ON b.mi = sub.mi
  WHERE sub.id < 5)"""


_PQ_ADC_RANK_SQL = """
adc AS (
  SELECT l.query_id, c.id AS corpus_id,
         round(CAST(sum(l.term) AS DOUBLE) / 10000000, 6) AS adc_dist
  FROM cand c
  JOIN codes cd ON cd.id = c.id
  JOIN lut l ON l.mi = cd.mi AND l.j = cd.code AND l.query_id = c.query_id
  GROUP BY l.query_id, c.id),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, corpus_id ASC) AS rank
  FROM adc)
SELECT query_id, corpus_id, adc_dist, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""

_register(
    "sim_pq_topk_exact",
    q_sim_pq_topk_exact,
    f"""
WITH {_pq_exact_ctes()},
cand AS (
  SELECT l.query_id, c.id
  FROM (SELECT DISTINCT query_id FROM lut) l
  CROSS JOIN corpus c
  WHERE l.query_id != c.id),
{_PQ_ADC_RANK_SQL}
""",
)


def q_sim_ivfpq_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probe + PQ ADC top-k, fully deterministic parameters —
    cells, probes, codes, LUT, and ranking all oracle-recomputed."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_exact(emb, queries, k=5, n_probe=3).orderBy(
        "query_id", "rank"
    )


_register(
    "sim_ivfpq_topk_exact",
    q_sim_ivfpq_topk_exact,
    f"""
WITH {_pq_exact_ctes()},
cents(cid, cv) AS (
  VALUES {_cents_values(IVF_EXACT_CENTROIDS)}
),
csim AS (
  SELECT c.id, ct.cid,
         round(list_inner_product(c.v, ct.cv)
               / (sqrt(list_inner_product(c.v, c.v)) * 8.0), 7) AS sim
  FROM corpus c CROSS JOIN cents ct),
cc AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim) WHERE rk = 1),
qc AS (
  SELECT id AS query_id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim WHERE id < 5) WHERE rk <= 3),
cand AS (
  SELECT DISTINCT qc.query_id, cc.id
  FROM qc JOIN cc USING (cell)
  WHERE qc.query_id != cc.id),
{_PQ_ADC_RANK_SQL}
""",
)


# ---------------------------------------------------------------------------
# Deterministic-parameter k-means (round 7): the exact-mode family
# extended to the TRAINING loop itself. ``sim_kmeans_clusters`` (above)
# trains with a driver-sampled seeded Lloyd — rows-only checkable. Here
# every quantity in the loop is engine-portable by construction, so the
# oracle recomputes the ITERATIONS, not just a final assignment:
#
# - coordinates quantize once to exact integer 1e-7 units (BIGINT);
# - init centroids are literal ±1 rows (units = ±10^7 exactly);
# - assignment = argmin of the EXACT integer squared L2 distance in
#   units² (64 dims × (2·10^7)² ≈ 2.6e16 < 2^63 — no overflow, no
#   doubles, no rounding), ties to the lower centroid id;
# - the centroid update is the ONLY floating step: mean = BIGINT sum /
#   BIGINT count (one correctly-rounded double division) re-quantized
#   to integer units with one round() — the langid/lm single-op rule,
#   never a sum of doubles;
# - empty clusters keep their previous centroid (mirrored in SQL via a
#   left join + coalesce).
#
# Scale shape per iteration: assignment is a pure map against ONE
# broadcast row holding all k centroid arrays (the rank_bm25 one-row
# shape — no per-centroid row blowup, no shuffle); the update is a
# posexplode to (cluster, dim, units) narrow rows feeding a map-side-
# combinable sum/count groupBy of k×DIM cells. Iterations unroll into
# one lazy plan — no driver collect, no eager job.
# ---------------------------------------------------------------------------

#: 8 ±1 literal init centroids for the exact k-means
KMEANS_EXACT_CENTROIDS: list[list[float]] = _pm1_matrix(8, seed=20260817)

#: 1e-7 quantization scale shared by both engines
_KM_UNITS = 10_000_000


def _km_units(vec_col: str) -> Column:
    return F.transform(
        as_double(F.col(vec_col)),
        lambda x: F.round(x * _KM_UNITS).cast("long"),
    )


def _km_assign(units_col: Column, cents_col: Column) -> Column:
    """struct(dist, cid) of the nearest centroid: exact integer squared
    L2 in units², ties to the lower cid (struct min-ordering)."""
    return F.array_min(
        F.transform(
            cents_col,
            lambda ct: F.struct(
                F.aggregate(
                    F.zip_with(
                        units_col,
                        ct["cu"],
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                ct["cid"].alias("cid"),
            ),
        )
    )


def kmeans_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means with literal init centroids and engine-portable
    arithmetic: ``iters`` assignment rounds with ``iters - 1`` centroid
    updates between them. Returns (id, cluster, dist_units) of the
    final assignment — dist_units is the exact integer squared L2
    distance in 1e-7 units²."""
    cents0 = [
        [int(x) * _KM_UNITS for x in row]
        for row in (
            KMEANS_EXACT_CENTROIDS if centroids is None else centroids
        )
    ]
    spark = df.sparkSession
    u = df.select(
        F.col(id_col).alias("_id"), _km_units(vec_col).alias("_u")
    )
    cents_df = spark.createDataFrame(
        [(i, row) for i, row in enumerate(cents0)],
        "cid int, cu array<long>",
    )
    for _ in range(iters - 1):
        one = cents_df.groupBy().agg(
            F.sort_array(F.collect_list(F.struct("cid", "cu"))).alias(
                "_cents"
            )
        )
        assigned = u.join(F.broadcast(one), how="cross").select(
            "_id", "_u", _km_assign(F.col("_u"), F.col("_cents"))["cid"].alias("_c")
        )
        upd = (
            assigned.select("_c", F.posexplode("_u").alias("_d", "_v"))
            .groupBy("_c", "_d")
            .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .withColumn(
                "_mu",
                F.round(F.col("_s") / F.col("_n")).cast("long"),
            )
            .groupBy("_c")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_d", "_mu"))),
                    lambda s: s["_mu"],
                ).alias("_cu_new")
            )
        )
        cents_df = (
            cents_df.join(upd, cents_df["cid"] == upd["_c"], "left")
            .select(
                "cid",
                F.coalesce("_cu_new", "cu").alias("cu"),
            )
        )
    one = cents_df.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("cid", "cu"))).alias("_cents")
    )
    best = _km_assign(F.col("_u"), F.col("_cents"))
    return u.join(F.broadcast(one), how="cross").select(
        F.col("_id").alias(id_col),
        best["cid"].alias("cluster"),
        best["dist"].alias("dist_units"),
    )


def q_sim_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds (init assign → mean update → reassign) from the
    literal ±1 centroids — the oracle recomputes the full loop."""
    return kmeans_exact(_emb(spark, sf_dir), iters=2).orderBy("vec_id")


def _km_cents_values() -> str:
    rows = []
    for i, c in enumerate(KMEANS_EXACT_CENTROIDS):
        lits = ", ".join(str(int(x) * _KM_UNITS) for x in c)
        rows.append(f"({i}, [{lits}]::BIGINT[])")
    return ",\n       ".join(rows)


_register(
    "sim_kmeans_exact",
    q_sim_kmeans_exact,
    f"""
WITH u AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * {_KM_UNITS}) AS BIGINT)) AS u
  FROM embeddings),
c0(cid, cu) AS (
  VALUES {_km_cents_values()}
),
a0 AS (
  SELECT id, u, cid AS c FROM (
    SELECT id, u, cid, row_number() OVER (
        PARTITION BY id ORDER BY dist ASC, cid ASC) AS rk
    FROM (
      SELECT x.id, x.u, ct.cid,
             list_sum(list_transform(list_zip(x.u, ct.cu),
                      p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist
      FROM u x CROSS JOIN c0 ct))
  WHERE rk = 1),
upd AS (
  SELECT c, d,
         CAST(round(sum(v)::BIGINT / count(*)::BIGINT) AS BIGINT) AS mu
  FROM (SELECT a0.c, t.i - 1 AS d, a0.u[t.i] AS v
        FROM a0, LATERAL unnest(generate_series(1, len(a0.u))) AS t(i))
  GROUP BY c, d),
c1 AS (
  -- empty cluster -> keep the previous centroid (count(), not
  -- coalesce: list() over a left-join miss yields [NULL], not NULL)
  SELECT c0.cid,
         CASE WHEN count(upd.mu) = 0 THEN c0.cu
              ELSE list(upd.mu ORDER BY upd.d) END AS cu
  FROM c0 LEFT JOIN upd ON upd.c = c0.cid
  GROUP BY c0.cid, c0.cu),
a1 AS (
  SELECT id, cid AS cluster, dist AS dist_units FROM (
    SELECT id, cid, dist, row_number() OVER (
        PARTITION BY id ORDER BY dist ASC, cid ASC) AS rk
    FROM (
      SELECT x.id, ct.cid,
             list_sum(list_transform(list_zip(x.u, ct.cu),
                      p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist
      FROM u x CROSS JOIN c1 ct))
  WHERE rk = 1)
SELECT id AS vec_id, cluster, dist_units FROM a1 ORDER BY vec_id
""",
)


# ---------------------------------------------------------------------------
# Deterministic-parameter near-duplicate pairs: the exact-mode sibling
# of ``sim_embedding_neardup`` (seeded production variant above). The
# candidate generator is the literal-plane LSH (lsh_buckets_exact), so
# buckets, the candidate pair set, and the exact-cosine verify are all
# DuckDB-recomputable — SemDeDup-style near-dup detection with an
# externally checkable answer.
# ---------------------------------------------------------------------------


def embedding_neardup_exact(
    df: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_planes: int = 4,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold among
    candidates sharing any literal-plane (table, bucket). Candidate
    pairs join bucket-local (id_a < id_b dedupes the symmetric pair);
    verification is one exact round-6 cosine per candidate."""
    b = lsh_buckets_exact(
        df, id_col=id_col, vec_col=vec_col, planes=planes,
        n_planes=n_planes,
    )
    pairs = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b")
        )
        .distinct()
    )
    v = df.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    scored = (
        pairs.join(v.withColumnRenamed("_vid", "id_a"), "id_a")
        .withColumnRenamed("_v", "_va")
        .join(v.withColumnRenamed("_vid", "id_b"), "id_b")
        .withColumnRenamed("_v", "_vb")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
    )
    return scored.where(F.col("cosine") >= threshold)


def q_sim_embedding_neardup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same 0.45 threshold rationale as ``sim_embedding_neardup``
    (99.9th-percentile pairwise cosine of this corpus)."""
    return embedding_neardup_exact(
        _emb(spark, sf_dir), threshold=0.45
    ).orderBy("id_a", "id_b")


_register(
    "sim_embedding_neardup_exact",
    q_sim_embedding_neardup_exact,
    f"""
WITH corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes(t, w, pv) AS (
  VALUES {_planes_values(LSH_EXACT_PLANES, 4)}
),
b AS (
  SELECT c.id, pl.t,
         CAST(sum(CASE WHEN round(list_inner_product(c.v, pl.pv), 7) >= 0
                       THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
  FROM corpus c CROSS JOIN planes pl GROUP BY c.id, pl.t),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM b x JOIN b y ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id),
scored AS (
  SELECT cand.id_a, cand.id_b,
         ROUND(list_cosine_similarity(ca.v, cb.v), 6) AS cosine
  FROM cand
  JOIN corpus ca ON ca.id = cand.id_a
  JOIN corpus cb ON cb.id = cand.id_b)
SELECT id_a, id_b, cosine FROM scored
WHERE cosine >= 0.45 ORDER BY id_a, id_b
""",
)


def contrastive_triplets_exact(
    df: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_planes: int = 4,
) -> DataFrame:
    """(anchor, pos_id, pos_cos, neg_id, neg_cos): contrastive training
    triplets mined from the literal-plane candidate graph. Per anchor,
    the positive is its best same-bucket neighbor at or above
    ``threshold``; the hard negative is its best same-bucket neighbor
    BELOW the threshold — the standard hard-negative rule (nearest
    non-duplicate), which trains a sharper margin than random
    negatives. Anchors lacking either side are dropped.

    Scale shape: identical to ``embedding_neardup_exact`` — candidates
    from the (table, bucket) equi-join (both directions here, since
    every vector anchors its own triplet), one exact round-6 cosine per
    candidate, then two per-anchor window minima. No corpus broadcast,
    no pair blowup beyond the bucket join."""
    b = lsh_buckets_exact(
        df, id_col=id_col, vec_col=vec_col, planes=planes,
        n_planes=n_planes,
    )
    cand = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x._id") != F.col("y._id")),
        )
        .select(F.col("x._id").alias("anchor"), F.col("y._id").alias("cand"))
        .distinct()
    )
    v = df.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    scored = (
        cand.join(v.withColumnRenamed("_vid", "anchor"), "anchor")
        .withColumnRenamed("_v", "_va")
        .join(v.withColumnRenamed("_vid", "cand"), "cand")
        .select(
            "anchor",
            "cand",
            F.round(cosine(F.col("_va"), F.col("_v")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("cos"), F.asc("cand"))
    pos = (
        scored.where(F.col("cos") >= threshold)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            "anchor",
            F.col("cand").alias("pos_id"),
            F.col("cos").alias("pos_cos"),
        )
    )
    neg = (
        scored.where(F.col("cos") < threshold)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            "anchor",
            F.col("cand").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
        )
    )
    return pos.join(neg, "anchor")


def q_sim_triplets_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 0.45 threshold as the neardup family."""
    return contrastive_triplets_exact(
        _emb(spark, sf_dir), threshold=0.45
    ).orderBy("anchor")


_register(
    "sim_triplets_exact",
    q_sim_triplets_exact,
    f"""
WITH corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes(t, w, pv) AS (
  VALUES {_planes_values(LSH_EXACT_PLANES, 4)}
),
b AS (
  SELECT c.id, pl.t,
         CAST(sum(CASE WHEN round(list_inner_product(c.v, pl.pv), 7) >= 0
                       THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
  FROM corpus c CROSS JOIN planes pl GROUP BY c.id, pl.t),
cand AS (
  SELECT DISTINCT x.id AS anchor, y.id AS cand
  FROM b x JOIN b y ON x.t = y.t AND x.bucket = y.bucket AND x.id <> y.id),
scored AS (
  SELECT cand.anchor, cand.cand,
         ROUND(list_cosine_similarity(ca.v, cb.v), 6) AS cos
  FROM cand
  JOIN corpus ca ON ca.id = cand.anchor
  JOIN corpus cb ON cb.id = cand.cand),
pos AS (
  SELECT anchor, cand AS pos_id, cos AS pos_cos
  FROM (SELECT anchor, cand, cos,
               row_number() OVER (PARTITION BY anchor
                                  ORDER BY cos DESC, cand ASC) AS r
        FROM scored WHERE cos >= 0.45)
  WHERE r = 1),
neg AS (
  SELECT anchor, cand AS neg_id, cos AS neg_cos
  FROM (SELECT anchor, cand, cos,
               row_number() OVER (PARTITION BY anchor
                                  ORDER BY cos DESC, cand ASC) AS r
        FROM scored WHERE cos < 0.45)
  WHERE r = 1)
SELECT pos.anchor, pos.pos_id, pos.pos_cos, neg.neg_id, neg.neg_cos
FROM pos JOIN neg USING (anchor) ORDER BY anchor
""",
)


# ---------------------------------------------------------------------------
# Exact PCA power iteration (round 8): the top principal direction of
# the embedding cloud, trained with fully engine-portable arithmetic —
# the kmeans_exact treatment extended to dimensionality reduction (the
# step real pipelines run before ANN indexing: project to the leading
# components, then bucket).
#
# Power iteration never materializes the d×d covariance: each round is
# two data passes computing C·w = Σ_rows (x−μ)·((x−μ)ᵀw):
#
# - coordinates and μ quantize once to integer 1e-7 units (μ = one
#   round(sum/count) per dim — the single-division rule);
# - the per-row dot (x−μ)ᵀw is an exact BIGINT (|xu−μu| ≲ 1.1e7,
#   |wu| ≤ 1e7, 64 dims → ≤ 7e15);
# - the per-dim accumulation Σ (xu−μu)·dot runs in DECIMAL(38,0) ≡
#   HUGEINT (≤ ~4e26 at sf0.1 — no overflow, no doubles);
# - normalization is L∞, not L2: power iteration converges under ANY
#   per-round rescaling, and max|y| is exact where an L2 norm would
#   need a sum-of-squares beyond 128 bits and a transcendental sqrt.
#   w_next_d = round(y_d·1e7 / max|y|) — one correctly-rounded
#   division per element on identical integers in both engines;
# - deterministic ±1 literal init ⇒ no sign indeterminacy.
#
# Scale shape per round: the dot is a map against ONE broadcast 64-int
# row; the update is a posexplode into d map-side-combinable cells.
# Rounds unroll into one lazy plan (no driver collect). The registered
# query emits the exact integer projection of every vector onto the
# learned direction.
# ---------------------------------------------------------------------------

#: ±1 literal init direction (units = ±1e7) for the exact PCA
PCA_EXACT_INIT: list[float] = _pm1_matrix(1, seed=20260818)[0]

_PCA_ITERS = 3


def pca_project_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: list[float] | None = None,
    iters: int = _PCA_ITERS,
) -> DataFrame:
    """(id, proj_units): exact integer projection (units²) of each
    centered vector onto the L∞-normalized leading direction after
    ``iters`` power-iteration rounds from the literal init.

    ``init`` must match the embedding dimension (zip_with pads a
    shorter side with NULLs, which would silently null every dot) —
    the default is the 64-dim literal matching the benchmark table.
    """
    dec = "decimal(38,0)"
    u = df.select(
        F.col(id_col).alias("_id"), _km_units(vec_col).alias("_u")
    )
    # per-dim mean in units: BIGINT sum / count, ONE round
    mu = (
        u.select(F.posexplode("_u").alias("_d", "_v"))
        .groupBy("_d")
        .agg(F.round(F.sum("_v") / F.count(F.lit(1))).cast("long").alias("_m"))
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_d", "_m"))),
                lambda s: s["_m"],
            ).alias("_mu")
        )
    )
    centered = u.join(F.broadcast(mu), how="cross").select(
        "_id",
        F.zip_with("_u", "_mu", lambda a, b: a - b).alias("_c"),
    )

    w0 = [int(x) * _KM_UNITS for x in (PCA_EXACT_INIT if init is None else init)]
    spark = df.sparkSession
    w_df = spark.createDataFrame([(w0,)], "w array<long>")
    for _ in range(iters):
        dots = centered.join(F.broadcast(w_df), how="cross").select(
            "_id",
            "_c",
            F.aggregate(
                F.zip_with("_c", "w", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("_dot"),
        )
        y = (
            dots.select(F.posexplode("_c").alias("_d", "_cv"), "_dot")
            .groupBy("_d")
            .agg(
                F.sum(F.col("_cv").cast(dec) * F.col("_dot").cast(dec))
                .cast(dec)
                .alias("_y")
            )
        )
        w_df = (
            y.groupBy()
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_d", "_y"))),
                    lambda s: s["_y"],
                ).alias("_ys"),
                F.max(F.abs(F.col("_y"))).cast(dec).alias("_mx"),
            )
            .select(
                F.transform(
                    "_ys",
                    lambda yd: F.round(
                        (yd.cast(dec) * F.lit(_KM_UNITS).cast(dec)).cast(
                            "double"
                        )
                        / F.col("_mx").cast("double")
                    ).cast("long"),
                ).alias("w")
            )
        )
    return centered.join(F.broadcast(w_df), how="cross").select(
        F.col("_id").alias(id_col),
        F.aggregate(
            F.zip_with("_c", "w", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("proj_units"),
    )


def q_sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_project_exact(_emb(spark, sf_dir)).orderBy("vec_id")


def _pca_oracle_sql(iters: int = _PCA_ITERS) -> str:
    w0 = ", ".join(str(int(x) * _KM_UNITS) for x in PCA_EXACT_INIT)
    sql = f"""
WITH u AS (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * {_KM_UNITS}) AS BIGINT)) AS u
  FROM embeddings),
mu AS (
  SELECT list(m ORDER BY d) AS mu FROM (
    SELECT t.i AS d,
           CAST(round(sum(u[t.i])::BIGINT / count(*)::BIGINT) AS BIGINT) AS m
    FROM u, LATERAL unnest(generate_series(1, len(u))) AS t(i)
    GROUP BY t.i)),
centered AS (
  SELECT id, list_transform(list_zip(u.u, mu.mu), p -> p[1] - p[2]) AS c
  FROM u, mu),
w0(w) AS (VALUES ([{w0}]::BIGINT[]))"""
    prev = "w0"
    for t in range(1, iters + 1):
        sql += f""",
dot{t} AS (
  SELECT id, c,
         list_sum(list_transform(list_zip(c, w.w),
                                 p -> p[1] * p[2]))::BIGINT AS dot
  FROM centered, {prev} w),
y{t} AS (
  SELECT t.i AS d, sum(c[t.i]::HUGEINT * dot::HUGEINT)::HUGEINT AS y
  FROM dot{t}, LATERAL unnest(generate_series(1, len(c))) AS t(i)
  GROUP BY t.i),
w{t}(w) AS (
  SELECT list(CAST(round((y * {_KM_UNITS})::DOUBLE
                         / mx::DOUBLE) AS BIGINT) ORDER BY d)
  FROM y{t}, (SELECT max(abs(y))::HUGEINT AS mx FROM y{t}) m)"""
        prev = f"w{t}"
    sql += f"""
SELECT id AS vec_id,
       list_sum(list_transform(list_zip(c, w.w),
                               p -> p[1] * p[2]))::BIGINT AS proj_units
FROM centered, {prev} w ORDER BY vec_id"""
    return sql


QUERIES["sim_pca_project_exact"] = q_sim_pca_project
ORACLES["sim_pca_project_exact"] = _pca_oracle_sql()


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified re-ranking
# ---------------------------------------------------------------------------

MMR_K = 4
MMR_TOPC = 12
MMR_LAM_NUM, MMR_LAM_DEN = 7, 10  # lambda = 0.7


def mmr_rerank(
    cands: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "corpus_id",
    vec_col: str = "vn",
    rel_units_col: str = "rel_units",
    k: int = MMR_K,
    lam_num: int = MMR_LAM_NUM,
    lam_den: int = MMR_LAM_DEN,
) -> DataFrame:
    """Greedy Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    over per-query candidate sets: pick k results maximizing

        lam·relevance − (1−lam)·max similarity to already-picked

    — the standard diversification pass between retrieval and an LLM
    context window (top-k by raw cosine returns near-duplicates; MMR
    trades a little relevance for coverage). Returns one row per
    (query, step) with the pick and its score decomposition.

    Exactness: relevance arrives pre-quantized in 1e-7 integer units
    (``rel_units_col``); pairwise similarities quantize the same way
    (round(cos·1e7) — one multiply + one half-away-from-zero round,
    identical in both engines), and with rational lambda = lam_num /
    lam_den the greedy objective scales to the INTEGER

        score_units = lam_num·rel − (lam_den − lam_num)·max_sim

    so every argmax (ties → lowest id) replays bit-for-bit in the
    unrolled SQL oracle. The greedy loop is inherently sequential in
    k, so the plan unrolls k bounded rounds (the ``sim_kmeans_exact``
    discipline): each round is one anti-join against the ≤(k−1)-row
    picks, one equi-join on the query key for pair similarities, one
    map-side-combinable max, one per-query window — candidates never
    shuffle more than their (query, id, vec) projection, and nothing
    in the loop grows with corpus size, only with k·|candidates|."""
    lam_rest = lam_den - lam_num
    c = cands.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vn"),
        F.col(rel_units_col).cast("long").alias("rel"),
    )
    pick_w = Window.partitionBy("q").orderBy(
        F.desc("score_units"), F.asc("id")
    )
    picks = (
        c.withColumn("maxsim_units", F.lit(0).cast("long"))
        .withColumn(
            "score_units", (F.lit(lam_num) * F.col("rel")).cast("long")
        )
        .withColumn("_rk", F.row_number().over(pick_w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
        .withColumn("step", F.lit(1))
    )
    for step in range(2, k + 1):
        rem = c.join(
            picks.select("q", "id"), ["q", "id"], "left_anti"
        )
        sims = rem.join(
            picks.select("q", F.col("vn").alias("svn")), "q"
        ).select(
            "q",
            "id",
            F.round(
                F.aggregate(
                    F.zip_with("vn", "svn", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                * F.lit(10**7)
            )
            .cast("long")
            .alias("sim_units"),
        )
        ms = sims.groupBy("q", "id").agg(
            F.max("sim_units").alias("maxsim_units")
        )
        nxt = (
            rem.join(ms, ["q", "id"])
            .withColumn(
                "score_units",
                (
                    F.lit(lam_num) * F.col("rel")
                    - F.lit(lam_rest) * F.col("maxsim_units")
                ).cast("long"),
            )
            .withColumn("_rk", F.row_number().over(pick_w))
            .where(F.col("_rk") == 1)
            .drop("_rk")
            .withColumn("step", F.lit(step))
        )
        picks = picks.unionByName(nxt)
    return picks.select(
        F.col("q").alias(query_col),
        "step",
        F.col("id").alias(id_col),
        F.col("rel").alias("rel_units"),
        "maxsim_units",
        "score_units",
    )


MMR_QUERY_IDS = [0, 1, 2]


def q_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR over brute-force top-12 candidates (the sim_topk_bruteforce
    baseline shape — the 3-row query batch broadcasts) for three probe
    vectors; the whole chain (normalization, candidate cut, greedy
    picks) replays in the unrolled oracle."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    nrm = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / nrm).alias(
            "vn"
        ),
    )
    qs = base.where(F.col("vec_id").isin(MMR_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qv")
    )
    rel = F.round(
        F.aggregate(
            F.zip_with("vn", "qv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(10**7)
    ).cast("long")
    cand_w = Window.partitionBy("query_id").orderBy(
        F.desc("rel_units"), F.asc("corpus_id")
    )
    cands = (
        base.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("corpus_id"),
            "vn",
            rel.alias("rel_units"),
        )
        .withColumn("_rk", F.row_number().over(cand_w))
        .where(F.col("_rk") <= MMR_TOPC)
        .drop("_rk")
    )
    return mmr_rerank(cands).orderBy("query_id", "step")


def _mmr_oracle_sql() -> str:
    qids = ", ".join(str(i) for i in MMR_QUERY_IDS)
    ln, lr = MMR_LAM_NUM, MMR_LAM_DEN - MMR_LAM_NUM
    parts = [
        f"""
WITH base AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> x / sqrt(list_inner_product(
                               CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])))) AS vn
  FROM embeddings),
qs AS (SELECT vec_id AS query_id, vn AS qv FROM base
       WHERE vec_id IN ({qids})),
cand AS (
  SELECT query_id, vec_id AS corpus_id, vn,
         CAST(round(list_inner_product(vn, qv) * 10000000) AS BIGINT)
           AS rel
  FROM base JOIN qs ON vec_id != query_id
  QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, corpus_id) <= {MMR_TOPC}),
s1 AS (
  SELECT query_id, corpus_id, vn, rel, 0::BIGINT AS ms,
         ({ln} * rel)::BIGINT AS score, 1 AS step
  FROM cand
  QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, corpus_id) = 1)"""
    ]
    prev_union = "SELECT * FROM s1"
    for t in range(2, MMR_K + 1):
        parts.append(
            f"""
p{t} AS ({prev_union}),
m{t} AS (
  SELECT c.query_id, c.corpus_id,
         max(CAST(round(list_inner_product(c.vn, p.vn) * 10000000)
                  AS BIGINT)) AS ms
  FROM cand c JOIN p{t} p USING (query_id)
  WHERE NOT EXISTS (SELECT 1 FROM p{t} x
                    WHERE x.query_id = c.query_id
                      AND x.corpus_id = c.corpus_id)
  GROUP BY c.query_id, c.corpus_id),
s{t} AS (
  SELECT c.query_id, c.corpus_id, c.vn, c.rel, m.ms,
         ({ln} * c.rel - {lr} * m.ms)::BIGINT AS score, {t} AS step
  FROM cand c JOIN m{t} m
    ON m.query_id = c.query_id AND m.corpus_id = c.corpus_id
  QUALIFY row_number() OVER (
      PARTITION BY c.query_id ORDER BY score DESC, c.corpus_id) = 1)"""
        )
        prev_union += f" UNION ALL SELECT * FROM s{t}"
    body = ",".join(parts)
    return f"""{body}
SELECT query_id, step, corpus_id, rel AS rel_units,
       ms AS maxsim_units, score AS score_units
FROM ({prev_union})
ORDER BY query_id, step
"""


_register("sim_mmr_rerank", q_sim_mmr_rerank, _mmr_oracle_sql())


# ---------------------------------------------------------------------------
# hard-negative mining (banded IVF candidates)
# ---------------------------------------------------------------------------

HN_BAND_LO, HN_BAND_HI = 0.10, 0.30


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    positives: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 3,
    band_lo: float = HN_BAND_LO,
    band_hi: float = HN_BAND_HI,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(anchor_id, corpus_id, cosine, rank): the k HARDEST usable
    negatives per anchor — candidates from the anchor's probed IVF
    cells whose exact cosine lands in [band_lo, band_hi), minus the
    labeled positives, ranked by similarity descending. The
    curriculum complement of ``operators/contrastive.py``'s uniform
    draw: contrastive training plateaus on easy negatives, while
    ABOVE ``band_hi`` lurk the unlabeled true positives that poison
    the loss — the band is the standard FP-filtering rule.

    Scale shape: identical to ``ivf_topk_exact`` (cell equi-join —
    candidates never exceed the probed cells), plus one anti-join
    against the positives; the band filter runs before the per-anchor
    window, so the rank sees only usable rows. Cosines quantized to
    6dp (the ANN-family contract) keep every comparison and the rank
    order engine-exact."""
    centroids = IVF_EXACT_CENTROIDS if centroids is None else centroids
    corpus_cells = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        assign_fixed_centroids(vec_col, centroids).alias("cell"),
    )
    anchor_cells = anchors.select(
        F.col(anchor_id_col),
        F.col(vec_col).alias("qv"),
        F.explode(
            probe_fixed_centroids(vec_col, centroids, n_probe)
        ).alias("cell"),
    )
    scored = (
        corpus_cells.join(F.broadcast(anchor_cells), "cell")
        .where(F.col(anchor_id_col) != F.col("corpus_id"))
        .select(
            anchor_id_col,
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias(
                "cosine"
            ),
        )
        .dropDuplicates([anchor_id_col, "corpus_id"])
        .where(
            (F.col("cosine") >= band_lo) & (F.col("cosine") < band_hi)
        )
    )
    usable = scored.join(
        positives.select(
            F.col(anchor_id_col), F.col("corpus_id")
        ).dropDuplicates([anchor_id_col, "corpus_id"]),
        [anchor_id_col, "corpus_id"],
        "left_anti",
    )
    w = Window.partitionBy(anchor_id_col).orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return usable.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for five anchors, with fixed labeled positives
    (anchor, anchor+100) excluded — the IVF-exact shape end to end."""
    emb = _emb(spark, sf_dir)
    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    spark_pos = spark.createDataFrame(
        [(a, a + 100) for a in range(5)], "anchor_id long, corpus_id long"
    )
    return hard_negatives(emb, anchors, spark_pos, k=5).orderBy(
        "anchor_id", "rank"
    )


_register(
    "sim_hard_negatives",
    q_sim_hard_negatives,
    f"""
WITH corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT id AS anchor_id, v FROM corpus WHERE id < 5),
pos(anchor_id, corpus_id) AS (
  VALUES (0, 100), (1, 101), (2, 102), (3, 103), (4, 104)
),
cents(cid, cv) AS (
  VALUES {_cents_values(IVF_EXACT_CENTROIDS)}
),
csim AS (
  SELECT c.id, ct.cid,
         round(list_inner_product(c.v, ct.cv)
               / (sqrt(list_inner_product(c.v, c.v)) * 8.0), 7) AS sim
  FROM corpus c CROSS JOIN cents ct),
cc AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim) WHERE rk = 1),
qc AS (
  SELECT id AS anchor_id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim WHERE id < 5) WHERE rk <= 3),
cand AS (
  SELECT DISTINCT qc.anchor_id, cc.id AS corpus_id
  FROM qc JOIN cc USING (cell)
  WHERE qc.anchor_id != cc.id),
scored AS (
  SELECT cand.anchor_id, cand.corpus_id,
         ROUND(list_cosine_similarity(c.v, q2.v), 6) AS cosine
  FROM cand
  JOIN corpus c ON c.id = cand.corpus_id
  JOIN corpus q2 ON q2.id = cand.anchor_id),
banded AS (
  SELECT * FROM scored
  WHERE cosine >= {HN_BAND_LO} AND cosine < {HN_BAND_HI}),
usable AS (
  SELECT b.* FROM banded b
  LEFT JOIN pos p ON p.anchor_id = b.anchor_id
                 AND p.corpus_id = b.corpus_id
  WHERE p.anchor_id IS NULL),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY anchor_id ORDER BY cosine DESC, corpus_id) AS rank
  FROM usable)
SELECT anchor_id, corpus_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY anchor_id, rank
""",
)


# ---------------------------------------------------------------------------
# embedding-distribution drift (exact mean-vector comparison)
# ---------------------------------------------------------------------------


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    *,
    vec_col: str = "embedding",
    units: int = 10**7,
) -> DataFrame:
    """One row (n_a, n_b, cos_means, norm_ratio): did the embedding
    DISTRIBUTION move between two snapshots? — the monitor an
    embedding-backed index needs when the upstream encoder, corpus
    mix, or preprocessing changes (a re-encoded corpus can silently
    rotate the space; per-value stats won't see it, the mean-vector
    cosine will). cos_means is the cosine between the two snapshots'
    mean vectors; norm_ratio compares their magnitudes.

    Exactness: per-dimension components quantize once to 1e-7 integer
    units; per-snapshot per-dim sums, the cross dot product, and both
    self-products are EXACT DECIMAL(38,0) arithmetic over the
    |dims|-row sum table (mean denominators n_a/n_b cancel inside the
    cosine); the emitted doubles are fixed-shape (one sqrt + one
    division each), rounded 7dp.

    Scale shape: one posexplode + map-side-combinable sum per
    snapshot — the corpus collapses to |dims| rows; everything after
    is arithmetic on that bounded table."""
    dec = "decimal(38,0)"

    def dim_sums(df: DataFrame, tag: str) -> DataFrame:
        q = F.round(F.col("x").cast("double") * units).cast("long")
        return (
            df.select(F.posexplode(vec_col).alias("dim", "x"))
            .select("dim", q.alias("q"))
            .groupBy("dim")
            .agg(F.sum(F.col("q").cast(dec)).alias(f"s_{tag}"))
        )

    na = a.count()
    nb = b.count()
    sa = dim_sums(a, "a")
    sb = dim_sums(b, "b")
    j = sa.join(sb, "dim")
    agg = j.agg(
        F.sum(F.col("s_a") * F.col("s_b")).cast(dec).alias("dot"),
        F.sum(F.col("s_a") * F.col("s_a")).cast(dec).alias("naa"),
        F.sum(F.col("s_b") * F.col("s_b")).cast(dec).alias("nbb"),
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("naa").cast("double") * F.col("nbb").cast("double")
    )
    # mean-norm ratio: ||mean_b|| / ||mean_a|| = (sqrt(nbb)/n_b) /
    # (sqrt(naa)/n_a)
    ratio = (F.sqrt(F.col("nbb").cast("double")) * F.lit(float(na))) / (
        F.sqrt(F.col("naa").cast("double")) * F.lit(float(nb))
    )
    ok = (F.col("naa") > 0) & (F.col("nbb") > 0)
    return agg.select(
        F.lit(na).cast("bigint").alias("n_a"),
        F.lit(nb).cast("bigint").alias("n_b"),
        F.when(ok, F.round(cos, 7)).alias("cos_means"),
        F.when(ok, F.round(ratio, 7)).alias("norm_ratio"),
    )


def q_sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A drift check between even- and odd-id embedding halves —
    cos_means should sit near 1 and norm_ratio near 1 unless the
    generator is secretly id-dependent."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return embedding_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
    )


_register(
    "sim_embedding_drift",
    q_sim_embedding_drift,
    """
WITH a AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0),
b AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 1),
sa AS (
  SELECT t.i AS dim,
         sum(CAST(round(e.embedding[t.i]::DOUBLE * 10000000)
                  AS HUGEINT)) AS s_a
  FROM a e, LATERAL unnest(generate_series(1, len(e.embedding)))
       AS t(i)
  GROUP BY t.i),
sb AS (
  SELECT t.i AS dim,
         sum(CAST(round(e.embedding[t.i]::DOUBLE * 10000000)
                  AS HUGEINT)) AS s_b
  FROM b e, LATERAL unnest(generate_series(1, len(e.embedding)))
       AS t(i)
  GROUP BY t.i),
agg AS (
  SELECT sum(s_a * s_b)::HUGEINT AS dot,
         sum(s_a * s_a)::HUGEINT AS naa,
         sum(s_b * s_b)::HUGEINT AS nbb
  FROM sa JOIN sb USING (dim)),
ns AS (
  SELECT (SELECT count(*) FROM a)::BIGINT AS n_a,
         (SELECT count(*) FROM b)::BIGINT AS n_b)
SELECT n_a, n_b,
       CASE WHEN naa > 0 AND nbb > 0 THEN
         round(dot::DOUBLE / sqrt(naa::DOUBLE * nbb::DOUBLE), 7)
       END AS cos_means,
       CASE WHEN naa > 0 AND nbb > 0 THEN
         round(sqrt(nbb::DOUBLE) * n_a::DOUBLE
               / (sqrt(naa::DOUBLE) * n_b::DOUBLE), 7)
       END AS norm_ratio
FROM agg, ns
""",
)


# ---------------------------------------------------------------------------
# mutual-kNN (reciprocal) pairs — the kNN-graph dedup signal
# ---------------------------------------------------------------------------


def knn_graph_exact(
    corpus: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    target_cell_size: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """(query_id, corpus_id, cosine, rank): every vector's IVF-exact
    top-k over the SAME corpus — the kNN graph. Unlike
    ``ivf_topk_exact`` (few queries, broadcast), the self-join form
    joins corpus cells to probe cells as a plain equi-join: both sides
    co-partition on the cell id, nothing corpus-sized broadcasts —
    the shape that survives when "queries" is the whole 100 TB corpus.

    Cells: by default centroids are trained by ``train_centroids``
    with k = max(2, ceil(n / target_cell_size)) — the k ~ n/target
    rule of ``knn_cell_count`` — so the per-cell candidate
    count stays ~n_probe · target as the corpus grows (a fixed cell
    count would make candidates grow ~n²/cells). Building on this path
    is eager: two Spark actions, the count that sizes k and the bounded
    sample the driver trains on. Assignment and probing are literal-
    centroid expressions in the plan. Pass literal ``centroids`` for
    the deterministic variant an external oracle can recompute (the
    registered query does, with a fixed 8-cell spine); that form is
    the ORACLE variant, not the scale path, and starts no build job."""
    if centroids is None:
        centroids = train_centroids(
            corpus, n_clusters=None, target_cluster_size=target_cell_size,
            vec_col=vec_col, seed=seed,
        ).tolist()
        if len(centroids) < 2:
            raise ValueError(
                f"knn_graph_exact needs a corpus of >= 2 vectors to "
                f"train centroids (got {len(centroids)}); pass literal "
                f"centroids for degenerate corpora"
            )
    cells = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        assign_fixed_centroids(vec_col, centroids).alias("cell"),
    )
    probes = corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            probe_fixed_centroids(vec_col, centroids, n_probe)
        ).alias("cell"),
    )
    scored = (
        cells.join(probes, "cell")
        .where(F.col("query_id") != F.col("corpus_id"))
        .select(
            "query_id",
            "corpus_id",
            F.round(cosine_batch(F.col("cv"), F.col("qv")), 6).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["query_id", "corpus_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def reciprocal_pairs(knn: DataFrame) -> DataFrame:
    """(id_a, id_b, cosine, rank_ab, rank_ba): pairs that appear in
    EACH OTHER's top-k — the mutual-kNN filter. One-directional kNN
    membership is asymmetric around hubs (a hub vector is in
    everyone's top-k without being close to any of them); mutuality is
    the standard cheap symmetrization a kNN-graph dedup or clustering
    step runs first (the reciprocal-NN rule). ONE self-join of the
    bounded k·n kNN table on the swapped key pair."""
    a = knn.select(
        F.col("query_id").alias("id_a"),
        F.col("corpus_id").alias("id_b"),
        "cosine",
        F.col("rank").alias("rank_ab"),
    ).where(F.col("id_a") < F.col("id_b"))
    b = knn.select(
        F.col("query_id").alias("id_b"),
        F.col("corpus_id").alias("id_a"),
        F.col("rank").alias("rank_ba"),
    ).where(F.col("id_a") < F.col("id_b"))
    return a.join(b, ["id_a", "id_b"])


def q_sim_reciprocal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN pairs of the embedding corpus (IVF-exact k=5).
    Literal 8-cell centroids = the ORACLE variant (DuckDB recomputes
    the assignment); the production default trains k ~ n/target cells
    (see ``knn_graph_exact``)."""
    emb = _emb(spark, sf_dir)
    return reciprocal_pairs(
        knn_graph_exact(emb, k=5, n_probe=3, centroids=IVF_EXACT_CENTROIDS)
    ).orderBy("id_a", "id_b")


_register(
    "sim_reciprocal_pairs",
    q_sim_reciprocal_pairs,
    f"""
WITH corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(cid, cv) AS (
  VALUES {_cents_values(IVF_EXACT_CENTROIDS)}
),
csim AS (
  SELECT c.id, ct.cid,
         round(list_inner_product(c.v, ct.cv)
               / (sqrt(list_inner_product(c.v, c.v)) * 8.0), 7) AS sim
  FROM corpus c CROSS JOIN cents ct),
cc AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim) WHERE rk = 1),
qc AS (
  SELECT id AS query_id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (
        PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
    FROM csim) WHERE rk <= 3),
cand AS (
  SELECT DISTINCT qc.query_id, cc.id AS corpus_id
  FROM qc JOIN cc USING (cell)
  WHERE qc.query_id != cc.id),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         ROUND(list_cosine_similarity(c.v, q2.v), 6) AS cosine
  FROM cand
  JOIN corpus c ON c.id = cand.corpus_id
  JOIN corpus q2 ON q2.id = cand.query_id),
knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
    FROM scored) WHERE rank <= 5)
SELECT a.query_id AS id_a, a.corpus_id AS id_b, a.cosine,
       a.rank AS rank_ab, b.rank AS rank_ba
FROM knn a JOIN knn b
  ON b.query_id = a.corpus_id AND b.corpus_id = a.query_id
WHERE a.query_id < a.corpus_id
ORDER BY id_a, id_b
""",
)
