"""Training-data layout operators: deterministic sharding, hash splits,
and token-budget document packing (driver mandate: "the operations a
large-scale training-data pipeline would need").

- ``assign_shards``: stable shard id from a hash of the key — the write
  layout for N-way training shards. Same key → same shard across runs
  and cluster sizes.
- ``train_val_test_split``: deterministic hash-ratio split (a salt picks
  a different but equally stable split). No sampling state, no shuffle —
  a project per row — so it scales to any size and is reproducible.
- ``pack_greedy``: first-fit-decreasing packing of documents into
  fixed-token-budget packs, partition-local via ``mapInPandas`` (the
  global bin-packing optimum is NP-hard and needs no global coordination
  at this quality level: FFD is ≤ 11/9·OPT + 1 per partition). Pack ids
  are globally unique (partition id ⊕ local counter).
- ``sample_stratified``: per-stratum deterministic sampling via
  ``sampleBy`` with a fixed seed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHARD_COL = "shard"
SPLIT_COL = "split"
PACK_COL = "pack_id"


def assign_shards(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """Stable shard id in [0, n_shards): ``pmod(xxhash64(key), n)``.
    Write with ``.write.partitionBy("shard")`` (or repartition on it) to
    lay out training shards."""
    return df.withColumn(
        SHARD_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)).cast("int")
    )


def train_val_test_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Deterministic split assignment: the key's hash lands in [0, 1);
    cumulative weight ranges pick the split. Changing ``salt`` re-rolls
    membership without touching data. Weights must sum to 1."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1 (got {total})")
    # xxhash64 spans the full signed 64-bit range; map to [0, 1)
    u = (
        F.pmod(F.xxhash64(F.concat(F.col(key).cast("string"), F.lit(salt))),
               F.lit(1_000_000)).cast("double")
        / F.lit(1_000_000.0)
    )
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(SPLIT_COL, expr)


def pack_greedy(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    partitions: int | None = None,
) -> DataFrame:
    """Pack documents into groups whose token sums stay ≤ ``budget``
    (first-fit-decreasing within each partition; a doc alone over budget
    gets its own pack). Returns (id, tokens, pack_id, pack_tokens).

    Packing is partition-local by design: at 100 TB the docs stream
    through executors and no pack ever needs rows from two partitions —
    repartition first if pack count balance matters.
    """
    out_schema = (
        f"{id_col} long, {tokens_col} long, {PACK_COL} string, pack_tokens long"
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        parts = list(batches)
        if not parts:  # empty partition: mapInPandas yields NO batches
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(tokens_col, ascending=False, kind="mergesort")
        bins: list[int] = []  # remaining capacity per open pack
        assign: list[int] = []
        for t in pdf[tokens_col]:
            t = int(t)
            for i, cap in enumerate(bins):
                if t <= cap:
                    bins[i] = cap - t
                    assign.append(i)
                    break
            else:
                bins.append(max(budget - t, 0))
                assign.append(len(bins) - 1)
        pdf = pdf.assign(**{PACK_COL: [f"{pid}-{a}" for a in assign]})
        sums = pdf.groupby(PACK_COL)[tokens_col].transform("sum")
        yield pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                tokens_col: pdf[tokens_col].values,
                PACK_COL: pdf[PACK_COL].values,
                "pack_tokens": sums.values,
            }
        )

    slim = df.select(id_col, tokens_col)
    if partitions:
        slim = slim.repartition(partitions)
    return slim.mapInPandas(pack, out_schema)


def sample_stratified(
    df: DataFrame, strata: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample with a fixed seed (deterministic for
    a given partitioning)."""
    return df.sampleBy(strata, fractions, seed)


# -- query surface ----------------------------------------------------------

QUERIES = {}
ORACLES = {}


def _split_counts(spark, sf_dir: str) -> DataFrame:
    """Split assignment is pure hash math — re-expressed in SQL for the
    oracle, proving determinism and exact ratio arithmetic (the hash is
    engine-specific, so the oracle checks the *histogram contract*: every
    doc in exactly one split, totals preserved)."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    split = train_val_test_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        split.groupBy(SPLIT_COL).agg(F.count(F.lit(1)).alias("n"))
        .groupBy().agg(
            F.sum("n").alias("total_docs"),
            F.count(F.lit(1)).alias("n_splits"),
        )
    )


QUERIES["pack_split_contract"] = _split_counts
ORACLES["pack_split_contract"] = """
SELECT COUNT(*) AS total_docs, 3 AS n_splits FROM documents"""


def _pack_docs(spark, sf_dir: str) -> DataFrame:
    """Token packing over documents (rows-only check: pack assignment is
    hash/partition dependent; invariants are unit-tested)."""
    from event_pipeline_spark.operators.text import bpe_ish_token_count
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("tokens")
    )
    return pack_greedy(docs, "doc_id", "tokens", budget=2048).orderBy("doc_id")


QUERIES["pack_documents"] = _pack_docs


# ---------------------------------------------------------------------------
# Sequence packing (round 5): GPT-style concat-then-chunk. Documents are
# concatenated in a deterministic global order and the token stream is
# cut into fixed-length training sequences; a document crossing a cut
# contributes a segment to each sequence it spans. The output is the
# (sequence, document-segment) mapping a loader needs to materialize
# sequences and build attention-mask / doc-boundary metadata.
#
# Scale shape: the global offsets come from the distributed prefix sum
# (operators/prefix.py — range partition + in-plan offsets, never a
# single-partition window); the per-doc explode emits one row per
# SPANNED sequence (≈ n_tokens/seq_len + 1 rows per doc), so output is
# linear in corpus tokens. Everything is JVM expressions — exact
# integers end to end.
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seq_len: int,
) -> DataFrame:
    """(seq_id, id, doc_off, seq_off, n) segments of the concat-then-
    chunk layout: concatenate docs in ``id_col`` order, cut every
    ``seq_len`` tokens.

    ``doc_off`` = segment start within its document, ``seq_off`` =
    segment start within its sequence, ``n`` = tokens contributed.
    Zero-token docs contribute nothing. The final partial sequence is
    emitted (loaders usually pad or drop it — that policy stays with
    the caller).
    """
    from event_pipeline_spark.operators.prefix import running_total

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    with_end = running_total(
        df.select(F.col(id_col), F.col(tokens_col).cast("long").alias("_n"))
        .where(F.col("_n") > 0),
        [F.col(id_col).asc()],
        "_n",
        out_col="_end",  # inclusive cumsum = global end offset
    )
    start = (F.col("_end") - F.col("_n")).alias("_start")
    spans = with_end.select(
        F.col(id_col), "_n", F.col("_end"), start
    ).select(
        F.col(id_col), "_n", "_start",
        F.explode(
            F.sequence(
                # integer `div`, not double division: offsets are exact
                # longs and must stay exact past 2^53 corpus tokens
                F.expr(f"_start div {int(seq_len)}"),
                F.expr(f"(_end - 1) div {int(seq_len)}"),
            )
        ).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("_start"), F.col("seq_id") * seq_len)
    seg_end = F.least(
        F.col("_start") + F.col("_n"), (F.col("seq_id") + 1) * seq_len
    )
    return spans.select(
        F.col("seq_id"),
        F.col(id_col),
        (seg_start - F.col("_start")).cast("long").alias("doc_off"),
        (seg_start - F.col("seq_id") * seq_len).cast("long").alias("seq_off"),
        (seg_end - seg_start).cast("long").alias("n"),
    )


def _pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts, 512-token sequences — the full exact
    segment mapping vs DuckDB's window-cumsum + generate_series."""
    from event_pipeline_spark.operators.text import token_count
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, seq_len=512).orderBy("seq_id", "doc_id")


QUERIES["pack_sequences_512"] = _pack_sequences_q
ORACLES["pack_sequences_512"] = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
  FROM documents),
offs AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
  FROM toks WHERE n > 0),
spans AS (
  SELECT doc_id, n, s, t.seq_id
  FROM offs, LATERAL unnest(generate_series(s // 512, (s + n - 1) // 512))
       AS t(seq_id)),
segs AS (
  SELECT seq_id, doc_id,
         greatest(s, seq_id * 512) - s AS doc_off,
         greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
         least(s + n, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n
  FROM spans)
SELECT seq_id::BIGINT AS seq_id, doc_id, doc_off::BIGINT AS doc_off,
       seq_off::BIGINT AS seq_off, n::BIGINT AS n
FROM segs ORDER BY seq_id, doc_id
"""


# ---------------------------------------------------------------------------
# Sliding-window document chunking (round 7): the RAG/embedding-index
# preprocessing step — fixed-size token windows with overlap, the
# public recipe every retrieval pipeline uses (chunk size ~ model
# context, overlap to avoid cutting answers at boundaries). Pure JVM:
# per-document window starts via sequence(), slices via slice() —
# no shuffle at all (chunking is embarrassingly per-row), so the plan
# is scan → project regardless of corpus size.
#
# Chunk-start rule: starts at k*stride (stride = chunk - overlap) for
# k = 0.. while the chunk still contributes at least one new token
# (k == 0 or k*stride + overlap < n). The last start is >= n - chunk,
# so the tail is always covered, and no chunk is a strict subset of
# its predecessor.
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_id, start, n_tokens, text) sliding-window chunks.

    ``overlap`` consecutive tokens are shared between neighboring
    chunks; documents shorter than ``chunk_tokens`` yield one chunk.
    Empty documents yield none."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size(toks)
    n_chunks = F.greatest(
        F.floor((n - overlap) / F.lit(float(stride))).cast("long") +
        F.when(((n - overlap) % stride) != 0, 1).otherwise(0),
        F.lit(1),
    )
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).where(n > 0)
    start = F.col("chunk_id") * stride
    length = F.least(F.lit(chunk_tokens), F.col("_n") - start)
    return base.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start"),
        length.cast("long").alias("n_tokens"),
        F.array_join(
            F.slice("_toks", start + 1, length), " "
        ).alias("text"),
    )


def _chunk_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token chunks with 8-token overlap over documents (avg ~54
    tokens, so multi-chunk docs and single-chunk docs both occur)."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


QUERIES["chunk_documents_32"] = _chunk_docs_q
ORACLES["chunk_documents_32"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x != '') AS a
  FROM documents),
sized AS (
  SELECT doc_id, a, len(a) AS n,
         greatest(
           CAST(floor((len(a) - 8) / 24.0) AS BIGINT)
             + CASE WHEN (len(a) - 8) % 24 != 0 THEN 1 ELSE 0 END,
           1) AS n_chunks
  FROM toks WHERE len(a) > 0),
chunks AS (
  SELECT doc_id, t.k AS chunk_id, t.k * 24 AS start,
         least(32, n - t.k * 24) AS n_tokens, a
  FROM sized, LATERAL unnest(generate_series(0, n_chunks - 1)) AS t(k))
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       array_to_string(a[start + 1 : start + n_tokens], ' ') AS text
FROM chunks ORDER BY doc_id, chunk_id
"""


# -- balanced shard assignment (the output side of packing) -------------------

#: shard count for the registered query
N_SHARDS = 8


def assign_shards_balanced(
    df: DataFrame,
    *,
    tokens_col: str,
    id_col: str,
    n_shards: int,
) -> DataFrame:
    """Serpentine LPT shard assignment: rank documents by size
    (desc, id tiebreak) and deal them boustrophedon across ``n_shards``
    (0..n-1, then n-1..0, …) — the classic deterministic approximation
    that bounds the max-min shard token gap by one document. This is
    how a training run gets N balanced input shards without a solver.

    Scale shape: the global rank comes from the distributed prefix sum
    (operators/prefix.py — range partition + in-plan offsets), never
    a single-partition window; the shard formula is then a pure map.
    Returns input columns + ``shard``.
    """
    from event_pipeline_spark.operators.prefix import running_total

    order = [F.col(tokens_col).desc(), F.col(id_col).asc()]
    ranked = running_total(
        df.withColumn("_one", F.lit(1)), order, "_one", out_col="_rank"
    ).drop("_one")
    pos = F.col("_rank") - 1
    fwd = F.pmod(pos, F.lit(n_shards))
    rnd = F.floor(pos / n_shards)
    shard = F.when(
        F.pmod(rnd, F.lit(2)) == 0, fwd
    ).otherwise(F.lit(n_shards - 1) - fwd)
    return ranked.withColumn("shard", shard.cast("int")).drop("_rank")


def _shard_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.operators.text import token_count
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return assign_shards_balanced(
        docs, tokens_col="n_tokens", id_col="doc_id", n_shards=N_SHARDS
    ).orderBy("doc_id")


QUERIES["shard_assign"] = _shard_assign_q
ORACLES["shard_assign"] = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             AS n_tokens
  FROM documents),
ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS pos
  FROM toks)
SELECT doc_id, n_tokens,
       CAST(CASE WHEN (pos // {N_SHARDS}) % 2 = 0
                 THEN pos % {N_SHARDS}
                 ELSE {N_SHARDS} - 1 - pos % {N_SHARDS} END AS INT)
         AS shard
FROM ranked ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# curriculum ordering
# ---------------------------------------------------------------------------

N_CURRICULUM_BUCKETS = 10


def curriculum_order(
    df: DataFrame,
    *,
    score_col: str,
    id_col: str,
    n_buckets: int = N_CURRICULUM_BUCKETS,
    salt: str = "",
) -> DataFrame:
    """Curriculum training order: rank by ``score_col`` ascending
    (easy → hard), cut into ``n_buckets`` equal rank buckets, and
    SHUFFLE deterministically within each bucket (md5 order) — the
    standard curriculum-learning data layout (ordered difficulty
    without intra-bucket correlation). Returns input columns +
    ``bucket`` + ``seq`` (the 1-based global training position).

    Scale shape: both global ranks (difficulty rank, final sequence)
    come from the distributed prefix sum (range partition + in-plan
    offsets — never a single-partition window); the bucket formula
    ``(rank-1)*n_buckets div N`` is a pure map over a one-row
    broadcast count."""
    from event_pipeline_spark.operators.prefix import running_total
    from event_pipeline_spark.operators.sampling import hash_hex

    n_total = df.select(F.count(F.lit(1)).alias("_n"))
    ranked = running_total(
        df.withColumn("_one", F.lit(1)),
        [F.col(score_col).asc(), F.col(id_col).asc()],
        "_one",
        out_col="_rank",
    )
    bucketed = (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn(
            "bucket",
            F.expr(f"(_rank - 1) * {int(n_buckets)} div _n").cast("int"),
        )
        .drop("_rank", "_n")
    )
    seq = running_total(
        bucketed,
        [
            F.col("bucket").asc(),
            hash_hex(F.col(id_col), salt).asc(),
            F.col(id_col).asc(),
        ],
        "_one",
        out_col="seq",
    ).drop("_one")
    return seq


def _curriculum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length curriculum over documents: shortest docs first (the
    classic sequence-length curriculum), shuffled inside each decile."""
    from event_pipeline_spark.operators.text import token_count
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return curriculum_order(
        docs, score_col="n_tokens", id_col="doc_id"
    ).select("doc_id", "n_tokens", "bucket", "seq").orderBy("doc_id")


QUERIES["curriculum_order"] = _curriculum_q
ORACLES["curriculum_order"] = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             AS n_tokens
  FROM documents),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens ASC, doc_id ASC) AS rk
  FROM toks),
bucketed AS (
  SELECT doc_id, n_tokens,
         CAST(((rk - 1) * {N_CURRICULUM_BUCKETS}) // n AS INT) AS bucket
  FROM ranked, n_tot),
seqd AS (
  SELECT doc_id, n_tokens, bucket,
         CAST(row_number() OVER (
             ORDER BY bucket ASC,
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) ASC,
                      doc_id ASC) AS BIGINT) AS seq
  FROM bucketed)
SELECT doc_id, n_tokens, bucket, seq FROM seqd ORDER BY doc_id
"""
