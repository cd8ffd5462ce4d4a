"""Deduplication operators for LLM-data pipelines (north-star surface).

Five strategies, each with a distinct scale profile:

- **exact** — hash-groupBy on the raw or fingerprinted text. One shuffle
  of (hash, id); at 100 TB you shuffle 16-byte digests, never documents.
- **MinHash + LSH** — shingle → K minhash signatures → b bands × r rows →
  bucket join. Signatures are one vectorized Arrow pass (md5-low-64 base
  hash + K affine hashes, numpy broadcast); candidate generation
  shuffles (band_id, band_hash) keys only; verification joins shingle
  sets for candidates, a tiny fraction of n².
- **SimHash** — 64-bit signature via per-token hashes majority-voted per
  bit; near-dups = signatures within Hamming distance d, found by the
  standard band-rotation trick (split 64 bits into d+1 blocks; equal
  pairs must share one block exactly).
- **n-gram Jaccard** — exact verification metric on shingle sets
  (array_intersect/array_union), used standalone for small candidate
  sets or as the verify stage after LSH.
- **embedding cosine** — near-dup over vectors; delegated to
  operators/similarity.py's LSH machinery with a threshold.

Registered queries — ALL exact-oracle-gated, including the sketch-based
ones: every hash in the MinHash/SimHash paths derives from md5 (DuckDB
``md5_number_lower``), so the oracles recompute the identical sketch in
SQL and the driver value-hash checks candidate generation, verification,
and clustering bit-for-bit: ``dedup_exact_hash``, ``dedup_minhash_pairs``,
``dedup_simhash_pairs``, ``dedup_ngram_jaccard``, ``dedup_cluster_exact``,
``dedup_clusters``, and ``dedup_incremental_minhash`` (new batch vs
standing corpus — the incremental-ingestion flow, cross-side LSH only).
Recall against brute-force additionally asserted in tests/test_dedup.py.
"""

from __future__ import annotations

import functools as _functools
import hashlib
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_pipeline_spark.operators.text import normalized_fingerprint, tokens
from event_pipeline_spark.operators.udf import once_per_row

QUERIES = {}
ORACLES = {}


def _register(name: str, fn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return read_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate groups keyed by md5 of the text. Shuffles digests, not
    documents — the 100 TB-safe form of Q27."""
    return (
        df.select(F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("dupes"))
        .where(F.col("dupes") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact text; returns survivors.
    Implemented as a window-free min-id aggregate + semi join so the wide
    document rows are shuffled once at most."""
    keep = (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash LSH
# ---------------------------------------------------------------------------


def _shingle_set(text: str, k: int) -> "set[str]":
    ws = text.lower().split()
    if len(ws) < k:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}


@_functools.lru_cache(maxsize=8)
def _shingles_udf(k: int):
    @once_per_row
    @F.pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: sorted(_shingle_set(t, k)))

    return sh


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as a distinct sorted array.

    Vectorized pandas UDF (Arrow batches). The pure-built-in form
    (transform over a position sequence slicing the token array) is
    correct but HOF lambdas run interpreted and re-evaluate the embedded
    ``split`` per position — measured 5x slower than the Arrow path even
    before banding. Python-side tokenization is ``text.lower().split()``,
    the exact contract the signature/verify stages share.
    """
    return _shingles_udf(k)(col)


def _md5_lower64(data: bytes) -> int:
    """Low 64 bits of md5, little-endian — bit-identical to DuckDB's
    ``md5_number_lower``. This is the portability contract that lets the
    MinHash/SimHash oracles recompute the exact signatures in SQL: every
    hash in the sketch path derives from md5, so the whole probabilistic
    pipeline becomes deterministic and engine-checkable."""
    return int.from_bytes(hashlib.md5(data).digest()[8:], "little")


def _affine_params(num_hashes: int):
    rng = np.random.RandomState(42)  # fixed seed: signatures reproducible
    a = rng.randint(1, (1 << 61) - 1, size=num_hashes, dtype=np.uint64)
    b = rng.randint(0, (1 << 61) - 1, size=num_hashes, dtype=np.uint64)
    return a, b


@_functools.lru_cache(maxsize=8)
def _minhash_udf(num_hashes: int, k: int):
    a, b = _affine_params(num_hashes)
    mask = np.uint64((1 << 61) - 1)

    @F.pandas_udf("array<long>")
    def mh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = _shingle_set(t, k)
            base = np.fromiter(
                (_md5_lower64(s.encode()) for s in sh),
                dtype=np.uint64,
                count=len(sh),
            )
            # K universal hashes of one base hash per shingle, min over
            # shingles — vectorized (K x |sh|) broadcast, datasketch-style.
            sig = ((a[:, None] * base[None, :] + b[:, None]) & mask).min(axis=1)
            out.append(sig.astype(np.int64))
        return pd.Series(out)

    return mh


def minhash_signature(text_col: Column, num_hashes: int = 64, k: int = 3) -> Column:
    """K minhash values straight from text: md5-low-64 base hash per
    shingle (== DuckDB ``md5_number_lower``), then K affine
    ((a*x+b mod 2^64) mod 2^61) hashes, min over shingles.
    One Arrow-batched pass; K=64 keeps the signature 512 bytes/doc —
    at 100 TB the signature table is ~0.5% of corpus size. Every stage
    is engine-portable, so the full sketch is oracle-checked exactly."""
    return _minhash_udf(num_hashes, k)(text_col)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two DISTINCT-element arrays. |A∪B| comes from
    inclusion–exclusion (|A|+|B|−|A∩B|) — one set operation per pair
    instead of two, since every caller passes de-duplicated shingle
    arrays whose sizes are already computed."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def _cap_buckets(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop every (band, bh) bucket holding more than ``max_bucket``
    docs — the MOSS-style noise rule for LSH banding. A bucket's
    candidate OUTPUT is quadratic in its size, so at 100 TB one
    boilerplate-heavy bucket with millions of docs produces ~10^12
    pairs that AQE's skew-join split can redistribute but never
    shrink; ultra-common band hashes are boilerplate by definition
    (the same argument as ``winnow_pairs`` max_df). The count window
    partitions by exactly the downstream join key, so it reuses the
    join's own hash exchange — capping adds no extra shuffle."""
    if max_bucket is None:
        return banded
    from pyspark.sql import Window

    return (
        banded.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
        )
        .where(F.col("_n") <= max_bucket)
        .drop("_n")
    )


def minhash_hot_buckets(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 100,
) -> DataFrame:
    """The REPORT half of the cap's drop-or-report semantics:
    (band, bh, n_docs) for every bucket the cap would drop, so an
    operator can audit what boilerplate mass was excluded before
    trusting the capped pair list."""
    banded = _banded_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        bands=bands,
    )
    return (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
    bbit: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any (band_id, band_hash) bucket become
    candidate pairs. Returns distinct (id_a, id_b).

    ``bbit`` enables b-bit minhash (Li & König 2010): each minhash
    value is masked to its low ``bbit`` bits before band-hashing, so a
    persisted sketch shrinks ~64/b× while the banding keys stay
    equi-join keys. A full-width band match implies a b-bit band match,
    so the candidate set is a SUPERSET of the full-width one (recall
    can only improve; the extra false positives cost only exact-verify
    work downstream) — pinned by a test.

    Scale shape: explode emits ``bands`` rows per doc of (band_id,
    64-bit hash, id) — the self-join shuffles ONLY those ~24-byte rows;
    text and shingle sets never move. Moderate bucket skew is AQE's
    skew-join case; pathological buckets (boilerplate corpora put
    millions of docs in one bucket, whose candidate OUTPUT is quadratic
    in bucket size) are dropped by ``max_bucket`` — see
    :func:`_cap_buckets` for why the cap is the only thing that bounds
    that cardinality, and :func:`minhash_hot_buckets` for the audit
    report of what a given cap excludes.
    """
    rows = num_hashes // bands
    sig = df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(F.col(text_col), num_hashes, k_shingle).alias("_sig"),
    )
    if bbit is not None:
        sig = sig.withColumn(
            "_sig",
            F.transform("_sig", lambda x: x.bitwiseAND(F.lit((1 << bbit) - 1))),
        )

    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # md5 over the comma-joined band values: a 32-hex
                        # (16-byte) shuffle key, same narrow-join shape as
                        # xxhash64 but reproducible in any engine
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.slice("_sig", b * rows + 1, rows).cast(
                                    "array<string>"
                                ),
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bucket"),
    ).select("_id", "_bucket.band", "_bucket.bh")
    # One explicit hash exchange on the banding key BEFORE the cap and
    # the self-join: the banded table feeds the cap window AND both
    # join sides, and without a shared shuffle the minhash UDF re-runs
    # per consumer whenever the planner broadcasts a side (a broadcast
    # build recomputes its subtree; exchange reuse only covered the
    # symmetric shuffled plan). Partitioning by (band, bh) satisfies
    # the cap window's and both join sides' clustering requirement, so
    # all three consume ONE ReusedExchange and the signature pass runs
    # exactly once per execution — no cache, any scale. AQE still
    # right-sizes the partition count.
    banded = banded.repartition("band", "bh")
    banded = _cap_buckets(banded, max_bucket)

    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
    bbit: int | None = None,
) -> DataFrame:
    """Candidate pairs verified by exact Jaccard >= threshold.

    Shingle sets are computed ONLY for docs that appear in a candidate
    pair (semi-join first): at near-dup rates of a few percent this
    touches a small fraction of the corpus, and the wide shingle arrays
    shuffle only for that fraction. ``max_bucket`` bounds per-bucket
    candidate cardinality (see :func:`minhash_candidate_pairs`).
    """
    pairs = minhash_candidate_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket=max_bucket,
        bbit=bbit,
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), shingles(F.col(text_col), k_shingle).alias("_sh"))
    )
    return (
        pairs.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b")), "id_b"
        )
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@_functools.lru_cache(maxsize=1)
def _simhash_udf():
    shifts = np.arange(63, dtype=np.uint64)  # bit 63 (sign) left 0:
    one = np.uint64(1)                       # keeps ids positive longs

    @once_per_row
    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            ws = t.lower().split()
            if not ws:
                continue
            hs = np.fromiter(
                (_md5_lower64(w.encode()) for w in ws),
                dtype=np.uint64,
                count=len(ws),
            )
            # per-bit majority vote, vectorized: (n_tokens x 63) bit matrix
            bits = (hs[:, None] >> shifts[None, :]) & one
            votes = bits.sum(axis=0) * 2 >= len(ws)
            out[i] = int((votes.astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    return sh


def simhash64(col: Column) -> Column:
    """64-bit SimHash from whitespace tokens: md5-low-64 per token
    (== DuckDB ``md5_number_lower``, so the signature is engine-portable
    and oracle-checked exactly), per-bit majority vote as one vectorized
    (tokens x 63) matrix per doc.

    Arrow-batched pandas UDF. The all-built-ins form (63 ``F.aggregate``
    bit-count passes over the token-hash array) is correct but HOFs run
    interpreted and each pass re-evaluates the embedded tokenizer —
    measured 15s for 5k docs vs ~1s here."""
    return _simhash_udf()(col)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash pairs within Hamming distance d — see
    ``hamming_block_pairs`` for the candidate-generation mechanics."""
    sigs = df.select(
        F.col(id_col).alias("_id"), simhash64(F.col(text_col)).alias("_sig")
    )
    return hamming_block_pairs(sigs, max_hamming=max_hamming)


def hamming_block_pairs(sigs: DataFrame, *, max_hamming: int) -> DataFrame:
    """Pairs of ``sigs`` (``_id``, ``_sig`` int64) within Hamming
    distance d via block rotation: split the 64-bit signature into d+1
    blocks; any pair within distance d agrees exactly on >= 1 block
    (pigeonhole — diffs landing in the <= 64 mod (d+1) uncovered top
    bits only strengthen the bound), so the join key is (block_idx,
    block_value) — narrow rows, one shuffle, no n². Shared by the
    SimHash text path above and the dHash image path
    (``operators/imagededup.py``)."""
    blocks = max_hamming + 1
    width = 64 // blocks
    exploded = sigs.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("_sig"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sig", "_b.blk", "_b.bv")

    left, right = exploded.alias("l"), exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64(F.col("l._sig"), F.col("r._sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs(spark, sf_dir)).orderBy(F.desc("dupes"), "h")


_register(
    "dedup_exact_hash",
    q_dedup_exact_hash,
    """SELECT md5(text) AS h, COUNT(*) AS dupes FROM documents
       GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY dupes DESC, h""",
)


#: hot-bucket cap for the registered near-dup query — generous enough
#: that no organic sf0.01/sf0.1 bucket is near it, small enough that a
#: boilerplate flood is bounded; the oracle recomputes the same cap.
MINHASH_MAX_BUCKET = 100


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        _docs(spark, sf_dir), max_bucket=MINHASH_MAX_BUCKET
    ).orderBy("id_a", "id_b")


def _minhash_pair_ctes(
    *,
    threshold: float = 0.7,
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
    bbit: int | None = None,
) -> str:
    """CTE chain recomputing the EXACT MinHash-LSH pipeline in DuckDB:
    same shingles, same md5-low-64 base hash (``md5_number_lower``), the
    same 64 affine permutations (seed-42 constants embedded as
    literals), the same banding keys (with the same ``max_bucket``
    hot-bucket drop when set — a QUALIFY count window over the bucket
    key), the same Jaccard verify. Ends in a CTE
    ``verified(id_a, id_b, jaccard)`` — not an approximate reference:
    bit-for-bit the sketch the Spark side computes."""
    a, b = _affine_params(num_hashes)
    rows = num_hashes // bands
    params = ",\n                ".join(
        f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)"
        for i in range(num_hashes)
    )
    cap_clause = (
        ""
        if max_bucket is None
        else f"QUALIFY count(*) OVER (PARTITION BY bi, bh) <= {max_bucket}"
    )
    return f"""WITH params(i, a, b) AS (VALUES {params}),
       toks AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS t
                FROM documents),
       sh AS (SELECT doc_id,
                     list_distinct(list_transform(
                         generate_series(1, greatest(len(t) - {k_shingle - 1}, 0)),
                         i -> array_to_string(t[i:i+{k_shingle - 1}], ' '))) AS grams
              FROM toks),
       hx AS (SELECT doc_id, md5_number_lower(g)::HUGEINT AS h
              FROM (SELECT doc_id, unnest(grams) AS g FROM sh)),
       sigv AS (SELECT doc_id, p.i,
                       MIN(((p.a * h + p.b) % 18446744073709551616::HUGEINT)
                           % 2305843009213693952)::BIGINT AS m
                FROM hx CROSS JOIN params p GROUP BY doc_id, p.i),
       sig AS (SELECT doc_id, list({"m" if bbit is None else f"m % {1 << bbit}"} ORDER BY i) AS s
               FROM sigv GROUP BY doc_id),
       banded AS (SELECT doc_id, bnd.bi,
                         md5(array_to_string(
                             s[bnd.bi*{rows}+1 : bnd.bi*{rows}+{rows}], ',')) AS bh
                  FROM sig CROSS JOIN
                       (SELECT unnest(generate_series(0, {bands - 1})) AS bi) bnd
                  {cap_clause}),
       cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                FROM banded l JOIN banded r
                  ON l.bi = r.bi AND l.bh = r.bh AND l.doc_id < r.doc_id),
       verified AS (
         SELECT id_a, id_b,
                ROUND(len(list_intersect(ga.grams, gb.grams))::DOUBLE
                      / (len(ga.grams) + len(gb.grams)
                         - len(list_intersect(ga.grams, gb.grams))), 6) AS jaccard
         FROM cand JOIN sh ga ON cand.id_a = ga.doc_id
                   JOIN sh gb ON cand.id_b = gb.doc_id
         WHERE len(list_intersect(ga.grams, gb.grams)) > 0)"""


def _minhash_oracle_sql() -> str:
    return (
        _minhash_pair_ctes(max_bucket=MINHASH_MAX_BUCKET)
        + """
       SELECT id_a, id_b, jaccard FROM verified
       WHERE jaccard >= 0.7 ORDER BY id_a, id_b"""
    )


_register("dedup_minhash_pairs", q_dedup_minhash, _minhash_oracle_sql())


def q_dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash near-dup (b=8): the banding runs on 8-bit masked
    minhash values — the persisted sketch is 8x smaller (64 bytes/doc
    instead of 512 at K=64) for identical verified output here, since
    candidates are a superset and the exact-Jaccard verify is shared.
    Li & König 2010."""
    return minhash_near_duplicates(
        _docs(spark, sf_dir), max_bucket=MINHASH_MAX_BUCKET, bbit=8
    ).orderBy("id_a", "id_b")


_register(
    "dedup_minhash_bbit",
    q_dedup_minhash_bbit,
    _minhash_pair_ctes(max_bucket=MINHASH_MAX_BUCKET, bbit=8)
    + """
       SELECT id_a, id_b, jaccard FROM verified
       WHERE jaccard >= 0.7 ORDER BY id_a, id_b""",
)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Recompute the EXACT 63-bit SimHash in DuckDB (md5-low-64 token
    hashes, duplicate-preserving tokens, ``2*votes >= n`` tie rule) and
    find near pairs by the NAIVE n² join — the pigeonhole block-rotation
    join on the Spark side is exact, so the two must agree pair-for-pair
    (this oracle checks the rotation trick itself, not just the
    signature)."""
    powers = ",\n                ".join(
        f"({j}, {1 << j}::HUGEINT)" for j in range(63)
    )
    return f"""WITH bits(j, pw) AS (VALUES {powers}),
       th AS (SELECT doc_id, md5_number_lower(w)::HUGEINT AS h
              FROM (SELECT doc_id,
                           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
                    FROM documents)),
       cnt AS (SELECT doc_id, COUNT(*) AS n FROM th GROUP BY doc_id),
       votes AS (SELECT doc_id, j, pw, SUM((h // pw) % 2) AS v
                 FROM th CROSS JOIN bits GROUP BY doc_id, j, pw),
       sig AS (SELECT v.doc_id,
                      SUM(CASE WHEN 2 * v.v >= c.n THEN v.pw ELSE 0 END)::BIGINT AS s
               FROM votes v JOIN cnt c USING (doc_id) GROUP BY v.doc_id)
       SELECT l.doc_id AS id_a, r.doc_id AS id_b,
              CAST(bit_count(xor(l.s, r.s)) AS INT) AS hamming
       FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       WHERE bit_count(xor(l.s, r.s)) <= {max_hamming}
       ORDER BY id_a, id_b"""


_register("dedup_simhash_pairs", q_dedup_simhash, _simhash_oracle_sql())


def _keyed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int,
    group_col: str | None,
) -> tuple[DataFrame, list[str]]:
    """(``_id``, [``_grp``], ``_sh``) behind one hash exchange on the
    keys the verify joins use, and those keys.

    The prefix explode and both verify joins read this frame. They
    read the same columns under the same filters, so their subtrees
    match below the exchange and the plan reuses it: the shingle UDF
    runs once per row per execution, with no cache. The filters are
    the ones Catalyst would infer on the join sides; a document
    without shingles is in no pair."""
    keys = ["_id", "_grp"] if group_col else ["_id"]
    sh_df = df.select(
        F.col(id_col).alias("_id"),
        *([F.col(group_col).alias("_grp")] if group_col else []),
        shingles(F.col(text_col), k_shingle).alias("_sh"),
    )
    present = F.size("_sh") > 0
    for c in ["_sh", *keys]:
        present = present & F.col(c).isNotNull()
    return sh_df.where(present).repartition(*keys), keys


def _prefix_len(t: float) -> Column:
    """How many of its sorted shingles a set must explode so that any
    partner reaching threshold ``t`` shares one of them."""
    n = F.size("_sh")
    return (n - F.ceil(F.lit(t) * n) + 1).cast("int")


def _verify_sides(
    cand: DataFrame, sh_df: DataFrame, keys: list[str]
) -> DataFrame:
    """Candidate (id_a, id_b, [_grp]) pairs joined to both shingle
    sets, ``sh_a`` and ``sh_b``, on the keys ``sh_df`` is partitioned
    by."""
    for s in ("a", "b"):
        side = sh_df.select(
            F.col("_id").alias(f"id_{s}"), *keys[1:], F.col("_sh").alias(f"sh_{s}")
        )
        cand = cand.join(side, [f"id_{s}", *keys[1:]])
    return cand


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """EXACT Jaccard-similarity join via prefix filtering (the
    AllPairs/PPJoin family) — no sketching, no false negatives.

    Two sets with J >= t must share an element within the first
    ``|x| - ceil(t*|x|) + 1`` elements of any agreed total order (sorted
    shingles here). So: explode only prefixes, equi-join on the shingle
    itself, then verify survivors exactly. The pair space never
    materializes — the shuffle keys are (shingle, id) prefix rows plus
    length-filter conjuncts, which is how an exact similarity join stays
    feasible at 100 TB. A naive per-group self-join with the jaccard in
    the condition measured 44-107s at sf0.1; this form runs in ~3s."""
    t = threshold
    sh_df, keys = _keyed_shingles(df, id_col, text_col, k_shingle, group_col)
    pre = sh_df.select(
        *keys,
        F.size("_sh").alias("_n"),
        F.explode(F.slice("_sh", 1, _prefix_len(t))).alias("_g"),
    )
    left, right = pre.alias("l"), pre.alias("r")
    cond = (F.col("l._g") == F.col("r._g")) & (F.col("l._id") < F.col("r._id"))
    if group_col:
        cond = cond & (F.col("l._grp") == F.col("r._grp"))
    cond = (
        cond
        & (F.col("l._n") >= t * F.col("r._n"))
        & (F.col("r._n") >= t * F.col("l._n"))
    )
    cand = left.join(right, cond).select(
        F.col("l._id").alias("id_a"),
        F.col("r._id").alias("id_b"),
        *[F.col(f"l.{c}") for c in keys[1:]],
    )
    return (
        _verify_sides(cand.distinct(), sh_df, keys)
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within each source (prefix-filter join)."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, group_col="source"
    ).orderBy("id_a", "id_b")


_register(
    "dedup_ngram_jaccard",
    q_dedup_ngram_jaccard,
    # exact-value oracle: the naive within-source pair join DuckDB can
    # afford at gate scale, against which the prefix-filter join must be
    # EXACT (no false positives or negatives). The shared-shingle guard
    # (len(list_intersect) > 0) mirrors the equi-join on a common
    # shingle and keeps 0/0 NaNs out of the threshold comparison.
    """WITH sh AS (
         SELECT doc_id, source,
                list_distinct(list_transform(
                    generate_series(1, greatest(len(toks) - 2, 0)),
                    i -> array_to_string(toks[i:i+2], ' '))) AS grams
         FROM (SELECT doc_id, source,
                      string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents)),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                len(list_intersect(a.grams, b.grams)) AS inter,
                len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams)) AS uni
         FROM sh a JOIN sh b
           ON a.source = b.source AND a.doc_id < b.doc_id)
       SELECT id_a, id_b, ROUND(inter::DOUBLE / uni, 6) AS jaccard
       FROM pairs WHERE inter > 0 AND ROUND(inter::DOUBLE / uni, 6) >= 0.5
       ORDER BY id_a, id_b""",
)


# -- duplicate clustering (connected components over near-dup pairs) -------

def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 20,
    checkpoint_every: int = 5,
    on_nonconverged: str = "raise",
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph:
    ``(id, cluster_id)`` where ``cluster_id`` is the minimum id reachable
    through any chain of pairs (A~B, B~C ⇒ {A,B,C} share one cluster —
    the transitive closure MinHash/SimHash pairs imply but don't give).

    Spark-first iterative shape (the GraphFrames/Pregel CC recipe, not a
    driver-side union-find): each round every node adopts the smallest
    label among its neighbors' labels and its own — a join + an
    aggregate, all DataFrame ops — and converges in O(log n) rounds for
    real dup graphs (label floods a component in diameter hops, and dup
    components are shallow). Each round's labels are a lazy
    ``localCheckpoint``, materialized by the round's one small count
    (labels that still changed) that detects convergence: the lineage
    never grows across rounds, and the returned labels hold no cache
    entry.

    Singleton docs (no pairs) are absent from the output by definition;
    left-join and coalesce with the doc id to canonicalize a full corpus.

    If labels are still changing when ``max_iterations`` runs out, the
    output would silently keep >1 representative per true cluster —
    ``on_nonconverged`` controls the escape: ``"raise"`` (default) or
    ``"warn"`` (log and return the partial labels). Set
    ``reliable_checkpoint=True`` on long chains on a real cluster to
    make every ``checkpoint_every``-th round a ``DataFrame.checkpoint()``
    (requires ``spark.sparkContext.setCheckpointDir`` — HDFS-persisted,
    survives executor loss) instead of a ``localCheckpoint`` (fast, but
    pinned to executor storage).
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be raise|warn, not {on_nonconverged!r}")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .select(F.col("src").alias("id"), "label")
        .localCheckpoint(eager=False)
    )
    for i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id, "inner")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("changed"),
            )
        )
        if reliable_checkpoint and (i + 1) % checkpoint_every == 0:
            labels = new_labels.checkpoint()
        else:
            labels = new_labels.localCheckpoint(eager=False)
        changed = labels.where(F.col("changed")).limit(1).count()
        if changed == 0:
            break
    else:
        msg = (
            f"duplicate_clusters did not converge in {max_iterations} "
            "iterations — a component's diameter exceeds the budget and "
            "the returned labels would split true clusters; raise "
            "max_iterations"
        )
        if on_nonconverged == "raise":
            edges.unpersist()
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def canonical_documents(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Keep one representative per duplicate cluster (the minimum id) and
    every unpaired document: the "dedup a corpus given near-dup pairs"
    terminal step."""
    clusters = duplicate_clusters(pairs, a_col, b_col)
    labeled = df.join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    return (
        labeled.withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(F.col(id_col))
            ),
        )
        .where(F.col("__rank") == 1)
        .drop("__rank", "cluster_id")
    )


def _dedup_cluster_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components over deterministic cliques (docs sharing
    ``doc_id % 50``; the corpus has no identical texts at any SF, so
    text-equality pairs would make this check vacuous). On cliques the
    fixpoint is closed-form — min doc_id per bucket — so DuckDB oracle-
    checks the iterative algorithm's convergence and labeling exactly."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 50).alias("bucket")
    )
    other = docs.select(
        F.col("doc_id").alias("doc_id2"), F.col("bucket").alias("bucket2")
    )
    pairs = docs.join(
        other,
        (F.col("bucket") == F.col("bucket2"))
        & (F.col("doc_id") < F.col("doc_id2")),
    ).select(F.col("doc_id").alias("a"), F.col("doc_id2").alias("b"))
    return duplicate_clusters(pairs).orderBy("id")


_register(
    "dedup_cluster_exact",
    _dedup_cluster_exact,
    """SELECT doc_id AS id,
              MIN(doc_id) OVER (PARTITION BY doc_id % 50) AS cluster_id
       FROM documents
       QUALIFY COUNT(*) OVER (PARTITION BY doc_id % 50) > 1
       ORDER BY id""",
)


def _dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components over MinHash near-dup pairs. Exact oracle: the
    portable md5-based sketch makes pair discovery reproducible in
    DuckDB, and a recursive-CTE transitive closure checks the
    label-propagation fixpoint itself."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_near_duplicates(docs).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    return duplicate_clusters(pairs).orderBy("id")


def _clusters_oracle_sql() -> str:
    """Minhash pair CTEs + WITH RECURSIVE connected components:
    cluster_id = min doc_id reachable from each node (incl. itself)."""
    ctes = _minhash_pair_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
    return (
        ctes
        + """,
       pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.7),
       edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(a, b) AS (SELECT a, b FROM edges
                       UNION
                       SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       SELECT a AS id, least(a, MIN(b)) AS cluster_id
       FROM reach GROUP BY a ORDER BY id"""
    )


_register("dedup_clusters", _dedup_clusters_minhash, _clusters_oracle_sql())


# ---------------------------------------------------------------------------
# Incremental near-dup: new batch vs existing corpus (round 3)
# ---------------------------------------------------------------------------


def _banded_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, band-hash) rows — the narrow LSH index both the
    self-join and the cross-corpus join build candidates from."""
    rows = num_hashes // bands
    sig = df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(F.col(text_col), num_hashes, k_shingle).alias("_sig"),
    )
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.slice("_sig", b * rows + 1, rows).cast(
                                    "array<string>"
                                ),
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bucket"),
    ).select("_id", "_bucket.band", "_bucket.bh")


def build_minhash_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The persistable corpus-side artifacts for incremental near-dup:
    ``(banded_index, shingle_table)``.

    ``banded_index`` is the narrow ``(_id, band, bh)`` LSH index;
    ``shingle_table`` is ``(_id, _sh)`` for exact verification. A
    production ingest loop writes both ONCE (e.g. parquet partitioned
    by ``band``), appends each accepted batch's rows, and feeds them
    back into :func:`minhash_cross_near_duplicates` via
    ``corpus_index=`` / ``corpus_shingles=`` — so per-ingest cost is
    proportional to the batch, not the standing corpus.

    ``max_bucket`` applies the hot-bucket cap at BUILD time — the right
    place for the incremental flow, since capping a stored index once
    is O(index) while capping inside every ingest's join would rescan
    the standing corpus per batch."""
    banded = _cap_buckets(
        _banded_signatures(
            df,
            id_col=id_col,
            text_col=text_col,
            k_shingle=k_shingle,
            num_hashes=num_hashes,
            bands=bands,
        ),
        max_bucket,
    )
    sh = df.select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), k_shingle).alias("_sh"),
    ).dropDuplicates(["_id"])
    return banded, sh


def minhash_cross_near_duplicates(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    corpus_index: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN a new batch and an existing corpus —
    the incremental-ingestion flow: band both sides, join band keys
    ACROSS sides only (never corpus×corpus, which a 100 TB re-self-join
    would redundantly redo every batch), verify candidates exactly.

    Two ways to supply the corpus side:

    - ``corpus_df``: raw documents; signatures and shingles are
      (re)computed in this call. Fine for one-off comparisons, but the
      cost grows with corpus size per ingest.
    - ``corpus_index`` + ``corpus_shingles``: precomputed artifacts
      from :func:`build_minhash_index`, typically read back from
      parquet. This is the scaling path — the standing corpus is never
      re-shingled; each ingest shuffles only the new batch's
      ``(band, hash, id)`` rows against the stored index.

    ``max_bucket`` caps the NEW side's buckets here; the corpus side is
    capped once at :func:`build_minhash_index` time (re-capping the
    standing index per ingest would defeat the incremental flow). When
    ``corpus_df`` is given, the cap is forwarded to the index build so
    both sides are bounded.

    Pairs are normalized to ``id_a < id_b``."""
    kw = dict(
        id_col=id_col,
        text_col=text_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        bands=bands,
    )
    if corpus_index is None or corpus_shingles is None:
        if corpus_df is None:
            raise ValueError(
                "supply corpus_df, or both corpus_index and corpus_shingles"
            )
        corpus_index, corpus_shingles = build_minhash_index(
            corpus_df,
            id_col=id_col,
            text_col=text_col,
            k_shingle=k_shingle,
            num_hashes=num_hashes,
            bands=bands,
            max_bucket=max_bucket,
        )
    bn = _cap_buckets(_banded_signatures(new_df, **kw), max_bucket).alias("n")
    bc = corpus_index.alias("c")
    cand = (
        bn.join(
            bc,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bh") == F.col("c.bh"))
            & (F.col("n._id") != F.col("c._id")),
        )
        .select(
            F.least("n._id", "c._id").alias("id_a"),
            F.greatest("n._id", "c._id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    both = (
        new_df.select(
            F.col(id_col).alias("_id"),
            shingles(F.col(text_col), k_shingle).alias("_sh"),
        )
        .unionByName(corpus_shingles)
        .dropDuplicates(["_id"])
    )
    return (
        cand.join(
            both.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")),
            "id_a",
        )
        .join(
            both.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")),
            "id_b",
        )
        .where(F.size(F.array_intersect("sh_a", "sh_b")) > 0)
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic split: even doc_ids are the standing corpus, odd
    doc_ids the incoming batch; report cross-side near-dup pairs."""
    docs = _docs(spark, sf_dir)
    return minhash_cross_near_duplicates(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    ).orderBy("id_a", "id_b")


_register(
    "dedup_incremental_minhash",
    _dedup_incremental_minhash,
    _minhash_pair_ctes()
    + """
       SELECT id_a, id_b, jaccard FROM verified
       WHERE jaccard >= 0.7 AND (id_a % 2) != (id_b % 2)
       ORDER BY id_a, id_b""",
)


# -- containment similarity join (asymmetric near-dup) ------------------------


def containment_pairs(
    df: DataFrame,
    *,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """EXACT min-containment join: pairs with
    ``|A ∩ B| / min(|A|, |B|) >= threshold`` over word k-shingle sets.

    Jaccard misses subset duplication by construction (a quote embedded
    in a 10x longer page has J ≈ 0.1 however verbatim the copy);
    containment is the standard complementary detector (quotes,
    boilerplate-wrapped copies, excerpt pages).

    Scale shape: containment only bounds the SMALLER set's overlap, so
    the prefix-filter trick applies to the smaller side while the
    larger side needs a full inverted index — the textbook asymmetric
    AllPairs layout. Candidates = smaller-side prefix shingles
    equi-joined to the larger side's full index (size conjunct picks a
    canonical smaller side; id tiebreak at equal size), then survivors
    verify exactly via one JVM array_intersect. No false negatives: a
    qualifying pair shares >= t*|A| shingles, so one lands inside A's
    ``|A| - ceil(t*|A|) + 1`` prefix, and the full index cannot miss it.
    """
    t = threshold
    sh_df, keys = _keyed_shingles(df, id_col, text_col, k_shingle, group_col)
    pre = sh_df.select(
        *keys,
        F.size("_sh").alias("_n"),
        F.explode(F.slice("_sh", 1, _prefix_len(t))).alias("_g"),
    )
    full = sh_df.select(
        *keys, F.size("_sh").alias("_n"), F.explode("_sh").alias("_g")
    )
    left, right = pre.alias("l"), full.alias("r")
    cond = (F.col("l._g") == F.col("r._g")) & (
        (F.col("l._n") < F.col("r._n"))
        | ((F.col("l._n") == F.col("r._n")) & (F.col("l._id") < F.col("r._id")))
    )
    if group_col:
        cond = cond & (F.col("l._grp") == F.col("r._grp"))
    cand = left.join(right, cond).select(
        F.least("l._id", "r._id").alias("id_a"),
        F.greatest("l._id", "r._id").alias("id_b"),
        *[F.col(f"l.{c}") for c in keys[1:]],
    )
    verified = _verify_sides(cand.distinct(), sh_df, keys).select(
        "id_a",
        "id_b",
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.least(F.size("sh_a"), F.size("sh_b")),
            6,
        ).alias("containment"),
    )
    return verified.where(F.col("containment") >= t)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-containment >= 0.6 within each source (3-shingles)."""
    return containment_pairs(
        _docs(spark, sf_dir), threshold=0.6, group_col="source"
    ).orderBy("id_a", "id_b")


_register(
    "dedup_containment",
    q_dedup_containment,
    # naive within-source pair join as the oracle (gate-scale
    # affordable), against which the asymmetric prefix+index join must
    # be exact — same contract as dedup_ngram_jaccard's oracle
    """WITH sh AS (
         SELECT doc_id, source,
                list_distinct(list_transform(
                    generate_series(1, greatest(len(toks) - 2, 0)),
                    i -> array_to_string(toks[i:i+2], ' '))) AS grams
         FROM (SELECT doc_id, source,
                      string_split_regex(lower(trim(text)), '\\s+') AS toks
               FROM documents)),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                len(list_intersect(a.grams, b.grams)) AS inter,
                least(len(a.grams), len(b.grams)) AS mn
         FROM sh a JOIN sh b
           ON a.source = b.source AND a.doc_id < b.doc_id)
       SELECT id_a, id_b, ROUND(inter::DOUBLE / mn, 6) AS containment
       FROM pairs
       WHERE inter > 0 AND ROUND(inter::DOUBLE / mn, 6) >= 0.6
       ORDER BY id_a, id_b""",
)


# ---------------------------------------------------------------------------
# quality-aware canonical selection (keep the best doc per dup cluster)
# ---------------------------------------------------------------------------


def keep_best_in_clusters(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """(id, cluster_id, keep, kept_by): canonical-document selection —
    per duplicate cluster keep the HIGHEST-quality member (ties →
    lowest id); singletons (absent from ``clusters``) keep themselves.
    The decision step between near-dup clustering and the training
    set: dropping an arbitrary member of each cluster (e.g. min-id)
    silently prefers whatever order the crawler found; keeping the
    best-quality member is the RefinedWeb/FineWeb rule.

    Scale shape: one left join of the corpus against the cluster
    labels (clusters cover only the duplicated minority) and one
    window partitioned by cluster — no shuffle beyond those two."""
    labeled = docs.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("q")
    ).join(
        clusters.select("id", "cluster_id"), "id", "left"
    ).select(
        "id",
        "q",
        F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("q"), F.asc("id")
    )
    return labeled.select(
        "id",
        "cluster_id",
        F.first("id").over(w).alias("kept_by"),
    ).select(
        "id",
        "cluster_id",
        (F.col("id") == F.col("kept_by")).alias("keep"),
        "kept_by",
    )


def _dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash clusters + length-as-quality canonical selection — the
    full pipeline (sketch → bands → verify → components → argmax)
    replayed by one chained oracle."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_near_duplicates(docs).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    clusters = duplicate_clusters(pairs)
    return keep_best_in_clusters(
        docs.select("doc_id", F.col("n_chars").alias("quality")),
        clusters,
        id_col="doc_id",
        quality_col="quality",
    ).orderBy("id")


def _keep_best_oracle_sql() -> str:
    return (
        _clusters_oracle_sql().rsplit("SELECT a AS id", 1)[0]
        + """,
       comp AS (
         SELECT a AS id, least(a, MIN(b)) AS cluster_id
         FROM reach GROUP BY a),
       labeled AS (
         SELECT d.doc_id AS id, d.n_chars AS q,
                coalesce(c.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       ranked AS (
         SELECT id, q, cluster_id,
                first_value(id) OVER (
                    PARTITION BY cluster_id ORDER BY q DESC, id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS kept_by
         FROM labeled)
       SELECT id, cluster_id, id = kept_by AS keep, kept_by
       FROM ranked ORDER BY id"""
    )


_register("dedup_keep_best", _dedup_keep_best, _keep_best_oracle_sql())


# ---------------------------------------------------------------------------
# cross-source duplication matrix
# ---------------------------------------------------------------------------


def source_dup_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """(source_a, source_b, n_pairs, share): near-duplicate pair counts
    aggregated to UNORDERED source pairs — the provenance readout a
    dedup run owes its operators: which feeds copy from which (a high
    crawlA×crawlB cell means shared upstream content; a high diagonal
    means a feed re-serves itself), with ``share`` = the cell's
    fraction of all near-dup pairs. Sources are canonicalized
    least-first so each unordered pair is ONE row.

    Scale shape: two narrow id→source joins against the (already
    bounded) pair list, then a |sources|² aggregate; share is one
    exact division via a window over that bounded cell table."""
    from pyspark.sql import Window

    src = docs.select(
        F.col(id_col).alias("_id"), F.col(source_col).alias("_src")
    )
    labeled = (
        pairs.join(
            src.select(
                F.col("_id").alias("id_a"), F.col("_src").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("_id").alias("id_b"), F.col("_src").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    cells = labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    tot = Window.partitionBy()
    return cells.select(
        "source_a",
        "source_b",
        "n_pairs",
        (
            F.col("n_pairs").cast("double")
            / F.sum("n_pairs").over(tot).cast("double")
        ).alias("share"),
    )


def _dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = minhash_near_duplicates(docs).select(
        F.col("id_a"), F.col("id_b")
    )
    return source_dup_matrix(docs, pairs).orderBy("source_a", "source_b")


def _source_matrix_oracle_sql() -> str:
    return (
        _minhash_pair_ctes()
        + """,
       pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.7),
       labeled AS (
         SELECT least(da.source, db.source) AS source_a,
                greatest(da.source, db.source) AS source_b
         FROM pairs p
         JOIN documents da ON da.doc_id = p.id_a
         JOIN documents db ON db.doc_id = p.id_b),
       cells AS (
         SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
         FROM labeled GROUP BY source_a, source_b)
       SELECT source_a, source_b, n_pairs,
              n_pairs::DOUBLE / sum(n_pairs) OVER ()::DOUBLE AS share
       FROM cells ORDER BY source_a, source_b"""
    )


_register(
    "dedup_source_matrix", _dedup_source_matrix, _source_matrix_oracle_sql()
)


# ---------------------------------------------------------------------------
# dedup threshold sweep
# ---------------------------------------------------------------------------

SWEEP_GRID = [50, 60, 70, 80, 90]  # thresholds in percent


def dedup_threshold_sweep(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    grid_pct: list[int] | None = None,
) -> DataFrame:
    """(threshold_pct, n_pairs, n_docs_affected): for each candidate
    Jaccard threshold, how many verified near-dup pairs — and how many
    distinct documents — a dedup run at that threshold would act on.
    THE tuning readout for the one parameter every MinHash dedup is
    governed by: 0.7 vs 0.8 can be millions of documents, and sweeping
    after the fact costs one extra aggregate over the ALREADY-verified
    candidate pairs, not a rerun per threshold.

    Candidates come from the standard banding calibration (recall is
    tuned for ~0.7; counts at the low end of the grid are candidates
    the bands happened to surface — stated, not hidden). Counts are
    cumulative (a pair counts at every threshold it clears), computed
    by bucketing each pair once and summing the bounded grid table."""
    grid = SWEEP_GRID if grid_pct is None else sorted(grid_pct)
    verified = minhash_near_duplicates(
        docs,
        id_col=id_col,
        text_col=text_col,
        threshold=grid[0] / 100.0,
    )
    rows = []
    for t in grid:
        rows.append(
            verified.where(
                F.col("jaccard") >= F.lit(t) / 100.0
            ).agg(
                F.lit(t).alias("threshold_pct"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.size(
                    F.array_distinct(
                        F.flatten(
                            F.collect_list(F.array("id_a", "id_b"))
                        )
                    )
                )
                .cast("bigint")
                .alias("n_docs_affected"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_threshold_sweep(_docs(spark, sf_dir)).orderBy(
        "threshold_pct"
    )


def _sweep_oracle_sql() -> str:
    selects = []
    for t in SWEEP_GRID:
        selects.append(
            f"""SELECT {t} AS threshold_pct,
       count(*)::BIGINT AS n_pairs,
       (SELECT count(DISTINCT d) FROM (
           SELECT id_a AS d FROM verified WHERE jaccard >= {t / 100.0}
           UNION ALL
           SELECT id_b FROM verified WHERE jaccard >= {t / 100.0}))::BIGINT
         AS n_docs_affected
FROM verified WHERE jaccard >= {t / 100.0}"""
        )
    return (
        _minhash_pair_ctes(threshold=SWEEP_GRID[0] / 100.0)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY threshold_pct"
    )


_register(
    "dedup_threshold_sweep", _dedup_threshold_sweep, _sweep_oracle_sql()
)


# ---------------------------------------------------------------------------
# LSH recall report (measured against exact AllPairs ground truth)
# ---------------------------------------------------------------------------


def lsh_recall_report(
    docs: DataFrame,
    *,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """One row (n_true, n_found, n_missed, recall): what fraction of
    TRUE near-duplicate pairs the MinHash-LSH path actually surfaces —
    the number every "we deduped the corpus" claim silently depends
    on, measured instead of assumed. Ground truth is the exact
    prefix-filtered AllPairs join (``ngram_jaccard_pairs`` — no false
    negatives) over the same word-shingle contract, evaluated on the
    within-``group_col`` slice so the oracle's naive pair join stays
    affordable; LSH verification computes the same exact Jaccard, so
    the found set is a true subset and recall is exact counting, one
    division.

    Scale note: the ground-truth side is the expensive half (that is
    WHY production runs LSH); run the report on a slice or at a gate
    scale, not the full corpus — the recall estimate transfers because
    banding probabilities depend on Jaccard, not corpus size."""
    exact_ws = ngram_jaccard_pairs(
        docs,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        group_col=group_col,
    ).select("id_a", "id_b")
    lsh = minhash_near_duplicates(
        docs, id_col=id_col, text_col=text_col, threshold=threshold
    ).select("id_a", "id_b", F.lit(1).alias("_f"))
    marked = exact_ws.join(lsh, ["id_a", "id_b"], "left")
    return marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.coalesce(F.sum("_f"), F.lit(0)).cast("bigint").alias("n_found"),
    ).select(
        "n_true",
        "n_found",
        (F.col("n_true") - F.col("n_found")).cast("bigint").alias(
            "n_missed"
        ),
        F.when(
            F.col("n_true") > 0,
            F.col("n_found").cast("double") / F.col("n_true"),
        ).alias("recall"),
    )


def _dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_recall_report(_docs(spark, sf_dir))


def _lsh_recall_oracle_sql() -> str:
    return (
        _minhash_pair_ctes(threshold=0.7)
        + """,
       lsh AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.7),
       ws AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         JOIN documents da ON da.doc_id = a.doc_id
         JOIN documents db ON db.doc_id = b.doc_id
                          AND da.source = db.source
         WHERE len(list_intersect(a.grams, b.grams)) > 0
           AND ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                     / (len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams))), 6)
               >= 0.7),
       marked AS (
         SELECT ws.id_a, ws.id_b,
                CASE WHEN lsh.id_a IS NOT NULL THEN 1 END AS f
         FROM ws LEFT JOIN lsh
           ON lsh.id_a = ws.id_a AND lsh.id_b = ws.id_b)
       SELECT count(*)::BIGINT AS n_true,
              coalesce(sum(f), 0)::BIGINT AS n_found,
              (count(*) - coalesce(sum(f), 0))::BIGINT AS n_missed,
              CASE WHEN count(*) > 0
                   THEN coalesce(sum(f), 0)::DOUBLE / count(*)::DOUBLE
              END AS recall
       FROM marked"""
    )


_register("dedup_lsh_recall", _dedup_lsh_recall, _lsh_recall_oracle_sql())
