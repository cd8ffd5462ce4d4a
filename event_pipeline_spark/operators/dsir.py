"""DSIR — data selection via hashed n-gram importance weights.

Public recipe (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling"): estimate a target-domain distribution and
the raw-corpus distribution over HASHED n-gram buckets, and weight
every raw document by its log importance ratio

    log w(x) = sum_{positions i} [ log p_target(b_i) - log p_raw(b_i) ]

where ``b_i`` is the bucket of the i-th uni/bigram of x. Selection is
then top-k / Gumbel resampling by ``logw`` — composable here with
``select_token_budget`` or ``sample_k``.

Spark-first, no UDF: bucket ids are a JVM md5 expression (low-64-bits
little-endian, bit-identical to DuckDB's ``md5_number_lower`` — the
repo's cross-engine hash contract, dedup.py:126), bucket distributions
are two explode+groupBy counting passes, and scoring joins the
positions against one broadcast (bucket, log-ratio) table — the same
broadcast-model shape as ``operators/lm.py``. Distributions use
add-one smoothing so unseen buckets stay finite.

Float portability: per-position terms quantize to exact integer 1e-7
units on both engines, so the per-doc sum is a plain exact integer
aggregate — order-independent by construction (the langid lesson: a
round-7 double fold flipped a final digit on a 5e-4 boundary at
sf0.1); the final value rounds to 3 dp.

Registered query: ``dsir_log_weights`` [oracle] — target = sources
src1/src2/src3, raw = everything; DuckDB recomputes buckets, counts,
smoothing, and the per-doc sum from scratch.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}

NUM_BUCKETS = 4096


def _md5_low64(col: Column) -> Column:
    """Low 64 bits of md5 as a number, little-endian — bit-identical
    to DuckDB ``md5_number_lower`` (JVM expressions only)."""
    h = F.md5(col)
    le_hex = F.concat(*[F.substring(h, 33 - 2 * k, 2) for k in range(1, 9)])
    return F.conv(le_hex, 16, 10).cast("decimal(20,0)")


def hashed_gram_buckets(
    text_col: Column, *, num_buckets: int = NUM_BUCKETS
) -> Column:
    """Array of bucket ids for a doc's word unigrams AND bigrams (the
    paper's feature set), in position order (unigrams first)."""
    from event_pipeline_spark.operators.text import bind

    # bind(): the bigram builder indexes the token array per position —
    # as a raw expression the split would re-run at every element
    # (quadratic in doc length; see text.bind).
    grams = bind(
        F.split(F.trim(text_col), r"\s+"),
        lambda toks: F.concat(
            toks,
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
    )
    return F.transform(
        grams, lambda g: (_md5_low64(g) % num_buckets).cast("int")
    )


def _bucket_counts(
    df: DataFrame, text_col: str, num_buckets: int
) -> DataFrame:
    """(bucket, cnt) over the corpus — one explode + groupBy pass."""
    return (
        df.select(
            F.explode(
                hashed_gram_buckets(F.col(text_col), num_buckets=num_buckets)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = NUM_BUCKETS,
) -> DataFrame:
    """(id, n_grams, logw) for every raw doc; higher = more
    target-like. Smoothing is add-one over ``num_buckets``."""
    t_counts = _bucket_counts(target, text_col, num_buckets)
    r_counts = _bucket_counts(raw, text_col, num_buckets)
    # each smoothed denominator is an in-plan scalar over its counts
    # aggregate, whose exchange the ratio join reuses: one gram-bucket
    # pass per corpus, and the build starts no job
    t_den, r_den = (
        c.agg(F.coalesce(F.sum("cnt"), F.lit(0)) + num_buckets).scalar()
        for c in (t_counts, r_counts)
    )
    # one (bucket, log_ratio) table; missing buckets fall back to the
    # smoothed floor computed inline at scoring time
    ratio = (
        t_counts.withColumnRenamed("cnt", "tc")
        .join(r_counts.withColumnRenamed("cnt", "rc"), "bucket", "full")
        .select(
            "bucket",
            (
                F.log((F.coalesce("tc", F.lit(0)) + 1) / t_den)
                - F.log((F.coalesce("rc", F.lit(0)) + 1) / r_den)
            ).alias("lratio"),
        )
    )
    floor = F.log(1.0 / t_den) - F.log(1.0 / r_den)
    pos = raw.select(
        F.col(id_col),
        F.posexplode(
            hashed_gram_buckets(F.col(text_col), num_buckets=num_buckets)
        ).alias("i", "bucket"),
    )
    terms = pos.join(F.broadcast(ratio), "bucket", "left").select(
        F.col(id_col),
        "i",
        F.round(F.coalesce("lratio", floor) * 1e7).cast("long").alias("_t"),
    )
    per_doc = terms.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("_t").alias("_units"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_grams"),
        F.round(F.col("_units") / 1e7, 3).alias("logw"),
    )


# -- registered query ---------------------------------------------------------


def q_dsir_log_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights of every document against the src1-3 target
    domain."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src1", "src2", "src3"))
    return dsir_log_weights(docs, target).orderBy("doc_id")


QUERIES["dsir_log_weights"] = q_dsir_log_weights
ORACLES["dsir_log_weights"] = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS a
  FROM documents),
grams AS (
  SELECT doc_id, source, i::INT AS i, a[i] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(a))) AS t(i)
  UNION ALL
  SELECT doc_id, source, (len(a) + i)::INT AS i, a[i] || ' ' || a[i+1] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(a) - 1)) AS t(i)
  WHERE len(a) >= 2),
pos AS (
  SELECT doc_id, source, i,
         CAST(md5_number_lower(g)::HUGEINT % {NUM_BUCKETS} AS INT) AS bucket
  FROM grams),
tc AS (SELECT bucket, count(*)::BIGINT AS c FROM pos
       WHERE source IN ('src1','src2','src3') GROUP BY bucket),
rc AS (SELECT bucket, count(*)::BIGINT AS c FROM pos GROUP BY bucket),
tot AS (SELECT (SELECT coalesce(sum(c),0) FROM tc) AS tn,
               (SELECT coalesce(sum(c),0) FROM rc) AS rn),
terms AS (
  SELECT p.doc_id,
         CAST(round((ln((coalesce(t.c, 0) + 1)::DOUBLE
                         / (tot.tn + {NUM_BUCKETS}))
                     - ln((coalesce(r.c, 0) + 1)::DOUBLE
                          / (tot.rn + {NUM_BUCKETS})))
                    * 10000000) AS BIGINT) AS lt
  FROM pos p
  LEFT JOIN tc t USING (bucket)
  LEFT JOIN rc r USING (bucket)
  CROSS JOIN tot)
SELECT doc_id, count(*)::BIGINT AS n_grams,
       round(sum(lt) / 10000000.0, 3) AS logw
FROM terms GROUP BY doc_id ORDER BY doc_id
"""


def dsir_gumbel_topk(
    weights: DataFrame,
    *,
    k: int,
    id_col: str = "doc_id",
    logw_col: str = "logw",
    salt: str = "dsir-gumbel",
) -> DataFrame:
    """Importance RESAMPLING (the paper's selection step): top-k by
    ``logw + Gumbel(0,1)`` — equivalent to sampling k docs without
    replacement with probability ∝ exp(logw) (the Gumbel-top-k trick,
    public: Kool et al. 2019).

    The noise is DETERMINISTIC and engine-portable: u = md5-low-53-bits
    of (id||salt) scaled to (0,1), g = -ln(-ln(u)) — so the draw is
    reproducible across runs, partitionings, and engines (the same
    md5 contract every sampling operator here uses). One
    TakeOrderedAndProject, no full sort.
    """
    u = (
        (_md5_low64(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
         % F.lit(1 << 53)).cast("double")
        + 0.5
    ) / F.lit(float(1 << 53))
    g = -F.log(-F.log(u))
    return (
        weights.select(
            F.col(id_col),
            F.col(logw_col),
            F.round(F.col(logw_col) + g, 6).alias("gumbel_score"),
        )
        .orderBy(F.col("gumbel_score").desc(), F.col(id_col))
        .limit(k)
    )


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 docs Gumbel-resampled toward the src1-3 target domain."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src1", "src2", "src3"))
    w = dsir_log_weights(docs, target)
    return dsir_gumbel_topk(w, k=100).orderBy(
        F.col("gumbel_score").desc(), F.col("doc_id")
    )


QUERIES["dsir_sample"] = q_dsir_sample
ORACLES["dsir_sample"] = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS a
  FROM documents),
grams AS (
  SELECT doc_id, source, i::INT AS i, a[i] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(a))) AS t(i)
  UNION ALL
  SELECT doc_id, source, (len(a) + i)::INT AS i, a[i] || ' ' || a[i+1] AS g
  FROM toks, LATERAL unnest(generate_series(1, len(a) - 1)) AS t(i)
  WHERE len(a) >= 2),
pos AS (
  SELECT doc_id, source, i,
         CAST(md5_number_lower(g)::HUGEINT % {NUM_BUCKETS} AS INT) AS bucket
  FROM grams),
tc AS (SELECT bucket, count(*)::BIGINT AS c FROM pos
       WHERE source IN ('src1','src2','src3') GROUP BY bucket),
rc AS (SELECT bucket, count(*)::BIGINT AS c FROM pos GROUP BY bucket),
tot AS (SELECT (SELECT coalesce(sum(c),0) FROM tc) AS tn,
               (SELECT coalesce(sum(c),0) FROM rc) AS rn),
terms AS (
  SELECT p.doc_id,
         CAST(round((ln((coalesce(t.c, 0) + 1)::DOUBLE
                         / (tot.tn + {NUM_BUCKETS}))
                     - ln((coalesce(r.c, 0) + 1)::DOUBLE
                          / (tot.rn + {NUM_BUCKETS})))
                    * 10000000) AS BIGINT) AS lt
  FROM pos p
  LEFT JOIN tc t USING (bucket)
  LEFT JOIN rc r USING (bucket)
  CROSS JOIN tot),
w AS (SELECT doc_id, round(sum(lt) / 10000000.0, 3) AS logw
      FROM terms GROUP BY doc_id),
noised AS (
  SELECT doc_id, logw,
         round(logw - ln(-ln(
           ((md5_number_lower(CAST(doc_id AS VARCHAR) || 'dsir-gumbel')::HUGEINT
             % {1 << 53})::DOUBLE + 0.5) / {float(1 << 53)})), 6)
             AS gumbel_score
  FROM w)
SELECT doc_id, logw, gumbel_score
FROM noised ORDER BY gumbel_score DESC, doc_id LIMIT 100
"""
