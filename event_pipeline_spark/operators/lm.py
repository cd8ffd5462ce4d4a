"""N-gram language-model perplexity scoring (CCNet-style quality signal).

The standard third quality signal next to heuristic rules
(``filtering.py``) and a trained classifier (``classify.py``): train a
count-based n-gram LM on a reference corpus, score every document by
perplexity, keep the fluent tail. CCNet (Wenzek et al. 2019) uses a
KenLM 5-gram; the public-knowledge scoring scheme implemented here is
**stupid backoff** (Brants et al. 2007, "Large Language Models in
Machine Translation"):

    S(w | ctx_k) = count(ctx_k · w) / count(ctx_k)     if seen,
                 = alpha * S(w | ctx_{k-1})            otherwise,
    S(w)         = count(w) / N   (OOV floors to 1/N).

Spark-first architecture — **no UDF anywhere**:

- counting is ONE JVM pass over the training frame for every order:
  ``transform(sequence(...))`` builds all k-gram strings, k = 1..order,
  inside the array, one ``explode`` + ``groupBy`` counts them
  (map-side partial aggregation; the shuffle carries (gram,
  partial-count) pairs, never documents). Orders share the key space
  without colliding: a k-gram holds k-1 separators, a token none;
- scoring is a left-join of the position table against that one count
  table, once per lookup (w, then g_k and ctx_k per order). Every
  lookup reads the same aggregate, so the plan runs one shuffle and
  reuses it; AQE broadcasts the vocabulary-sized table, so scoring is
  a map stage. Backoff resolution is a CASE over the join results —
  whole-stage codegen, no Python in the hot path. (An Arrow UDF over a
  broadcast dict is the alternative when the model must be one opaque
  artifact; the join form is preferred because it stays JVM-side and
  lets pruning / broadcast decisions ride Catalyst.)
- the token total N is an in-plan scalar subquery over the same
  aggregate (its separator-free grams), so building a plan starts no
  Spark job: the counting runs at the caller's action;
- ``min_count`` pruning is a filter above the aggregate on the
  numerator lookups only; context lookups stay complete, so backoff
  stays well-defined for any ``min_count``.

Registered queries:
- ``lm_score_positions`` [oracle, exact integers] — train on even
  doc_ids, score ALL docs; per position emit the resolved backoff
  (num, den, level). Odd docs contain unseen n-grams and OOV words,
  so every backoff branch is exercised; DuckDB recomputes the counts
  and the resolution from scratch.
- ``lm_doc_perplexity`` [oracle] — per-doc perplexity
  ``exp(-mean(log S))``; per-term logs are rounded to 7 dp before the
  per-doc fold (both engines), the result to 3 dp, so engine
  summation-order ulps cannot surface.

Monotonicity property (garbage scores worse than in-domain text) and a
closed-form hand-computed oracle live in ``tests/test_lm.py``.

Round 7 adds **interpolated Kneser-Ney** (Kneser & Ney 1995; Chen &
Goodman 1998 eq. 4.25) — the smoothing family KenLM itself implements,
i.e. the scheme CCNet's filter actually runs — as a bigram model with
fixed discount D:

    P_KN(w | v) = (max(c(vw) - D, 0) + D * N1+(v·) * Pcont(w)) / c(v·)
    Pcont(w)    = N1+(·w) / N1+(··)        (OOV floors to 1 type)

where ``c(v·)`` is v's CONTEXT count (sum of bigrams starting at v —
not v's token count: the last token of a document starts no bigram),
``N1+(v·)`` / ``N1+(·w)`` are distinct-continuation type counts, and
``N1+(··)`` the total number of distinct bigram types. Unseen contexts
(and position 1) score the continuation probability directly. Every
component is an exact integer (``lm_kn_components`` is the graded
integer surface); the log-score fold uses the repo-standard 1e-7
integer units so both engines agree bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}

SEP = " "  # gram-join separator (whitespace tokens never contain it)


def whitespace_tokens(col: Column) -> Column:
    """Whitespace tokenization, identical to the DuckDB oracle's
    ``regexp_split_to_array(trim(text), '\\s+')``."""
    return F.split(F.trim(col), r"\s+")


def _gram_count_table(
    docs: DataFrame, *, text_col: str, order: int
) -> DataFrame:
    """(gram string, cnt) for every k-gram, k = 1..``order``, in one
    explode + aggregate. The orders share one key space without
    colliding: a k-gram string holds exactly k-1 separators and a
    whitespace token holds none."""
    from event_pipeline_spark.operators.text import bind

    def grams(a):  # a = bound token array (see text.bind)
        return F.concat(
            *[
                F.when(
                    F.size(a) >= k,
                    F.transform(
                        F.sequence(F.lit(1), F.size(a) - k + 1),
                        lambda i: F.array_join(F.slice(a, i, k), SEP),
                    ),
                ).otherwise(F.array().cast("array<string>"))
                for k in range(1, order + 1)
            ]
        )

    every = bind(whitespace_tokens(F.col(text_col)), grams)
    return (
        docs.select(F.explode(every).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _position_table(
    docs: DataFrame, *, id_col: str, text_col: str, order: int
) -> DataFrame:
    """One row per token position: (id, i [1-based], gram_k / ctx_k
    strings for k=2..order). Built with ``inline`` so the token array
    is never duplicated across exploded rows."""
    from event_pipeline_spark.operators.text import bind

    def build(a):  # a = bound token array (see text.bind — the raw
        # expression would re-split the text at EVERY position)
        def gram_ending_at(i, length):  # words [i-length+1 .. i] joined
            return F.array_join(F.slice(a, i - length + 1, length), SEP)

        fields = lambda i: [  # noqa: E731
            i.alias("i"),
            F.element_at(a, i).alias("w"),
            *[
                x
                for k in range(2, order + 1)
                for x in (
                    F.when(i >= k, gram_ending_at(i, k)).alias(f"g{k}"),
                    F.when(i >= k, gram_ending_at(i - 1, k - 1)).alias(
                        f"ctx{k}"
                    ),
                )
            ],
        ]
        return F.transform(
            F.sequence(F.lit(1), F.size(a)), lambda i: F.struct(*fields(i))
        )

    terms = bind(whitespace_tokens(F.col(text_col)), build)
    return docs.where(
        F.size(whitespace_tokens(F.col(text_col))) > 0
    ).select(F.col(id_col), F.inline(terms))


def lm_score_positions(
    docs: DataFrame,
    train: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Resolved stupid-backoff per position: (id, i, num, den, level).

    ``num/den`` is the count ratio of the branch that fired; ``level``
    is how many backoff steps were taken from the longest AVAILABLE
    context (``alpha ** level`` multiplies the ratio). Integer-exact —
    the float-free core of the model, and the graded oracle surface.
    """
    if order < 1:
        raise ValueError("order must be >= 1")
    pos = _position_table(
        docs, id_col=id_col, text_col=text_col, order=order
    )
    # one count table for every order, read by every lookup through one
    # reused shuffle: numerator lookups pruned, context lookups complete
    counts = _gram_count_table(train, text_col=text_col, order=order)
    numer = counts.where(F.col("cnt") >= min_count) if min_count > 1 else counts

    def lookup(table, key, cnt):
        return table.select(F.col("gram").alias(key), F.col("cnt").alias(cnt))

    scored = pos.join(lookup(numer, "w", "c1"), "w", "left")
    for k in range(2, order + 1):
        scored = scored.join(
            lookup(numer, f"g{k}", f"c{k}"), f"g{k}", "left"
        ).join(lookup(counts, f"ctx{k}", f"cc{k}"), f"ctx{k}", "left")
    # training token total = the unigram (separator-free) counts, an
    # in-plan scalar over the same aggregate. The IS NOT NULL repeats
    # the filter Catalyst infers on the join sides, so the subquery's
    # subtree matches theirs and reuses their exchange.
    n_total = (
        counts.where(F.col("gram").isNotNull())
        .agg(
            F.coalesce(
                F.sum(F.when(~F.col("gram").contains(SEP), F.col("cnt"))),
                F.lit(0),
            )
        )
        .scalar()
    )
    # available context length at position i (i is 1-based)
    avail = F.least(F.col("i") - 1, F.lit(order - 1))
    # build the CASE from unigram base up to the full order
    num = F.coalesce(F.col("c1"), F.lit(1))
    den = n_total
    level = avail
    for k in range(2, order + 1):
        hit = (F.col("i") >= k) & F.col(f"c{k}").isNotNull()
        num = F.when(hit, F.col(f"c{k}")).otherwise(num)
        den = F.when(hit, F.col(f"cc{k}")).otherwise(den)
        level = F.when(hit, avail - (k - 1)).otherwise(level)
    return pos_select(scored, id_col, num, den, level)


def pos_select(scored, id_col, num, den, level) -> DataFrame:
    return scored.select(
        F.col(id_col),
        F.col("i"),
        num.cast("bigint").alias("num"),
        den.cast("bigint").alias("den"),
        level.cast("int").alias("level"),
    )


def lm_doc_perplexity(
    docs: DataFrame,
    train: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    min_count: int = 1,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-doc stupid-backoff perplexity: (id, n_tokens, ppl).

    ``ppl = exp(-mean_i round((ln(num_i/den_i) + level_i*ln(alpha))
    * 1e7) / 1e7)`` rounded to 3 dp: each term is an exact INTEGER
    count of 1e-7 units, so the per-doc sum is order-independent and
    both engines agree bit-for-bit by construction (the langid round-7
    double fold flipped a final digit on a 5e-4 boundary at sf0.1 —
    integer units close that hazard for every sum-of-terms score).
    """
    pos = lm_score_positions(
        docs,
        train,
        id_col=id_col,
        text_col=text_col,
        order=order,
        min_count=min_count,
    )
    lterm = F.round(
        (
            F.log(F.col("num").cast("double") / F.col("den"))
            + F.col("level") * F.lit(math.log(alpha))
        )
        * 1e7
    ).cast("long")
    per_doc = (
        pos.withColumn("_lt", lterm)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lt").alias("_units"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(
            F.exp(-(F.col("_units") / 1e7) / F.col("n_tokens")), 3
        ).alias("ppl"),
    )


# -- registered queries ------------------------------------------------------


def _split(spark: SparkSession, sf_dir: str):
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    return docs, docs.where(F.col("doc_id") % 2 == 0)


def q_lm_score_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on even doc_ids, score all docs — integer-exact backoff
    resolution per position (odd docs exercise unseen-gram and OOV
    branches)."""
    docs, train = _split(spark, sf_dir)
    return lm_score_positions(docs, train).orderBy("doc_id", "i")


_POS_SQL = """
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
  FROM documents),
pos AS (
  SELECT doc_id, i::INT AS i, a[i] AS w,
         CASE WHEN i >= 2 THEN a[i-1] || ' ' || a[i] END AS g2,
         CASE WHEN i >= 2 THEN a[i-1] END AS ctx2,
         CASE WHEN i >= 3 THEN a[i-2] || ' ' || a[i-1] || ' ' || a[i] END AS g3,
         CASE WHEN i >= 3 THEN a[i-2] || ' ' || a[i-1] END AS ctx3
  FROM base, LATERAL unnest(generate_series(1, len(a))) AS t(i)),
train AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
uni AS (SELECT w AS gram, count(*) AS c FROM train GROUP BY w),
tot AS (SELECT count(*) AS n FROM train),
bi AS (SELECT g2 AS gram, count(*) AS c FROM train WHERE g2 IS NOT NULL GROUP BY g2),
tri AS (SELECT g3 AS gram, count(*) AS c FROM train WHERE g3 IS NOT NULL GROUP BY g3),
resolved AS (
  SELECT p.doc_id, p.i,
         CASE WHEN p.i >= 3 AND t3.c IS NOT NULL THEN t3.c
              WHEN p.i >= 2 AND b2.c IS NOT NULL THEN b2.c
              ELSE coalesce(u1.c, 1) END AS num,
         CASE WHEN p.i >= 3 AND t3.c IS NOT NULL THEN bctx.c
              WHEN p.i >= 2 AND b2.c IS NOT NULL THEN uctx.c
              ELSE (SELECT n FROM tot) END AS den,
         CASE WHEN p.i >= 3 AND t3.c IS NOT NULL THEN 0
              WHEN p.i >= 2 AND b2.c IS NOT NULL
                   THEN least(p.i - 1, 2) - 1
              ELSE least(p.i - 1, 2) END AS level
  FROM pos p
  LEFT JOIN uni u1 ON u1.gram = p.w
  LEFT JOIN bi b2 ON b2.gram = p.g2
  LEFT JOIN uni uctx ON uctx.gram = p.ctx2
  LEFT JOIN tri t3 ON t3.gram = p.g3
  LEFT JOIN bi bctx ON bctx.gram = p.ctx3)
SELECT doc_id, i, num::BIGINT AS num, den::BIGINT AS den, level::INT AS level
FROM resolved
"""

QUERIES["lm_score_positions"] = q_lm_score_positions
ORACLES["lm_score_positions"] = _POS_SQL + " ORDER BY doc_id, i"


def q_lm_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perplexity under the even-doc-trained trigram LM."""
    docs, train = _split(spark, sf_dir)
    return lm_doc_perplexity(docs, train).orderBy("doc_id")


QUERIES["lm_doc_perplexity"] = q_lm_doc_perplexity
ORACLES["lm_doc_perplexity"] = f"""
WITH resolved AS ({_POS_SQL}),
terms AS (
  SELECT doc_id,
         CAST(round((ln(num::DOUBLE / den) + level * ln(0.4))
                    * 10000000) AS BIGINT) AS lt
  FROM resolved)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(exp(-(sum(lt) / 10000000.0) / count(*)), 3) AS ppl
FROM terms GROUP BY doc_id ORDER BY doc_id
"""


def lm_bucket_select(
    docs: DataFrame,
    train: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 3,
    alpha: float = 0.4,
    exact_thresholds: bool = True,
) -> DataFrame:
    """CCNet-style perplexity bucketing: label every doc head / middle
    / tail by the corpus's perplexity terciles (CCNet trains on the
    head+middle, drops the tail).

    Thresholds are two percentiles in one scalar subquery over the
    corpus — never a global sort/ntile window (which would collapse to
    one partition at scale). ``exact_thresholds=True`` uses exact
    ``percentile`` (buffers values per aggregate — fine at oracle
    scale); production corpora should pass ``False`` for
    ``approx_percentile`` (t-digest, bounded memory at any scale) and
    accept label noise only for docs within the sketch's rank error
    of a boundary. Labels are oracle-safe: thresholds are either an
    exact data value (both engines equal) or strictly between two
    values (comparisons agree regardless of last-ulp differences).
    """
    w = lm_doc_perplexity(
        docs, train, id_col=id_col, text_col=text_col, order=order,
        alpha=alpha,
    )
    pct = F.percentile if exact_thresholds else F.approx_percentile
    # both thresholds are one in-plan scalar subquery over ``w``, which
    # reuses the labeling pass's shuffle: the labeling stays a codegen
    # projection (a one-row broadcast cross join would plan as
    # BroadcastNestedLoopJoin — flagged by the plan audit, and an extra
    # operator for no gain)
    th = w.agg(
        F.struct(
            pct(F.col("ppl"), F.lit(1.0 / 3)).alias("t1"),
            pct(F.col("ppl"), F.lit(2.0 / 3)).alias("t2"),
        )
    ).scalar()
    t1, t2 = th["t1"], th["t2"]
    return w.select(
        F.col(id_col),
        F.col("ppl"),
        F.when(F.col("ppl") <= t1, F.lit("head"))
        .when(F.col("ppl") <= t2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def q_lm_bucket_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tercile labels under the even-doc-trained trigram LM."""
    docs, train = _split(spark, sf_dir)
    return lm_bucket_select(docs, train).orderBy("doc_id")


_PPL_SQL = ORACLES["lm_doc_perplexity"].rsplit("ORDER BY doc_id", 1)[0]

QUERIES["lm_bucket_select"] = q_lm_bucket_select
ORACLES["lm_bucket_select"] = f"""
WITH w AS ({_PPL_SQL}),
th AS (SELECT quantile_cont(ppl, 1.0/3) AS t1,
              quantile_cont(ppl, 2.0/3) AS t2 FROM w)
SELECT doc_id, ppl,
       CASE WHEN ppl <= t1 THEN 'head'
            WHEN ppl <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM w CROSS JOIN th
ORDER BY doc_id
"""


# -- interpolated Kneser-Ney (bigram, fixed discount) ------------------------


def _kn_pair_table(train: DataFrame, *, text_col: str) -> DataFrame:
    """(v, w, c): adjacent-token bigram counts with the two words kept
    as separate columns (KN needs per-side marginals, so the joined
    gram-string form of ``_gram_count_table`` is the wrong shape).
    One JVM pass: pairs are built inside the bound token array, the
    shuffle carries (v, w, partial-count) — never documents.

    The IS NOT NULL on both words drops nothing (split tokens are never
    NULL). It repeats the filter Catalyst infers on each consumer's
    join key, so consumers that read the same columns plan the same
    subtree and share one shuffle: the pair join with the ``ctx``
    rollup, and the ``bwd`` rollup with ``lm_kn_perplexity``'s N1+(..)
    subquery (both read only the keys, so Catalyst prunes the count)."""
    from event_pipeline_spark.operators.text import bind

    pairs = bind(
        whitespace_tokens(F.col(text_col)),
        lambda a: F.when(
            F.size(a) >= 2,
            F.transform(
                F.sequence(F.lit(2), F.size(a)),
                lambda i: F.struct(
                    F.element_at(a, i - 1).alias("v"),
                    F.element_at(a, i).alias("w"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<v:string,w:string>>")),
    )
    return (
        train.select(F.inline(pairs))
        .where(F.col("v").isNotNull() & F.col("w").isNotNull())
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_kn_components(
    docs: DataFrame,
    train: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The integer-exact KN state per position: (id, i, cbi, ctxc,
    n1fwd, n1bwd).

    ``cbi`` = c(vw); ``ctxc`` = c(v·) (v's context count); ``n1fwd`` =
    N1+(v·); ``n1bwd`` = N1+(·w). Position 1 (no context) and unseen
    joins coalesce to 0. This is the float-free core — the probability
    in :func:`lm_kn_perplexity` is a pure projection over these four
    integers plus the scalar N1+(··).

    The three model tables are vocabulary-sized (not corpus-sized), so
    AQE broadcasts them and scoring stays a map stage over the
    position table — the same join-don't-ship-a-dict design as
    :func:`lm_score_positions`.
    """
    pos = _position_table(docs, id_col=id_col, text_col=text_col, order=2)
    pairs = _kn_pair_table(train, text_col=text_col)
    ctx = pairs.groupBy("v").agg(
        F.sum("c").alias("ctxc"), F.count(F.lit(1)).alias("n1f")
    )
    bwd = pairs.groupBy("w").agg(F.count(F.lit(1)).alias("n1b"))
    scored = (
        pos.join(
            pairs.select(
                F.col("v").alias("_pv"),
                F.col("w").alias("_pw"),
                F.col("c").alias("_c"),
            ),
            (F.col("ctx2") == F.col("_pv")) & (F.col("w") == F.col("_pw")),
            "left",
        )
        .join(
            ctx.select(F.col("v").alias("_cv"), "ctxc", "n1f"),
            F.col("ctx2") == F.col("_cv"),
            "left",
        )
        .join(
            bwd.select(F.col("w").alias("_bw"), "n1b"),
            F.col("w") == F.col("_bw"),
            "left",
        )
    )
    i2 = F.col("i") >= 2
    return scored.select(
        F.col(id_col),
        F.col("i"),
        F.coalesce(F.col("_c"), F.lit(0)).cast("bigint").alias("cbi"),
        F.when(i2, F.coalesce(F.col("ctxc"), F.lit(0)))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ctxc"),
        F.when(i2, F.coalesce(F.col("n1f"), F.lit(0)))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n1fwd"),
        F.coalesce(F.col("n1b"), F.lit(0)).cast("bigint").alias("n1bwd"),
    )


def lm_kn_perplexity(
    docs: DataFrame,
    train: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-doc interpolated-KN perplexity: (id, n_tokens, ppl).

    The probability is ONE fixed-shape double expression over the
    integer components — parenthesized identically in the DuckDB
    oracle, so both engines produce the same IEEE double before the
    repo-standard 1e-7-unit quantization (sums of unquantized doubles
    are the order-dependent hazard; a fixed expression tree is not).
    ``discount`` defaults to 0.75 (Chen & Goodman's robust setting;
    exactly representable in binary, so the literal is engine-safe).
    """
    comp = lm_kn_components(
        docs, train, id_col=id_col, text_col=text_col
    )
    # N1+(..): an in-plan scalar subquery, so the build starts no job
    pairs = _kn_pair_table(train, text_col=text_col)
    b = pairs.agg(F.count(F.lit(1))).scalar()
    nb = (
        F.when(F.col("n1bwd") > 0, F.col("n1bwd"))
        .otherwise(F.lit(1))
        .cast("double")
    )
    pc = nb / b.cast("double")
    d = F.lit(float(discount))
    p = F.when(
        (F.col("i") >= 2) & (F.col("ctxc") > 0),
        (
            F.greatest(F.col("cbi").cast("double") - d, F.lit(0.0))
            + (d * F.col("n1fwd").cast("double")) * pc
        )
        / F.col("ctxc").cast("double"),
    ).otherwise(pc)
    lt = F.round(F.log(p) * F.lit(1e7)).cast("long")
    per_doc = (
        comp.withColumn("_lt", lt)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lt").alias("_units"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(
            F.exp(-(F.col("_units") / 1e7) / F.col("n_tokens")), 3
        ).alias("ppl"),
    )


def q_lm_kn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact KN components under the even-doc-trained bigram
    model — odd docs exercise unseen-bigram, unseen-context, and OOV
    paths."""
    docs, train = _split(spark, sf_dir)
    return lm_kn_components(docs, train).orderBy("doc_id", "i")


_KN_SQL = """
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
  FROM documents),
pos AS MATERIALIZED (
  SELECT doc_id, i::INT AS i, a[i] AS w,
         CASE WHEN i >= 2 THEN a[i-1] END AS v
  FROM base, LATERAL unnest(generate_series(1, len(a))) AS t(i)),
train AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
pairs AS MATERIALIZED (
  SELECT v, w, count(*) AS c FROM train WHERE v IS NOT NULL
  GROUP BY v, w),
ctx AS (SELECT v, sum(c)::BIGINT AS ctxc, count(*) AS n1f
        FROM pairs GROUP BY v),
bwd AS (SELECT w, count(*) AS n1b FROM pairs GROUP BY w),
tot AS (SELECT count(*) AS b FROM pairs),
comp AS (
  SELECT p.doc_id, p.i,
         coalesce(pr.c, 0)::BIGINT AS cbi,
         (CASE WHEN p.i >= 2 THEN coalesce(cx.ctxc, 0)
               ELSE 0 END)::BIGINT AS ctxc,
         (CASE WHEN p.i >= 2 THEN coalesce(cx.n1f, 0)
               ELSE 0 END)::BIGINT AS n1fwd,
         coalesce(b.n1b, 0)::BIGINT AS n1bwd
  FROM pos p
  LEFT JOIN pairs pr ON pr.v = p.v AND pr.w = p.w
  LEFT JOIN ctx cx ON cx.v = p.v
  LEFT JOIN bwd b ON b.w = p.w)
"""

QUERIES["lm_kn_components"] = q_lm_kn_components
ORACLES["lm_kn_components"] = (
    _KN_SQL
    + "SELECT doc_id, i, cbi, ctxc, n1fwd, n1bwd FROM comp"
    + " ORDER BY doc_id, i"
)


def q_lm_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc interpolated-KN perplexity (even-doc-trained bigrams)."""
    docs, train = _split(spark, sf_dir)
    return lm_kn_perplexity(docs, train).orderBy("doc_id")


QUERIES["lm_kn_perplexity"] = q_lm_kn_perplexity
ORACLES["lm_kn_perplexity"] = f"""
{_KN_SQL},
terms AS (
  SELECT doc_id,
         CAST(round(ln(
           CASE WHEN i >= 2 AND ctxc > 0 THEN
             (greatest(cbi::DOUBLE - CAST(0.75 AS DOUBLE),
                       CAST(0 AS DOUBLE))
              + (CAST(0.75 AS DOUBLE) * n1fwd::DOUBLE)
                * ((CASE WHEN n1bwd > 0 THEN n1bwd ELSE 1 END)::DOUBLE
                   / b::DOUBLE)) / ctxc::DOUBLE
           ELSE (CASE WHEN n1bwd > 0 THEN n1bwd ELSE 1 END)::DOUBLE
                / b::DOUBLE
           END) * 10000000) AS BIGINT) AS lt
  FROM comp CROSS JOIN tot)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(exp(-(sum(lt) / 10000000.0) / count(*)), 3) AS ppl
FROM terms GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Good–Turing frequency-of-frequencies
# ---------------------------------------------------------------------------


def good_turing_counts(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(r, n_types, mass, r_star): the Good–Turing count-of-counts
    table over the corpus unigram vocabulary — the classical smoothing
    companion to the stupid-backoff and Kneser–Ney models above
    (Good 1953; Gale & Sampson 1995's simple GT). For each observed
    type frequency r, N_r = number of word types seen exactly r times,
    mass = r·N_r tokens, and the adjusted count

        r* = (r + 1) · N_{r+1} / N_r

    (NULL where N_{r+1} = 0 — the unsmoothed-N_r gap simple GT fills
    by regression; emitting the raw table keeps every value an exact
    integer ratio). r = 1's row doubles as the leave-one-out estimate
    of unseen mass: p0 = N_1 / N.

    Exactness: everything except the final r* division is BIGINT
    (token counts, type counts, products); r* is ONE correctly
    rounded division per row.

    Scale shape: tokens collapse to (type, cnt) in one
    map-side-combinable aggregate, then to ≤|distinct r| rows —
    the count-of-counts table is tiny (≈log-scale distinct r under
    Zipf), and the N_{r+1} lookup is a self-join on that tiny table.
    """
    types = (
        docs.select(
            F.explode(whitespace_tokens(F.col(text_col))).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    nr = types.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    )
    nxt = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_types").alias("n_next")
    )
    return (
        nr.join(nxt, "r", "left")
        .select(
            "r",
            "n_types",
            (F.col("r") * F.col("n_types")).cast("bigint").alias("mass"),
            F.when(
                F.col("n_next").isNotNull(),
                F.round(
                    ((F.col("r") + 1) * F.col("n_next")).cast("double")
                    / F.col("n_types").cast("double"),
                    7,
                ),
            ).alias("r_star"),
        )
    )


def q_lm_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return good_turing_counts(
        read_table(spark, sf_dir, "documents")
    ).orderBy("r")


QUERIES["lm_good_turing"] = q_lm_good_turing
ORACLES["lm_good_turing"] = """
WITH types AS (
  SELECT w, count(*)::BIGINT AS r FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w),
nr AS (SELECT r, count(*)::BIGINT AS n_types FROM types GROUP BY r)
SELECT nr.r, nr.n_types, (nr.r * nr.n_types)::BIGINT AS mass,
       CASE WHEN nxt.n_types IS NOT NULL
            THEN round(((nr.r + 1) * nxt.n_types)::DOUBLE
                       / nr.n_types::DOUBLE, 7) END AS r_star
FROM nr LEFT JOIN nr nxt ON nxt.r = nr.r + 1
ORDER BY nr.r
"""
