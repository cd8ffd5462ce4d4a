"""End-to-end corpus curation: the composed pipeline every public
web-corpus recipe runs (C4 §2, Gopher A.1, FineWeb) — quality gate →
exact dedup → benchmark decontamination → token-budget selection —
expressed as a composition of this repo's existing operators, with ONE
chained-CTE oracle that recomputes the entire pipeline.

The point of registering the composition (not just its stages) is that
stage interactions are where pipelines go wrong: dedup must pick its
keeper among QUALITY SURVIVORS (not raw docs), decontamination must
compare against the benchmark built from the RAW corpus, and the budget
must rank what's left — the oracle pins that exact dataflow.

Scale shape: every stage keeps the composition's one-pass-per-stage
contract — the quality gate is a pure map; dedup shuffles (md5 digest,
doc_id) only; decontamination is a left-anti against the small
contaminated-id set (benchmark grams broadcast); budget selection uses
the distributed prefix sum (operators/prefix.py — range partition +
in-plan offsets, no single-partition window). Catalyst pipelines the
quality map into the dedup shuffle write, so composing the stages adds
no extra corpus scans.

Reference parity: composes the same stages the reference wires as
pipeline steps (see /root/reference/nexus/pipeline.py executor
chaining); here the chain is one lazy DataFrame so the optimizer sees
the whole plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_pipeline_spark.operators.decontam import (
    DEFAULT_N,
    _BENCH_EVERY,
    _BENCH_TOKENS,
    benchmark_fixture,
    decontaminate,
)
from event_pipeline_spark.operators.filtering import (
    MAX_BULLET_LINE_RATIO,
    MAX_MEAN_WORD_LEN,
    MAX_SYMBOL_WORD_RATIO,
    MAX_WORDS,
    MIN_MEAN_WORD_LEN,
    MIN_WORDS,
    STOPWORDS,
    gopher_quality,
)
from event_pipeline_spark.operators.prefix import select_token_budget
from event_pipeline_spark.operators.text import token_count

QUERIES = {}
ORACLES = {}

#: token budget for the registered query's selection stage
CURATE_BUDGET = 20_000

#: stopword threshold calibrated to the synthetic corpus (its vocabulary
#: holds at most ONE distinct Gopher stopword per document, so the
#: English-web default of 2 would blank the corpus; 1 keeps the gate
#: discriminative — ~74% pass)
CURATE_MIN_STOPWORDS = 1


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_stopword_hits: int = 1,
) -> DataFrame:
    """Quality → dedup → decontam → budget, one lazy DataFrame.

    Returns the selected documents as (id, n_tokens, running_tokens);
    ``running_tokens`` is the budget-order cumulative count including
    the row itself (best-first: longest docs first, id tiebreak).
    """
    survivors = gopher_quality(
        docs, text_col=text_col, min_stopword_hits=min_stopword_hits
    ).filter("passes_quality")
    keeper = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    deduped = (
        survivors.withColumn("_r", F.row_number().over(keeper))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    clean = decontaminate(
        deduped.select(id_col, text_col),
        benchmark,
        text_col=text_col,
        id_col=id_col,
    )
    toks = clean.select(
        id_col, token_count(F.col(text_col)).alias("n_tokens")
    )
    return select_token_budget(
        toks,
        score_col="n_tokens",
        tokens_col="n_tokens",
        budget=budget,
        id_col=id_col,
    ).select(id_col, "n_tokens", "running_tokens")


def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    return curate_corpus(
        docs,
        benchmark_fixture(spark, sf_dir),
        budget=CURATE_BUDGET,
        min_stopword_hits=CURATE_MIN_STOPWORDS,
    ).orderBy("doc_id")


# The oracle recomputes all four stages. Unlike quality_gopher's
# registered subset, the quality CTE mirrors ALL FIVE flags the Spark
# gate applies (symbol and bullet ratios included), so the composed
# filter can never drift from the oracle on a corpus where those flags
# start mattering.
_CURATE_ORACLE = f"""
WITH comp AS (
  SELECT doc_id, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
             / len(string_split_regex(trim(text), '\\s+')) AS mwl,
         len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE
             / len(string_split_regex(trim(text), '\\s+')) AS symr,
         len(list_filter(string_split(text, chr(10)),
                         ln -> regexp_matches(trim(ln), '^[-*•]')))::DOUBLE
             / len(string_split(text, chr(10))) AS bulr,
         len(list_intersect(
             list_transform(string_split_regex(trim(text), '\\s+'),
                            t -> lower(t)),
             {list(STOPWORDS)!r})) AS sh
  FROM documents),
q AS (
  SELECT doc_id, text FROM comp
  WHERE n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
    AND mwl BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
    AND symr <= {MAX_SYMBOL_WORD_RATIO}
    AND bulr <= {MAX_BULLET_LINE_RATIO}
    AND sh >= {CURATE_MIN_STOPWORDS}),
d AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS r
    FROM q) WHERE r = 1),
bench_toks AS (
  SELECT list_slice(string_split_regex(lower(trim(text)), '\\s+'),
                    1, {_BENCH_TOKENS}) AS toks
  FROM documents WHERE doc_id % {_BENCH_EVERY} = 0),
bench_grams AS (
  SELECT DISTINCT md5(gram) AS gram_hash FROM (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(toks) - {DEFAULT_N - 1}, 0)),
        i -> array_to_string(toks[i:i+{DEFAULT_N - 1}], ' '))) AS gram
    FROM bench_toks)),
contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, md5(gram) AS gram_hash FROM (
      SELECT doc_id, unnest(list_transform(
          generate_series(1, greatest(len(toks) - {DEFAULT_N - 1}, 0)),
          i -> array_to_string(toks[i:i+{DEFAULT_N - 1}], ' '))) AS gram
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM d)))
  JOIN bench_grams USING (gram_hash)),
c AS (SELECT * FROM d WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             AS n_tokens
  FROM c),
ranked AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id)
              AS BIGINT) AS running_tokens
  FROM toks)
SELECT doc_id, n_tokens, running_tokens
FROM ranked WHERE running_tokens <= {CURATE_BUDGET}
ORDER BY doc_id
"""


QUERIES["curate_pipeline"] = q_curate_pipeline
ORACLES["curate_pipeline"] = _CURATE_ORACLE


# -- novelty-weighted budget selection ----------------------------------------

#: token budget for the novelty-ranked selection
NOVEL_BUDGET = 15_000


def q_select_novel_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget selection ranked by n-gram novelty instead of length —
    the diversity-first fill (prefer documents whose content recurs
    nowhere else). Composes two verified operators: the novelty score
    (corpus_ngram_novelty) feeds the distributed prefix-sum selector
    (select_token_budget); ties break on doc_id, so the row set is
    deterministic despite score ties."""
    from event_pipeline_spark.operators.corpusstats import ngram_novelty
    from event_pipeline_spark.operators.prefix import select_token_budget
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    nov = ngram_novelty(docs).select("doc_id", "novelty")
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = select_token_budget(
        nov.join(toks, "doc_id"),
        score_col="novelty",
        tokens_col="n_tokens",
        budget=NOVEL_BUDGET,
        id_col="doc_id",
    )
    return out.select(
        "doc_id", "novelty", "n_tokens", "running_tokens"
    ).orderBy("doc_id")


QUERIES["select_novel_budget"] = q_select_novel_budget
ORACLES["select_novel_budget"] = f"""
WITH dg AS (
  SELECT DISTINCT doc_id,
         md5(CASE WHEN len(toks) >= 3
                  THEN array_to_string(toks[i : i + 2], ' ')
                  ELSE array_to_string(toks, ' ') END) AS g
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents),
       LATERAL unnest(generate_series(1, greatest(len(toks) - 2, 1)))
           AS t(i)),
dfc AS (SELECT g, count(*) AS df FROM dg GROUP BY g),
nov AS (
  SELECT dg.doc_id,
         round(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END)::DOUBLE
               / count(*), 6) AS novelty
  FROM dg JOIN dfc USING (g) GROUP BY dg.doc_id),
toks AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             AS n_tokens
  FROM documents),
ranked AS (
  SELECT n.doc_id, n.novelty, t.n_tokens,
         CAST(SUM(t.n_tokens) OVER (ORDER BY n.novelty DESC, n.doc_id)
              AS BIGINT) AS running_tokens
  FROM nov n JOIN toks t USING (doc_id))
SELECT doc_id, novelty, n_tokens, running_tokens
FROM ranked WHERE running_tokens <= {NOVEL_BUDGET}
ORDER BY doc_id
"""


# -- per-source curation funnel ----------------------------------------------


def curate_funnel(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    budget: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_stopword_hits: int = 1,
) -> DataFrame:
    """Per-source funnel report: every document attributed to the FIRST
    pipeline stage that drops it (quality → duplicate → contaminated →
    over_budget → selected). The observability face of
    ``curate_corpus`` — same stage semantics, but nothing is filtered
    away, so operators can see WHERE each source's mass goes.

    Plan shape: the stage flags are the same narrow intermediates the
    pipeline itself builds (quality map, md5-keyed keeper window,
    broadcast gram semi-join, distributed prefix sum); they rejoin the
    corpus by id only — (id, flag) pairs, never text — and collapse
    into one |sources|-row aggregate."""
    from event_pipeline_spark.operators.decontam import ngram_decontaminate
    from event_pipeline_spark.operators.prefix import running_total

    base = docs.select(id_col, source_col, text_col)
    q = gopher_quality(
        base, text_col=text_col, min_stopword_hits=min_stopword_hits
    ).select(id_col, source_col, text_col, "passes_quality")
    survivors = q.filter("passes_quality")
    keeper = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    deduped = survivors.withColumn(
        "_is_keeper", F.row_number().over(keeper) == 1
    )
    keepers = deduped.filter("_is_keeper")
    contam_ids = ngram_decontaminate(
        keepers.select(id_col, text_col),
        benchmark,
        text_col=text_col,
        id_col=id_col,
    ).select(id_col, F.lit(True).alias("_contam"))
    clean = keepers.join(contam_ids, id_col, "left_anti")
    toks = clean.select(
        id_col, token_count(F.col(text_col)).alias("_nt")
    )
    sel_ids = running_total(
        toks,
        [F.col("_nt").desc(), F.col(id_col).asc()],
        "_nt",
        out_col="_run",
    ).where(F.col("_run") <= budget).select(
        id_col, F.lit(True).alias("_sel")
    )
    flags = (
        q.select(id_col, source_col, "passes_quality")
        .join(deduped.select(id_col, "_is_keeper"), id_col, "left")
        .join(contam_ids, id_col, "left")
        .join(sel_ids, id_col, "left")
    )
    stage = (
        F.when(~F.col("passes_quality"), F.lit("quality"))
        .when(~F.coalesce(F.col("_is_keeper"), F.lit(False)), F.lit("duplicate"))
        .when(F.col("_contam").isNotNull(), F.lit("contaminated"))
        .when(F.col("_sel").isNull(), F.lit("over_budget"))
        .otherwise(F.lit("selected"))
    )
    cnt = lambda s: F.sum(  # noqa: E731
        F.when(F.col("_stage") == s, 1).otherwise(0)
    ).cast("long")
    return (
        flags.withColumn("_stage", stage)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            cnt("quality").alias("n_fail_quality"),
            cnt("duplicate").alias("n_duplicate"),
            cnt("contaminated").alias("n_contaminated"),
            cnt("over_budget").alias("n_over_budget"),
            cnt("selected").alias("n_selected"),
        )
    )


def q_curate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    return curate_funnel(
        docs,
        benchmark_fixture(spark, sf_dir),
        budget=CURATE_BUDGET,
        min_stopword_hits=CURATE_MIN_STOPWORDS,
    ).orderBy("source")


# Oracle: the curate_pipeline CTE chain (verbatim prefix, so the two
# oracles can never drift), stages re-derived per doc, conditional
# counts per source. CTEs consumed more than once are MATERIALIZED
# (DuckDB would otherwise inline the upstream chain per reference).
_FUNNEL_PREFIX = _CURATE_ORACLE.split(
    "SELECT doc_id, n_tokens, running_tokens"
)[0]
for _name in ("q AS (", "d AS (", "contaminated AS (", "ranked AS ("):
    _FUNNEL_PREFIX = _FUNNEL_PREFIX.replace(
        _name, _name.replace("AS (", "AS MATERIALIZED (")
    )

QUERIES["curate_funnel"] = q_curate_funnel
ORACLES["curate_funnel"] = (
    _FUNNEL_PREFIX
    + f""",
sel AS MATERIALIZED (
  SELECT doc_id FROM ranked WHERE running_tokens <= {CURATE_BUDGET}),
stages AS (
  SELECT doc.source,
         CASE
           WHEN doc.doc_id NOT IN (SELECT doc_id FROM q) THEN 'quality'
           WHEN doc.doc_id NOT IN (SELECT doc_id FROM d) THEN 'duplicate'
           WHEN doc.doc_id IN (SELECT doc_id FROM contaminated)
               THEN 'contaminated'
           WHEN doc.doc_id NOT IN (SELECT doc_id FROM sel)
               THEN 'over_budget'
           ELSE 'selected'
         END AS stage
  FROM documents doc)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fail_quality,
       CAST(sum(CASE WHEN stage = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_duplicate,
       CAST(sum(CASE WHEN stage = 'contaminated' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_contaminated,
       CAST(sum(CASE WHEN stage = 'over_budget' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_over_budget,
       CAST(sum(CASE WHEN stage = 'selected' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected
FROM stages GROUP BY source ORDER BY source
"""
)
