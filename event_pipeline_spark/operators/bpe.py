"""BPE tokenizer induction over a corpus: distributed vocabulary
counting + classic byte-pair-merge training.

The shape mirrors how production tokenizer trainers work at scale: the
only corpus-sized work is ONE distributed pass building the
word-frequency table (split → explode → groupBy — map-side partials,
shuffle carries (word, count)); the merge loop then runs on that
bounded vocabulary (a frequency floor and/or top-k cap keeps it
driver-sized — classic BPE operates on the word-freq dict, not the raw
corpus, so a 100 TB corpus trains from the same few-million-row vocab a
100 GB one does). Applying the merges back over the corpus is an
Arrow-batched pandas UDF with a per-word cache and the merge table
broadcast.

Determinism: merge ties (equal pair counts) break on the pair's lexical
order, so the same corpus always yields the same merge sequence — the
property the tests pin.

Registered queries:
- ``bpe_word_vocab`` [oracle] — the distributed word-frequency pass
  (top words by count, exact).
- ``bpe_merges`` [oracle] — the TRAINING loop itself, recomputed by
  DuckDB as 40 unrolled (pair-count, argmax, replace-update) CTE
  triples over materialized per-word states (see _bpe_train_oracle;
  the kmeans_exact unrolled-training precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}

#: end-of-word sentinel (classic BPE: lets merges learn suffixes
#: without crossing word boundaries)
EOW = "</w>"


def bytes_to_unicode() -> dict[int, str]:
    """The public GPT-2 byte -> printable-code-point table (openai/gpt-2
    ``encoder.py::bytes_to_unicode``; identical in every ByteLevel
    HuggingFace tokenizer): the 188 printable latin-1 bytes map to
    themselves, the other 68 bytes map to U+0100.. in ascending byte
    order — so 0x20 (space) -> 'Ġ' (U+0120), 0x0A (newline) -> 'Ċ'.
    Byte-level merge tables and vocabs are written over this alphabet;
    the mapping is a bijection, so token text round-trips to exact
    bytes via the inverse table."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, map(chr, cs)))


BYTE_ENCODER = bytes_to_unicode()
BYTE_DECODER = {c: b for b, c in BYTE_ENCODER.items()}
#: byte 0x20 under the table — GPT-2's word-initial space marker
BYTE_SPACE = BYTE_ENCODER[0x20]


def byte_level_encode(word: str) -> list[str]:
    """A word's UTF-8 bytes as byte-level initial symbols (one mapped
    code point per byte — multi-byte UTF-8 chars span several
    symbols)."""
    return [BYTE_ENCODER[b] for b in word.encode("utf-8")]


def byte_level_decode(tokens: list[str]) -> str:
    """Inverse of the byte-level alphabet: token text -> original
    UTF-8 string (the round-trip the table's bijectivity guarantees)."""
    return bytes(
        BYTE_DECODER[c] for t in tokens for c in t
    ).decode("utf-8")


def word_vocab(
    df: DataFrame, text_col: str, *, min_count: int = 1, top_k: int | None = None
) -> DataFrame:
    """The one corpus-sized pass: whitespace word frequencies.
    Returns ``word, count`` with a deterministic total order."""
    words = df.select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    counts = (
        words.groupBy("word")
        .agg(F.count("*").alias("count"))
        .where(F.col("count") >= min_count)
        .orderBy(F.desc("count"), "word")
    )
    return counts.limit(top_k) if top_k else counts


def train_bpe(
    vocab: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE on a word-frequency vocabulary: repeatedly merge the
    most frequent adjacent symbol pair (ties → lexically smallest pair).
    ``vocab`` is [(word, count)]; returns the ordered merge list."""
    seqs: list[tuple[list[str], int]] = [
        (list(w) + [EOW], c) for w, c in vocab
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for symbols, cnt in seqs:
            for a, b in zip(symbols, symbols[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        for i, (symbols, cnt) in enumerate(seqs):
            out, j = [], 0
            while j < len(symbols):
                if (
                    j + 1 < len(symbols)
                    and symbols[j] == best[0]
                    and symbols[j + 1] == best[1]
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(symbols[j])
                    j += 1
            seqs[i] = (out, cnt)
    return merges


def train_bpe_distributed(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    *,
    min_count: int = 1,
    top_k: int | None = 50_000,
) -> list[tuple[str, str]]:
    """End-to-end: distributed vocab pass + driver-side merge loop."""
    vocab = [
        (r["word"], r["count"])
        for r in word_vocab(
            df, text_col, min_count=min_count, top_k=top_k
        ).collect()
    ]
    return train_bpe(vocab, num_merges)


def segment_word(
    word: str,
    ranks: dict[tuple[str, str], int],
    *,
    fused_suffix: str | None = None,
    byte_level: bool = False,
) -> list[str]:
    """Apply ranked merges to one word (greedy lowest-rank-first — the
    standard BPE inference).

    Initial symbols: by default chars + a STANDALONE ``</w>`` symbol
    (the classic Sennrich convention this repo's ``train_bpe``
    produces). Pass ``fused_suffix`` for the HuggingFace
    ``end_of_word_suffix`` convention (e.g. CLIP's ``</w>``), where
    the suffix is FUSED onto the last character ("dog" -> ["d", "o",
    "g</w>"]) and merge pairs reference the fused form. Pass
    ``byte_level`` for the GPT-2 family: initial symbols are the
    word's UTF-8 bytes under the public ``bytes_to_unicode`` alphabet
    (no end-of-word symbol — word boundaries live in the Ġ space
    marker the CALLER prepends to non-initial words). Both parameters
    come from ``tokenizer_artifacts.load_hf_tokenizer``."""
    if byte_level:
        if fused_suffix is not None:
            raise ValueError(
                "byte_level and fused_suffix are mutually exclusive "
                "(no ByteLevel artifact uses an end-of-word suffix)"
            )
        symbols = byte_level_encode(word)
    elif fused_suffix is not None:
        symbols = list(word)
        if symbols:
            symbols[-1] = symbols[-1] + fused_suffix
    else:
        symbols = list(word) + [EOW]
    while len(symbols) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        symbols[best_i : best_i + 2] = [
            symbols[best_i] + symbols[best_i + 1]
        ]
    return symbols


def apply_bpe(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    fused_suffix: str | None = None,
    byte_level: bool = False,
) -> DataFrame:
    """Tokenize the corpus with a trained merge table: Arrow-batched
    pandas UDF, merge ranks broadcast once, per-word memo cache (word
    frequency follows Zipf, so the cache hit rate is high). Returns
    ``id, n_tokens, tokens``. ``fused_suffix`` selects the HuggingFace
    end-of-word convention, ``byte_level`` the GPT-2 family convention,
    for LOADED artifacts (see ``segment_word``).

    Byte-level word boundaries: GPT-2 attaches each space to the
    FOLLOWING word (" world" -> Ġworld), so non-initial words segment
    with the Ġ marker prepended — matching hand-applied HF vectors on
    single-space-separated text. The engine's ``\\s+`` word split
    means a RUN of whitespace (or a newline) collapses to one Ġ;
    corpora where tab-vs-space distinctions must survive tokenization
    are outside the whitespace-word contract every operator here
    shares."""
    import pandas as pd

    spark = df.sparkSession
    ranks_bc = spark.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )

    def run(batches):
        import re

        ranks = ranks_bc.value
        cache: dict[tuple[str, bool], list[str]] = {}
        # ASCII-whitespace split, matching word_vocab's Java-regex
        # F.split(r'\s+') and the oracles' RE2 '\s+' (both ASCII-only);
        # Python str.split() would also split on U+00A0 etc. and
        # silently diverge from the trained vocab + the oracles
        ws = re.compile(r"\s+", re.ASCII)

        def seg(w: str, lead_space: bool) -> list[str]:
            key = (w, lead_space)
            if key not in cache:
                cache[key] = segment_word(
                    (" " + w) if lead_space else w,
                    ranks,
                    fused_suffix=fused_suffix,
                    byte_level=byte_level,
                )
            return cache[key]

        def tok(text: str) -> list[str]:
            out: list[str] = []
            first = True
            for w in ws.split(text or ""):
                if not w:
                    continue
                out.extend(seg(w, byte_level and not first))
                first = False
            return out

        for pdf in batches:
            toks = [tok(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": toks,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run, schema="id long, n_tokens long, tokens array<string>"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return read_table(spark, sf_dir, "documents")


def q_bpe_word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus words by frequency — the distributed half of BPE
    training, exact-oracled."""
    return word_vocab(_docs(spark, sf_dir), "text", top_k=100)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 40 BPE merges learned from the corpus vocabulary
    (deterministic: tie-break on lexical pair order). The oracle
    recomputes the whole training loop (_bpe_train_oracle below)."""
    merges = train_bpe_distributed(
        _docs(spark, sf_dir), "text", num_merges=40
    )
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).orderBy("rank")


QUERIES["bpe_word_vocab"] = q_bpe_word_vocab
ORACLES["bpe_word_vocab"] = """
    SELECT word, count FROM (
      SELECT u.word AS word, CAST(COUNT(*) AS BIGINT) AS count
      FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents) u
      WHERE u.word != ''
      GROUP BY u.word
    ) ORDER BY count DESC, word LIMIT 100
"""
QUERIES["bpe_merges"] = q_bpe_merges


# ---------------------------------------------------------------------------
# Tokenizer-aware packing / budget selection (round 6): compose REAL
# BPE token counts — not whitespace counts — into pack_sequences and
# select_token_budget, the way a production loader does (tokenizers
# are frozen pretrained artifacts; FROZEN_MERGES below was trained
# once on the synthetic corpus with train_bpe and pinned).
#
# Oracle story: greedy lowest-rank-first segmentation (segment_word)
# is equivalent to applying a TRAINED merge table in rank order with
# left-to-right non-overlapping replacement — a merge's pair can only
# reappear via symbols formed by EARLIER merges, never later ones. In
# SQL that is a chain of plain replace() calls over a boundary-safe
# encoding: tokens joined by double commas, each merge rewriting
# ',x,,y,' -> ',xy,' (one comma of each boundary pair survives, so
# consecutive occurrences all match in one pass). Verified equivalent
# to segment_word over every corpus word at three SFs plus 500 random
# words (tests/test_bpe.py).
# ---------------------------------------------------------------------------

#: 40 merges trained on the sf0.01 documents corpus (train_bpe, tie
#: rule: most frequent pair, then lexically smallest), frozen so every
#: scale factor tokenizes with the same artifact.
FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
    ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"),
    ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n</w>"),
    ("cu", "st"), ("cust", "o"), ("custo", "m"), ("custom", "er</w>"),
]


def _bpe_count_sql(word_expr: str = "w") -> str:
    """DuckDB expression: BPE token count of one word under
    FROZEN_MERGES (the replace-chain segmentation described above)."""
    expr = (
        f"',,' || array_to_string(list_append(string_split({word_expr}, ''),"
        " '</w>'), ',,') || ',,'"
    )
    for x, y in FROZEN_MERGES:
        # the ',x,,y,' patterns are ambiguous if a symbol ever contains
        # the ',' delimiter — impossible for FROZEN_MERGES, but guard
        # against a retrained table over comma-bearing text
        assert "," not in x + y, f"merge symbol contains delimiter: {(x, y)}"
        expr = f"replace({expr}, ',{x},,{y},', ',{x}{y},')"
    return f"(len(string_split({expr}, ',,')) - 2)"


#: shared oracle CTE: per-document BPE token counts (segment each
#: DISTINCT word once, then join back — same shape as the Spark side's
#: per-word memo cache)
_BPE_DOC_TOKENS_CTE = f"""
words AS (
  SELECT doc_id, a[i] AS w
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
        FROM documents),
       LATERAL unnest(generate_series(1, len(a))) AS t(i)
  WHERE a[i] != ''),
wordtok AS (
  SELECT w, {_bpe_count_sql("w")} AS nt
  FROM (SELECT DISTINCT w FROM words)),
doctok AS (
  SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n
  FROM words JOIN wordtok USING (w)
  GROUP BY doc_id)
"""


def _bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return apply_bpe(docs, "text", FROZEN_MERGES).select(
        F.col("id").alias("doc_id"), F.col("n_tokens").cast("long").alias("n_tokens")
    )


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-token training sequences packed from BPE token counts: the
    frozen-merge tokenizer feeds the distributed prefix-sum packer —
    exact segment mapping (seq_id, doc_id, doc_off, seq_off, n)."""
    from event_pipeline_spark.operators.packing import pack_sequences

    return pack_sequences(
        _bpe_doc_tokens(spark, sf_dir), seq_len=256
    ).orderBy("seq_id", "doc_id")


QUERIES["pack_sequences_bpe"] = q_pack_sequences_bpe
ORACLES["pack_sequences_bpe"] = f"""
WITH {_BPE_DOC_TOKENS_CTE},
offs AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
  FROM doctok WHERE n > 0),
spans AS (
  SELECT doc_id, n, s, t.seq_id
  FROM offs, LATERAL unnest(generate_series(s // 256, (s + n - 1) // 256))
       AS t(seq_id)),
segs AS (
  SELECT seq_id, doc_id,
         greatest(s, seq_id * 256) - s AS doc_off,
         greatest(s, seq_id * 256) - seq_id * 256 AS seq_off,
         least(s + n, (seq_id + 1) * 256) - greatest(s, seq_id * 256) AS n
  FROM spans)
SELECT seq_id::BIGINT AS seq_id, doc_id, doc_off::BIGINT AS doc_off,
       seq_off::BIGINT AS seq_off, n::BIGINT AS n
FROM segs ORDER BY seq_id, doc_id
"""


def token_vocab(
    toks: DataFrame, *, tokens_col: str = "tokens"
) -> list[str]:
    """Sorted distinct BPE tokens of a tokenized corpus — the id table.

    Bounded by the TOKENIZER, not the corpus: every merge creates
    exactly one new symbol, so |vocab| <= |base chars| + |merges| + 1
    (EOW) no matter how many documents flow through — the same reason a
    production vocab is a driver-sized frozen artifact. Collected and
    sorted on the driver (codepoint order, matching ORDER BY in any
    external engine)."""
    rows = (
        toks.select(F.explode(tokens_col).alias("tok")).distinct().collect()
    )
    return sorted(r["tok"] for r in rows)


def materialize_sequences(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int,
) -> DataFrame:
    """The loader's actual output: fixed-length training sequences of
    BPE token IDS (concat-then-chunk over docs in ``id_col`` order).

    Returns ``(seq_id, n, ids)`` — ``ids`` the space-joined token-id
    string of the sequence (exact integers; the last sequence may be
    partial). Pipeline: tokenize once (Arrow UDF) behind one exchange
    keyed on the doc id, which the vocabulary, the packer and the slice
    join all read; derive the bounded vocab in the plan and broadcast
    it as one map row (production: broadcast-join a frozen vocab
    table); reuse the distributed prefix-sum packer for the segment
    layout, then slice each doc's id array per segment and flatten per
    sequence — everything after the tokenizer is JVM expressions, the
    build starts no Spark job, and no shuffle ever carries more than
    (seq_id, segment) rows.
    """
    from event_pipeline_spark.operators.packing import pack_sequences

    # the packer, the slice join and the vocabulary read the same
    # columns under the same filters (the ones they would infer: a doc
    # without tokens is in no sequence), so all three read one exchange
    # and the tokenizer runs once per doc
    toks = (
        apply_bpe(df, text_col, merges, id_col=id_col)
        .select("id", "tokens")
        .where(
            F.col("id").isNotNull()
            & F.col("tokens").isNotNull()
            & (F.size("tokens") > 0)
        )
        .repartition("id")
    )
    # token id = rank in the sorted distinct vocabulary, one broadcast
    # row bounded by the tokenizer, not the corpus (see token_vocab)
    vocab = toks.select(F.explode("tokens").alias("tok")).agg(
        F.map_from_entries(
            F.transform(
                F.array_sort(F.collect_set("tok")), lambda t, i: F.struct(t, i)
            )
        ).alias("_vocab")
    )
    with_ids = toks.crossJoin(F.broadcast(vocab)).select(
        F.col("id").alias(id_col),
        F.transform(
            "tokens", lambda t: F.element_at(F.col("_vocab"), t)
        ).alias("_ids"),
    )
    segs = pack_sequences(
        toks.select(F.col("id").alias(id_col), F.size("tokens").alias("n_tokens")),
        id_col=id_col,
        seq_len=seq_len,
    )
    seg_ids = segs.join(with_ids, id_col).select(
        "seq_id",
        "seq_off",
        "n",
        F.slice(
            "_ids", F.col("doc_off").cast("int") + 1, F.col("n").cast("int")
        ).alias("_seg"),
    )
    return seg_ids.groupBy("seq_id").agg(
        F.sum("n").cast("int").alias("n"),
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq_off", "_seg"))),
                    lambda s: s["_seg"],
                )
            ),
            " ",
        ).alias("ids"),
    )


def q_materialize_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-token training sequences MATERIALIZED as token-id strings —
    the end-to-end loader path (tokenize → vocab → pack → slice →
    flatten), exact against an external re-derivation."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return materialize_sequences(docs, FROZEN_MERGES, seq_len=256).orderBy(
        "seq_id"
    )


def _bpe_seg_sql(word_expr: str = "w") -> str:
    """DuckDB expression: the raw replace-chain segmentation string of
    one word (tokens double-comma-joined, leading/trailing ',,')."""
    expr = (
        f"',,' || array_to_string(list_append(string_split({word_expr}, ''),"
        " '</w>'), ',,') || ',,'"
    )
    for x, y in FROZEN_MERGES:
        assert "," not in x + y, f"merge symbol contains delimiter: {(x, y)}"
        expr = f"replace({expr}, ',{x},,{y},', ',{x}{y},')"
    return expr


QUERIES["materialize_sequences_bpe"] = q_materialize_sequences_bpe
ORACLES["materialize_sequences_bpe"] = f"""
WITH words AS (
  SELECT doc_id, i AS wi, a[i] AS w
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
        FROM documents),
       LATERAL unnest(generate_series(1, len(a))) AS t(i)
  WHERE a[i] != ''),
wordseg AS (
  SELECT w, string_split({_bpe_seg_sql("w")}, ',,') AS seg
  FROM (SELECT DISTINCT w FROM words)),
postok AS (
  SELECT doc_id, wi, t.si, seg[t.si] AS tok
  FROM words JOIN wordseg USING (w),
       LATERAL unnest(generate_series(2, len(seg) - 1)) AS t(si)),
vocab AS (
  SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS tok_id
  FROM (SELECT DISTINCT tok FROM postok)),
ordered AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY wi, si) - 1 AS pos
  FROM postok),
doctok AS (
  SELECT doc_id, count(*) AS n FROM ordered GROUP BY doc_id),
offs AS (
  SELECT doc_id,
         CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
  FROM doctok),
gpos AS (
  SELECT o.doc_id, v.tok_id, f.s + o.pos AS g
  FROM ordered o JOIN offs f USING (doc_id) JOIN vocab v USING (tok))
SELECT CAST(g // 256 AS BIGINT) AS seq_id, count(*)::INT AS n,
       string_agg(tok_id::VARCHAR, ' ' ORDER BY g) AS ids
FROM gpos GROUP BY g // 256 ORDER BY seq_id
"""


def q_select_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 40k-BPE-token budget with the longest documents — the
    budget selector driven by real tokenizer counts."""
    from event_pipeline_spark.operators.prefix import select_token_budget

    out = select_token_budget(
        _bpe_doc_tokens(spark, sf_dir),
        score_col="n_tokens",
        tokens_col="n_tokens",
        budget=40_000,
        id_col="doc_id",
    )
    return out.select("doc_id", "n_tokens", "running_tokens").orderBy("doc_id")


QUERIES["select_token_budget_bpe"] = q_select_token_budget_bpe
ORACLES["select_token_budget_bpe"] = f"""
WITH {_BPE_DOC_TOKENS_CTE},
ranked AS (
  SELECT doc_id, n AS n_tokens,
         CAST(SUM(n) OVER (ORDER BY n DESC, doc_id) AS BIGINT)
             AS running_tokens
  FROM doctok)
SELECT doc_id, n_tokens, running_tokens
FROM ranked WHERE running_tokens <= 40000
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (round 7): the standard tokenizer-
# efficiency diagnostic — how many BPE tokens per whitespace word and
# how many text bytes per BPE token each language pays under a frozen
# tokenizer. Multilingual-tokenizer reports (e.g. the public fertility
# tables in tokenizer papers) use exactly these two ratios to spot
# languages a vocabulary underserves. Composes the frozen merge table
# with the corpus's lang labels; everything reduces to per-language
# integer sums, so the oracle is exact.
# ---------------------------------------------------------------------------


def tokenizer_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(lang, n_docs, n_words, n_tokens, n_bytes, fertility,
    bytes_per_token): per-language totals (exact ints) and ratios
    (rounded 6) under the given merge table."""
    toks = apply_bpe(df, text_col, merges, id_col=id_col).select(
        F.col("id").alias(id_col), F.col("n_tokens").cast("long").alias("_nt")
    )
    words = F.size(
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    ).cast("long")
    per_doc = df.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        words.alias("_nw"),
        F.octet_length(text_col).cast("long").alias("_nb"),
    ).join(toks, id_col)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("n_words"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_nb").alias("n_bytes"),
        F.round(F.sum("_nt") / F.sum("_nw"), 6).alias("fertility"),
        F.round(F.sum("_nb") / F.sum("_nt"), 6).alias("bytes_per_token"),
    )


def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-tokenizer fertility over the documents table's lang
    ground truth."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    return tokenizer_fertility(docs, FROZEN_MERGES).orderBy("lang")


QUERIES["bpe_fertility_by_lang"] = q_bpe_fertility_by_lang
ORACLES["bpe_fertility_by_lang"] = f"""
WITH {_BPE_DOC_TOKENS_CTE},
perdoc AS (
  SELECT d.doc_id, d.lang,
         len(list_filter(string_split_regex(trim(d.text), '\\s+'),
                         x -> x != '')) AS nw,
         octet_length(encode(d.text)) AS nb,
         t.n AS nt
  FROM documents d JOIN doctok t USING (doc_id))
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(nb) AS BIGINT) AS n_bytes,
       round(sum(nt) / CAST(sum(nw) AS DOUBLE), 6) AS fertility,
       round(sum(nb) / CAST(sum(nt) AS DOUBLE), 6) AS bytes_per_token
FROM perdoc GROUP BY lang ORDER BY lang
"""


# -- BPE training oracle (the train loop recomputed by DuckDB) ---------------
#
# q_bpe_merges was rows-only ("iterative driver-side algorithm with no
# SQL analogue") — but the kmeans_exact precedent shows training loops
# CAN be unrolled into the oracle when every step is deterministic.
# Each of the 40 iterations is three chained CTEs: weighted adjacent-
# pair counts over the current per-word symbol states, the argmax pair
# (count DESC, then lexical — binary collation == Python tuple order on
# this ASCII corpus), and a state update via the same ',x,,y,'->',xy,'
# replace proven scan-equivalent by the 504-word segmentation test.
# The vocab is bounded (31 distinct words on this corpus; the Spark
# side's driver loop is bounded by the same top_k contract), so 120
# generated CTEs stay cheap.


def _bpe_train_oracle(num_merges: int) -> str:
    ctes = [
        """v AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
        FROM documents)
  WHERE word != '' GROUP BY word)""",
        f"""s0 AS MATERIALIZED (
  SELECT ',,' || array_to_string(
             list_append(string_split(word, ''), '{EOW}'), ',,')
         || ',,' AS st, cnt
  FROM v)""",
    ]
    picks = []
    for i in range(1, num_merges + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"""p{i} AS (
  SELECT sy[j] AS a, sy[j + 1] AS b, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT string_split(st, ',,') AS sy, cnt FROM {prev}),
       LATERAL unnest(generate_series(2, len(sy) - 2)) AS t(j)
  GROUP BY sy[j], sy[j + 1])"""
        )
        ctes.append(
            f"b{i} AS MATERIALIZED "
            f"(SELECT a, b FROM p{i} ORDER BY c DESC, a, b LIMIT 1)"
        )
        ctes.append(
            # MATERIALIZED: each state is referenced twice (next pair-count
        # and next update); DuckDB would otherwise inline the chain into
        # a 2^40-leaf expression tree
        f"""s{i} AS MATERIALIZED (
  SELECT replace(st, ',' || b{i}.a || ',,' || b{i}.b || ',',
                 ',' || b{i}.a || b{i}.b || ',') AS st, cnt
  FROM {prev} CROSS JOIN b{i})"""
        )
        picks.append(
            f'SELECT {i - 1} AS "rank", a AS "left", b AS "right" FROM b{i}'
        )
    union = "\nUNION ALL\n".join(picks)
    return (
        "WITH " + ",\n".join(ctes) + "\n" + union + '\nORDER BY "rank"'
    )


ORACLES["bpe_merges"] = _bpe_train_oracle(40)


# ---------------------------------------------------------------------------
# Tokenizer-aware temperature mixture: the sample_temperature_budget
# allocation driven by real BPE token counts under the frozen merge
# table (the production contract — budgets are spent in TOKENIZER
# tokens, not whitespace words). Same integer-unit weight math; the
# oracle recomputes the BPE segmentation via the replace chain and then
# the full allocation.
# ---------------------------------------------------------------------------

_TEMP_BPE_DENOM = 10


def q_sample_temperature_budget_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from event_pipeline_spark.operators.sampling import (
        temperature_token_budget,
    )

    src = _docs(spark, sf_dir).select("doc_id", "source")
    counted = _bpe_doc_tokens(spark, sf_dir).join(src, "doc_id")
    out = temperature_token_budget(
        counted,
        "source",
        "doc_id",
        tokens_col="n_tokens",
        budget_denom=_TEMP_BPE_DENOM,
    )
    return out.select(
        "doc_id", "source", "n_tokens", "cum_tokens", "src_budget"
    ).orderBy("doc_id")


QUERIES["sample_temperature_budget_bpe"] = q_sample_temperature_budget_bpe
ORACLES["sample_temperature_budget_bpe"] = f"""
WITH {_BPE_DOC_TOKENS_CTE},
toks AS (
  SELECT d.doc_id, doc.source, d.n AS n_tokens
  FROM doctok d JOIN documents doc USING (doc_id)),
srcm AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok
  FROM toks GROUP BY source),
tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM srcm),
w AS (
  SELECT source, tok, t,
         CAST(floor(sqrt(tok::DOUBLE / t::DOUBLE) * 1e7 + 0.5) AS BIGINT)
             AS wu
  FROM srcm, tot),
nrm AS (SELECT CAST(sum(wu) AS BIGINT) AS n FROM w),
b AS (
  SELECT source, ((t // {_TEMP_BPE_DENOM}) * wu) // n AS src_budget
  FROM w, nrm),
ranked AS (
  SELECT t.doc_id, t.source, t.n_tokens,
         CAST(sum(t.n_tokens) OVER (
             PARTITION BY t.source
             ORDER BY substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8),
                      t.doc_id) AS BIGINT) AS cum_tokens
  FROM toks t)
SELECT r.doc_id, r.source, r.n_tokens, r.cum_tokens, b.src_budget
FROM ranked r JOIN b USING (source)
WHERE r.cum_tokens <= b.src_budget
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 family) — round 11
#
# Oracle story: for text whose every char is printable ASCII (including
# space), the bytes_to_unicode alphabet is the IDENTITY on word chars
# (words never contain the space byte), so byte-level initial symbols
# == the word's chars, with Ġ prepended to every non-initial word (the
# GPT-2 space-attaches-forward convention apply_bpe implements). The
# same replace-chain rank-order equivalence as FROZEN_MERGES then
# applies. Non-ASCII docs are filtered IDENTICALLY on both engines
# (same regex class, Java and RE2 agree on '^[ -~]*$'), keeping the
# oracle exact without expressing the multi-byte remap in SQL — the
# multi-byte path is covered by UTF-8 round-trip unit tests
# (tests/test_tokenizer_artifacts.py).
# ---------------------------------------------------------------------------

#: GPT-2-style byte-level merges over the mapped alphabet (Ġ = byte
#: 0x20), hand-frozen in dependency order: common English fragments
#: with their word-initial Ġ forms — the shape a real GPT-2 table has.
FROZEN_BYTE_MERGES: list[tuple[str, str]] = [
    ("Ġ", "t"), ("t", "h"), ("th", "e"), ("Ġt", "h"), ("Ġth", "e"),
    ("Ġ", "a"), ("a", "n"), ("an", "d"), ("Ġa", "n"), ("Ġan", "d"),
    ("i", "n"), ("Ġ", "i"), ("Ġi", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("o", "r"), ("Ġ", "o"), ("Ġo", "f"), ("Ġ", "s"),
    ("Ġ", "w"), ("e", "s"), ("a", "t"), ("Ġw", "h"), ("s", "t"),
    ("e", "n"), ("o", "u"), ("Ġ", "c"), ("Ġc", "o"), ("a", "r"),
]


def q_bpe_byte_level_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASCII documents tokenized with the frozen BYTE-LEVEL merge
    table — Ġ-marked non-initial words, full token strings compared."""
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .where(F.col("text").rlike(r"^[ -~]*$"))
    )
    out = apply_bpe(docs, "text", FROZEN_BYTE_MERGES, byte_level=True)
    return (
        out.where(F.col("n_tokens") > 0)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.array_join("tokens", " ").alias("toks"),
        )
        .orderBy("doc_id")
    )


def _byte_seg_sql() -> str:
    """DuckDB expression: replace-chain byte-level segmentation of one
    (word, lead) pair — symbols are the word's chars plus an optional
    leading Ġ."""
    expr = (
        "',,' || CASE WHEN lead THEN 'Ġ,,' ELSE '' END || "
        "array_to_string(string_split(w, ''), ',,') || ',,'"
    )
    for x, y in FROZEN_BYTE_MERGES:
        assert "," not in x + y, f"merge symbol contains delimiter: {(x, y)}"
        expr = f"replace({expr}, ',{x},,{y},', ',{x}{y},')"
    return expr


QUERIES["bpe_byte_level_tokens"] = q_bpe_byte_level_tokens
ORACLES["bpe_byte_level_tokens"] = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE regexp_matches(text, '^[ -~]*$')),
words AS (
  SELECT doc_id, i AS wi, a[i] AS w
  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS a FROM docs),
       LATERAL unnest(generate_series(1, len(a))) AS t(i)
  WHERE a[i] != ''),
lwords AS (
  SELECT doc_id, wi, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY wi) > 1 AS lead
  FROM words),
wordseg AS (
  SELECT w, lead, string_split({_byte_seg_sql()}, ',,') AS seg
  FROM (SELECT DISTINCT w, lead FROM lwords)),
postok AS (
  SELECT l.doc_id, l.wi, t.si, seg[t.si] AS tok
  FROM lwords l JOIN wordseg s USING (w, lead),
       LATERAL unnest(generate_series(2, len(seg) - 1)) AS t(si))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       string_agg(tok, ' ' ORDER BY wi, si) AS toks
FROM postok GROUP BY doc_id ORDER BY doc_id
"""
