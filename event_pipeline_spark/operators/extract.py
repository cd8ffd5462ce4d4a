"""HTML -> main-text boilerplate extraction.

The first stage of every web-corpus training-data pipeline: strip
markup, drop script/style/comment content, segment into block-level
units, and classify each block as CONTENT vs BOILERPLATE by the two
public density heuristics every extractor in the readability/jusText
family shares (Pomikalek's jusText thesis; Arc90 Readability):

- **link density** — chars inside ``<a>`` / total chars; navigation,
  footers and "related links" rails are link-saturated,
- **text length** — boilerplate blocks are short; real paragraphs are
  long (a short heading is still kept when it directly precedes a
  content block).

Everything upstream of the parse is JVM-side; the parse itself is one
Arrow-batched pandas UDF over the stdlib ``html.parser`` (tolerant of
malformed markup, no external deps) — linear in document length, no
shuffle, no state: at 100 TB this is a pure map stage that scales with
executors and leaves column pruning untouched.

The UDF is marked ``once_per_row`` (``operators/udf.py``): a caller's
filter on the text, such as ``where(length(text) > 0)``, would
otherwise be pushed below the extraction and the plan would parse
every page twice. The price is that a filter on another column (the
curation example's ``doc_id % 2 = 0`` training split) runs after the
parse rather than at the scan.

Registered queries:
- ``extract_html_text`` [oracle] — wraps every ``documents.text`` in a
  deterministic boilerplate shell (nav/script/style/footer) JVM-side,
  extracts, and must recover exactly the whitespace-normalized
  original (DuckDB recomputes the expectation directly from
  ``documents``) — an exact, sf-scaling oracle for the whole
  strip+segment+classify path.
- ``extract_html_fixture`` [oracle] — handcrafted HTML pages with
  hand-written expected text, pinned as parquet under
  ``tests/fixtures/``; DuckDB reads the expected column from the same
  file.

Reference parity note: the reference repo has no HTML stage; this is a
north-star LLM-pipeline operator (VERDICT r4 task 1).
"""

from __future__ import annotations

import html as _html
import re
from html.parser import HTMLParser
from pathlib import Path

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from event_pipeline_spark.operators.udf import once_per_row

QUERIES = {}
ORACLES = {}

#: pinned fixture parquet, located relative to the repo checkout
FIXTURE_PATH = str(
    Path(__file__).resolve().parents[2] / "tests/fixtures/html_pages.parquet"
)

#: content of these elements is dropped wholesale (not rendered text)
_DROP_CONTENT = {"script", "style", "noscript", "template", "svg", "head",
                 "iframe", "object", "textarea"}

#: tags that terminate the current block (HTML block-level elements)
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "aside", "header", "footer",
    "nav", "ul", "ol", "li", "dl", "dt", "dd", "table", "tr", "td", "th",
    "thead", "tbody", "blockquote", "pre", "figure", "figcaption", "form",
    "fieldset", "hr", "h1", "h2", "h3", "h4", "h5", "h6", "body", "html",
}

_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

_WS = re.compile(r"\s+")


class _Block:
    __slots__ = ("chars", "link_chars", "is_heading")

    def __init__(self, is_heading: bool = False):
        self.chars: list[str] = []
        self.link_chars = 0
        self.is_heading = is_heading

    @property
    def text(self) -> str:
        return _WS.sub(" ", "".join(self.chars)).strip()

    @property
    def link_density(self) -> float:
        n = len("".join(self.chars).strip())
        return (self.link_chars / n) if n else 0.0


class _BlockParser(HTMLParser):
    """Segment an HTML document into text blocks with link-char counts.

    stdlib ``html.parser`` recovers from unclosed/misnested tags, which
    is the norm on the open web; entities are unescaped by the base
    class (convert_charrefs=True default).
    """

    def __init__(self) -> None:
        super().__init__()
        self.blocks: list[_Block] = []
        self._cur = _Block()
        self._drop_stack: list[str] = []
        self._link_depth = 0

    @property
    def _drop_depth(self) -> int:
        return len(self._drop_stack)

    # -- block lifecycle -----------------------------------------------

    def _flush(self, next_is_heading: bool = False) -> None:
        if self._cur.text:
            self.blocks.append(self._cur)
        self._cur = _Block(is_heading=next_is_heading)

    def handle_starttag(self, tag, attrs):
        if tag == "body" and "head" in self._drop_stack:
            # real-world malformed page: <body> opened while <head> was
            # never closed — html.parser does not auto-close, and
            # without this the whole document would be dropped
            self._drop_stack = [t for t in self._drop_stack if t != "head"]
        if tag in _DROP_CONTENT:
            self._drop_stack.append(tag)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if tag == "br":
            self._cur.chars.append(" ")
        elif tag in _BLOCK_TAGS:
            self._flush(next_is_heading=tag in _HEADINGS)

    def handle_endtag(self, tag):
        if tag in _DROP_CONTENT:
            if tag in self._drop_stack:
                # pop up to and including the matching open (tolerates
                # misnested drops)
                while self._drop_stack and self._drop_stack.pop() != tag:
                    pass
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        if tag == "br" and not self._drop_depth:
            self._cur.chars.append(" ")

    def handle_data(self, data):
        if self._drop_depth or not data:
            return
        self._cur.chars.append(data)
        if self._link_depth:
            self._cur.link_chars += len(data.strip())


def _extract_one(
    doc: str, min_text_len: int, max_link_density: float
) -> str:
    """Parse + classify one document; returns kept blocks joined by
    newline. A document with no markup is a single block and passes
    through (whitespace-normalized) when it meets the content rules."""
    p = _BlockParser()
    try:
        p.feed(doc)
        p.close()
    except Exception:
        return ""  # pathological markup: treat as no extractable text
    p._flush()
    blocks = p.blocks
    kept: list[str] = []
    for i, b in enumerate(blocks):
        t = b.text
        if not t:
            continue
        if b.link_density > max_link_density:
            continue
        if len(t) >= min_text_len:
            kept.append(t)
        elif b.is_heading and i + 1 < len(blocks):
            # short heading directly above a content block is kept
            nxt = blocks[i + 1]
            if (
                len(nxt.text) >= min_text_len
                and nxt.link_density <= max_link_density
            ):
                kept.append(t)
    return "\n".join(kept)


def extract_html_text(
    html_col: Column,
    *,
    min_text_len: int = 25,
    max_link_density: float = 0.33,
) -> Column:
    """Column of extracted main text (see module docstring for the
    heuristics). NULL html -> NULL out; no extractable content -> ''.

    Marked ``once_per_row``, so a filter on the result leaves one parse
    per row in each stage that reads it (module docstring)."""

    @once_per_row
    @pandas_udf("string")
    def _extract(s: pd.Series) -> pd.Series:
        return s.map(
            lambda d: None
            if d is None
            else _extract_one(d, min_text_len, max_link_density)
        )

    return _extract(html_col)


# -- deterministic boilerplate shell (for the sf-scaling oracle) -------------


def _escape_html(col: Column) -> Column:
    """JVM-side minimal HTML escape (&, <, > — order matters)."""
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def wrap_in_boilerplate(text_col: Column, id_col: Column) -> Column:
    """A realistic page shell: head with script/style, a link-saturated
    nav, the content paragraph, and a link-only footer. Built entirely
    with JVM string functions."""
    return F.concat(
        F.lit(
            "<html><head><title>Doc "
        ),
        id_col.cast("string"),
        F.lit(
            "</title><script>var n=window.n||0;track(n);</script>"
            "<style>p{margin:0} .nav a{color:blue}</style></head><body>"
            '<div class="nav"><a href="/">Home</a> <a href="/docs">Docs'
            '</a> <a href="/about">About</a> <a href="/contact">Contact'
            "</a></div><p>"
        ),
        _escape_html(text_col),
        F.lit(
            '</p><div class="footer"><a href="/privacy">Privacy</a> '
            '<a href="/terms">Terms</a></div><!-- generated -->'
            "</body></html>"
        ),
    )


# -- registered queries ------------------------------------------------------


def q_extract_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip oracle: shell(text) -> extractor must yield exactly
    the whitespace-normalized original text for every document (the
    nav/footer/script/style boilerplate must all be dropped, entities
    un-escaped)."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    page = wrap_in_boilerplate(F.col("text"), F.col("doc_id"))
    return (
        docs.select(
            "doc_id",
            extract_html_text(page).alias("extracted"),
        )
        .orderBy("doc_id")
    )


QUERIES["extract_html_text"] = q_extract_html_text
ORACLES["extract_html_text"] = """
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
      FROM documents)
    SELECT doc_id,
           CASE WHEN length(t) >= 25 THEN t ELSE '' END AS extracted
    FROM norm
    ORDER BY doc_id
"""


def q_extract_html_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned handcrafted pages (nested lists, tables, comments,
    entities, malformed nesting, link rails) vs hand-written expected
    text stored in the same parquet."""
    pages = spark.read.parquet(FIXTURE_PATH)
    return (
        pages.select(
            "page_id",
            extract_html_text(F.col("html")).alias("extracted"),
        )
        .orderBy("page_id")
    )


QUERIES["extract_html_fixture"] = q_extract_html_fixture
ORACLES["extract_html_fixture"] = f"""
    SELECT page_id, expected_text AS extracted
    FROM read_parquet('{FIXTURE_PATH}')
    ORDER BY page_id
"""
