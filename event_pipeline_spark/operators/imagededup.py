"""Perceptual image near-duplicate detection (dHash family).

Standard multimodal-corpus curation drops images that are *visually*
identical even when their bytes differ (re-encoded, brightness-shifted,
format-converted copies) — byte-level exact dedup misses all of them.
The public recipe (difference hash, as popularized by the pHash/
imagehash projects) is deterministic integer math end to end:

1. decode the payload (pure-numpy codecs, ``operators/codecs.py``);
2. integer luma (299·R + 587·G + 114·B — scale factor irrelevant,
   only comparisons matter);
3. nearest-neighbor resize to 9×8 (``codecs.resize_nearest``, the
   half-pixel-center gather already used by ``resize_images``);
4. one bit per adjacent-column pair: bit(y, x) = luma[y, x+1] >
   luma[y, x], packed row-major MSB-first into a signed int64.

Uniform brightness/contrast changes preserve every comparison, and
small lossy-codec perturbations flip only a few bits, so visually-same
images land within a small Hamming distance; candidate generation
reuses the pigeonhole Hamming-block join built for SimHash
(``operators/dedup.py::hamming_block_pairs``) — narrow (id, sig)
rows, one shuffle, no n².

Scale shape: decode+hash is one Arrow-batched ``pandas_udf`` pass per
payload (bytes cross the Python boundary once, in columnar batches —
keep ``arrow.maxRecordsPerBatch`` modest for MB-scale payloads); after
it, only 8-byte signatures move. The block join shuffles d+1 narrow
rows per image; the exact Hamming verify runs on the joined pairs.

The registered queries run over a pinned fixture parquet of REAL
encoded images (PNG/BMP/PPM/GIF/JPEG produced by the repo's own
encoders) whose expected hashes were computed at fixture-build time by
an independent scalar-loop implementation working on the pre-encode
pixel arrays (for the lossless formats — the encode→decode round trip
is exact; the JPEG row pins the decoder's output, documented in
``tests/fixtures/make_image_fixture.py``). The pair oracle recomputes
the full <=d relation in DuckDB from those pinned hashes via
``bit_count(xor(...))`` — the same external-recomputation posture as
the SimHash oracle.

Reference: the reference repo has no image dedup; this is [ext]
LLM-pipeline surface per SURVEY §2 (multimodal curation family).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from event_pipeline_spark.operators.udf import once_per_row

QUERIES = {}
ORACLES = {}

#: pinned fixture parquet, located relative to the repo checkout
FIXTURE_PATH = str(
    Path(__file__).resolve().parents[2] / "tests/fixtures/images.parquet"
)

_LUMA = np.array([299, 587, 114], dtype=np.int64)


def dhash64(payload: bytes, fmt: str) -> int:
    """Signed-int64 dHash of one encoded image (see module doc)."""
    from event_pipeline_spark.operators import codecs

    pixels = codecs.decode_image(bytes(payload), fmt)
    if pixels.ndim == 3:
        luma = pixels.astype(np.int64) @ _LUMA
    else:
        luma = pixels.astype(np.int64) * 1000
    g = codecs.resize_nearest(luma, 9, 8)
    bits = (g[:, 1:] > g[:, :-1]).reshape(64)
    h = 0
    for b in bits:  # 64 iterations, MSB-first
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= (1 << 63) else h


# -- pHash: DCT low-frequency sign structure --------------------------------
#
# dHash's weakness is tie-heavy content: large flat regions make the
# adjacent-column comparisons exact ties that lossy codecs perturb
# arbitrarily (measured 14-19 flipped bits on flat-palette GIFs at JPEG
# q90, vs <=1 on continuous-tone rows — see tests). The classic
# complement is pHash: compare each low-frequency DCT coefficient to
# the block's median, so bits encode global frequency structure rather
# than local pixel ties. Brightness shifts land entirely in the
# excluded DC term, so pHash is EXACTLY brightness-invariant.
#
# Everything is integer math so the fixture's independent scalar
# implementation (and any other engine) reproduces the bits exactly:
# the 32-point DCT-II basis is quantized to Q = round(B * 2^15), and
# the 8x8 low-frequency block is P = Q . luma32 . Q^T computed in
# int64 (|luma| < 2^18, |Q| <= 2^13, 32-term sums: |P| < 2^54 — no
# overflow, no floats, no tie ambiguity). 63 AC coefficients (DC
# dropped) compare against their exact median (sorted index 31),
# MSB-first into bits 62..0 of a non-negative int64.

_PHASH_SCALE = 1 << 15


def _dct_q() -> np.ndarray:
    """Quantized 32-point DCT-II basis: Q[u, y] = round(B[u, y]*2^15),
    B[0] = sqrt(1/32), B[u>0, y] = sqrt(2/32)*cos(pi*(2y+1)*u/64)."""
    u = np.arange(32)[:, None]
    y = np.arange(32)[None, :]
    b = np.sqrt(2.0 / 32.0) * np.cos(np.pi * (2 * y + 1) * u / 64.0)
    b[0, :] = np.sqrt(1.0 / 32.0)
    return np.round(b * _PHASH_SCALE).astype(np.int64)


_DCT_Q = _dct_q()


def phash64(payload: bytes, fmt: str) -> int:
    """Signed-int64 pHash of one encoded image (see section comment):
    63 low-frequency DCT sign-vs-median bits, always >= 0."""
    from event_pipeline_spark.operators import codecs

    pixels = codecs.decode_image(bytes(payload), fmt)
    if pixels.ndim == 3:
        luma = pixels.astype(np.int64) @ _LUMA
    else:
        luma = pixels.astype(np.int64) * 1000
    g = codecs.resize_nearest(luma, 32, 32)
    p = _DCT_Q @ g @ _DCT_Q.T  # exact int64
    ac = [int(p[u, v]) for u in range(8) for v in range(8) if (u, v) != (0, 0)]
    med = sorted(ac)[31]
    h = 0
    for c in ac:
        h = (h << 1) | (1 if c > med else 0)
    return h


_HASHERS = {"dhash": dhash64, "phash": phash64}


def _hash_images(df, hasher, out_name, id_col, payload_col, fmt_col):
    @once_per_row
    @pandas_udf("long")
    def _h(payload: pd.Series, fmt: pd.Series) -> pd.Series:
        return pd.Series(
            [hasher(p, f) for p, f in zip(payload, fmt)], dtype="int64"
        )

    return df.select(
        F.col(id_col).alias("img_id"),
        _h(F.col(payload_col), F.col(fmt_col)).alias(out_name),
    )


def dhash_images(
    df: DataFrame,
    *,
    id_col: str = "img_id",
    payload_col: str = "payload",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(img_id, dhash): one Arrow-batched decode+hash pass."""
    return _hash_images(df, dhash64, "dhash", id_col, payload_col, fmt_col)


def phash_images(
    df: DataFrame,
    *,
    id_col: str = "img_id",
    payload_col: str = "payload",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(img_id, phash): one Arrow-batched decode+hash pass."""
    return _hash_images(df, phash64, "phash", id_col, payload_col, fmt_col)


def image_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "img_id",
    payload_col: str = "payload",
    fmt_col: str = "fmt",
    max_hamming: int = 10,
    method: str = "dhash",
) -> DataFrame:
    """(id_a, id_b, hamming) pairs of visually-near-duplicate images
    within ``max_hamming`` bits (default 10 — the conventional
    threshold), via the shared pigeonhole block join. ``method`` picks
    the signature: 'dhash' (local gradient bits — cheapest) or 'phash'
    (DCT sign structure — robust on tie-heavy flat content)."""
    from event_pipeline_spark.operators.dedup import hamming_block_pairs

    sigs = _hash_images(
        df, _HASHERS[method], "_sig", id_col, payload_col, fmt_col
    ).select(F.col("img_id").alias("_id"), "_sig")
    return hamming_block_pairs(sigs, max_hamming=max_hamming)


# -- registered queries ------------------------------------------------------


def q_mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the pinned real encoded images and hash them; the oracle
    reads the independently-computed expected hashes from the same
    parquet."""
    imgs = spark.read.parquet(FIXTURE_PATH)
    return dhash_images(imgs).orderBy("img_id")


QUERIES["mm_image_dhash"] = q_mm_image_dhash
ORACLES["mm_image_dhash"] = f"""
    SELECT img_id, expected_hash AS dhash
    FROM read_parquet('{FIXTURE_PATH}')
    ORDER BY img_id
"""

_MAX_HAMMING = 10


def q_mm_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visually-near-duplicate pairs over the fixture; DuckDB
    recomputes the entire <= d relation from the pinned hashes."""
    imgs = spark.read.parquet(FIXTURE_PATH)
    return image_near_duplicates(imgs, max_hamming=_MAX_HAMMING).orderBy(
        "id_a", "id_b"
    )


QUERIES["mm_image_neardup"] = q_mm_image_neardup
ORACLES["mm_image_neardup"] = f"""
    WITH sigs AS (
      SELECT img_id, expected_hash AS s
      FROM read_parquet('{FIXTURE_PATH}'))
    SELECT l.img_id AS id_a, r.img_id AS id_b,
           CAST(bit_count(xor(l.s, r.s)) AS INT) AS hamming
    FROM sigs l JOIN sigs r ON l.img_id < r.img_id
    WHERE bit_count(xor(l.s, r.s)) <= {_MAX_HAMMING}
    ORDER BY id_a, id_b
"""


def q_mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-DCT pHash of the pinned images vs the independently
    computed expected values."""
    imgs = spark.read.parquet(FIXTURE_PATH)
    return phash_images(imgs).orderBy("img_id")


QUERIES["mm_image_phash"] = q_mm_image_phash
ORACLES["mm_image_phash"] = f"""
    SELECT img_id, expected_phash AS phash
    FROM read_parquet('{FIXTURE_PATH}')
    ORDER BY img_id
"""


def q_mm_image_neardup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash near-dup pairs; DuckDB recomputes the <= d relation from
    the pinned pHashes."""
    imgs = spark.read.parquet(FIXTURE_PATH)
    return image_near_duplicates(
        imgs, max_hamming=_MAX_HAMMING, method="phash"
    ).orderBy("id_a", "id_b")


QUERIES["mm_image_neardup_phash"] = q_mm_image_neardup_phash
ORACLES["mm_image_neardup_phash"] = f"""
    WITH sigs AS (
      SELECT img_id, expected_phash AS s
      FROM read_parquet('{FIXTURE_PATH}'))
    SELECT l.img_id AS id_a, r.img_id AS id_b,
           CAST(bit_count(xor(l.s, r.s)) AS INT) AS hamming
    FROM sigs l JOIN sigs r ON l.img_id < r.img_id
    WHERE bit_count(xor(l.s, r.s)) <= {_MAX_HAMMING}
    ORDER BY id_a, id_b
"""


def q_mm_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the pHash near-dup relation (the
    image analogue of ``dedup_clusters``): re-encodes, brightness
    shifts, and patch edits of one source image all collapse into one
    cluster labeled by its minimum id. Oracle: WITH RECURSIVE
    transitive closure over the pinned-hash <= d relation checks the
    distributed label-propagation fixpoint itself."""
    from event_pipeline_spark.operators.dedup import duplicate_clusters

    imgs = spark.read.parquet(FIXTURE_PATH)
    pairs = image_near_duplicates(
        imgs, max_hamming=_MAX_HAMMING, method="phash"
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    return duplicate_clusters(pairs).orderBy("id")


QUERIES["mm_image_clusters"] = q_mm_image_clusters
ORACLES["mm_image_clusters"] = f"""
WITH RECURSIVE sigs AS (
  SELECT img_id, expected_phash AS s
  FROM read_parquet('{FIXTURE_PATH}')),
pairs AS (
  SELECT l.img_id AS id_a, r.img_id AS id_b
  FROM sigs l JOIN sigs r ON l.img_id < r.img_id
  WHERE bit_count(xor(l.s, r.s)) <= {_MAX_HAMMING}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
SELECT a AS id, least(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a ORDER BY id
"""
