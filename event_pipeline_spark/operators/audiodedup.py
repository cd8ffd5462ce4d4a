"""Perceptual audio near-duplicate detection (band-energy fingerprint).

The audio analogue of ``operators/imagededup.py``: re-encoded,
volume-scaled, or bit-depth-converted copies of a recording differ at
the byte level but must dedup together in multimodal corpus curation.
The public recipe is the Haitsma-Kalker fingerprint family: bits are
the signs of band-energy DIFFERENCES across time and frequency, which
cancels anything uniform over the clip (gain, bit-depth scaling).

Deterministic integer math end to end so an independent scalar
implementation pins the bits exactly (the ``make_audio_fixture``
posture proven out for images):

1. decode WAV (pure-numpy, ``codecs.decode_wav``), normalize samples
   to the int16 grid (int32 >> 16, uint8 recentred << 8, float
   round(x*32767)), SUM channels (integer-exact; a positive scale
   factor never flips a difference sign);
2. nine 128-sample frames evenly spaced over the clip
   (start_f = f*(n-128)//8 — duration-relative, so leading/trailing
   differences matter less);
3. per frame, a 128-point DCT-II quantized to Q = round(B * 2^7)
   (|Q| <= 16, |C| < 2^27, energies < 2^57 — int64-exact, no floats);
   nine 8-coefficient bands over k = 1..72 (DC dropped);
4. bit(f, m) = [(E[f,m]-E[f,m+1]) - (E[f-1,m]-E[f-1,m+1])] > 0 for
   f = 1..8, m = 0..7 — 64 bits, MSB-first, signed int64.

Candidate pairs reuse the pigeonhole Hamming-block join
(``operators/dedup.py::hamming_block_pairs``); after the one
Arrow-batched decode+fingerprint pass only 8-byte signatures move.

Registered queries run over a pinned fixture parquet of real WAV
payloads (PCM16 / PCM16-half-volume / float32 / uint8 re-encodes from
the repo's own encoder) with expected fingerprints computed at build
time by an independent scalar-loop implementation —
``tests/fixtures/make_audio_fixture.py``. The pair oracle recomputes
the full <= d relation in DuckDB via ``bit_count(xor(...))``.

Reference: the reference repo has no audio dedup; [ext] LLM-pipeline
surface per SURVEY §2 (multimodal curation family).
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

FIXTURE_PATH = str(
    Path(__file__).resolve().parents[2] / "tests/fixtures/audio.parquet"
)

_FRAME = 128
_N_FRAMES = 9
_N_BANDS = 9  # 8-coefficient bands over k = 1..72
_QSCALE = 1 << 7


def _dct_q128() -> np.ndarray:
    """Quantized 128-point DCT-II rows k = 1..72 (DC row dropped)."""
    k = np.arange(1, _N_BANDS * 8 + 1)[:, None]
    t = np.arange(_FRAME)[None, :]
    b = np.sqrt(2.0 / _FRAME) * np.cos(np.pi * (2 * t + 1) * k / (2 * _FRAME))
    return np.round(b * _QSCALE).astype(np.int64)


_DCT_Q128 = _dct_q128()


def _normalize(samples: np.ndarray) -> np.ndarray:
    """(n, channels) any WAV dtype → (n,) int64 channel sum on the
    int16 grid."""
    if samples.dtype == np.int16:
        s = samples.astype(np.int64)
    elif samples.dtype == np.int32:
        s = samples.astype(np.int64) >> 16
    elif samples.dtype == np.uint8:
        s = (samples.astype(np.int64) - 128) << 8
    else:  # float32 / float64
        s = np.round(samples.astype(np.float64) * 32767.0).astype(np.int64)
    return s.sum(axis=1)


def afp64(payload: bytes) -> int:
    """Signed-int64 audio fingerprint of one WAV payload (module doc).

    Raises ValueError for clips shorter than one frame (128 samples)."""
    from event_pipeline_spark.operators import codecs

    _, samples = codecs.decode_wav(bytes(payload))
    s = _normalize(samples)
    n = len(s)
    if n < _FRAME:
        raise ValueError(f"clip too short for fingerprint: {n} < {_FRAME}")
    frames = np.stack(
        [
            s[f * (n - _FRAME) // (_N_FRAMES - 1):][:_FRAME]
            for f in range(_N_FRAMES)
        ]
    )
    c = frames @ _DCT_Q128.T  # (9 frames, 72 coeffs) int64-exact
    e = (c * c).reshape(_N_FRAMES, _N_BANDS, 8).sum(axis=2)
    h = 0
    for f in range(1, _N_FRAMES):
        for m in range(8):
            df = (e[f, m] - e[f, m + 1]) - (e[f - 1, m] - e[f - 1, m + 1])
            h = (h << 1) | (1 if df > 0 else 0)
    return h - (1 << 64) if h >= (1 << 63) else h


def afp_audio(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(clip_id, afp): one Arrow-batched decode+fingerprint pass."""

    @once_per_row
    @pandas_udf("long")
    def _fp(payload: pd.Series) -> pd.Series:
        return pd.Series([afp64(p) for p in payload], dtype="int64")

    return df.select(
        F.col(id_col).alias("clip_id"),
        _fp(F.col(payload_col)).alias("afp"),
    )


def audio_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    payload_col: str = "payload",
    max_hamming: int = 10,
) -> DataFrame:
    """(id_a, id_b, hamming) perceptually-near-duplicate clip pairs
    via the shared pigeonhole block join."""
    from event_pipeline_spark.operators.dedup import hamming_block_pairs

    sigs = afp_audio(df, id_col=id_col, payload_col=payload_col).select(
        F.col("clip_id").alias("_id"), F.col("afp").alias("_sig")
    )
    return hamming_block_pairs(sigs, max_hamming=max_hamming)


# -- registered queries ------------------------------------------------------

_MAX_HAMMING = 10


def q_mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint the pinned real WAV payloads; the oracle reads the
    independently computed expected values from the same parquet."""
    clips = spark.read.parquet(FIXTURE_PATH)
    return afp_audio(clips).orderBy("clip_id")


QUERIES["mm_audio_fingerprint"] = q_mm_audio_fingerprint
ORACLES["mm_audio_fingerprint"] = f"""
    SELECT clip_id, expected_afp AS afp
    FROM read_parquet('{FIXTURE_PATH}')
    ORDER BY clip_id
"""


def q_mm_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clip pairs; DuckDB recomputes the <= d relation
    from the pinned fingerprints."""
    clips = spark.read.parquet(FIXTURE_PATH)
    return audio_near_duplicates(clips, max_hamming=_MAX_HAMMING).orderBy(
        "id_a", "id_b"
    )


QUERIES["mm_audio_neardup"] = q_mm_audio_neardup
ORACLES["mm_audio_neardup"] = f"""
    WITH sigs AS (
      SELECT clip_id, expected_afp AS s
      FROM read_parquet('{FIXTURE_PATH}'))
    SELECT l.clip_id AS id_a, r.clip_id AS id_b,
           CAST(bit_count(xor(l.s, r.s)) AS INT) AS hamming
    FROM sigs l JOIN sigs r ON l.clip_id < r.clip_id
    WHERE bit_count(xor(l.s, r.s)) <= {_MAX_HAMMING}
    ORDER BY id_a, id_b
"""
