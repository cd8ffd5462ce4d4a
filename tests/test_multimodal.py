"""Multimodal plumbing: binary columns, Arrow-batched feature extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    documents_as_binary,
    extract_features,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    df = documents_as_binary(spark, sf_dir).cache()
    yield df
    df.unpersist()


def test_binary_payload_roundtrip(media, spark, sf_dir):
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    joined = media.join(docs, media.media_id == docs.doc_id).select(
        F.decode(F.col("content"), "utf-8").alias("roundtrip"), "text"
    )
    assert joined.where(F.col("roundtrip") != F.col("text")).count() == 0


def test_feature_extraction_deterministic(media):
    a = extract_features(media, fake=True).orderBy("media_id").collect()
    b = extract_features(media, fake=True).orderBy("media_id").collect()
    assert [r["features"] for r in a] == [r["features"] for r in b]
    assert all(len(r["features"]) == FEATURE_DIM for r in a)
    assert all(0.0 <= v < 1.0 for r in a for v in r["features"])


def test_feature_bytes_match_utf8_length(media):
    feats = extract_features(media, fake=True)
    joined = feats.join(media, "media_id").select(
        "n_bytes", F.length("content").alias("blen")
    )
    assert joined.where(F.col("n_bytes") != F.col("blen")).count() == 0


def test_real_decode_unsupported_format_raises(media):
    # the derived fixture's format is "raw" — not a decodable container,
    # so the non-fake path must fail loudly, not fake silently
    with pytest.raises(Exception) as exc_info:
        extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_resize_rewrites_metadata(media):
    out = resize_images(media, 224, 224).select("meta.width", "meta.height")
    rows = out.distinct().collect()
    assert rows == [type(rows[0])(width=224, height=224)]


def test_sample_frames_explodes(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x"), ("video", "mp4", None, None, 3000, "u"))],
        schema="media_id long, content binary, "
        "meta struct<media_type string, format string, width int,"
        " height int, duration_ms long, source_uri string>",
    )
    rows = sample_frames(df, every_ms=1000).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]


# ---------------------------------------------------------------------------
# real codecs (pure numpy: BMP / PPM / PGM / WAV) — operators/codecs.py
# ---------------------------------------------------------------------------


def _media_df(spark, rows):
    return spark.createDataFrame(
        rows,
        schema="media_id long, content binary, "
        "meta struct<media_type string, format string, width int,"
        " height int, duration_ms long, source_uri string>",
    )


def test_bmp_roundtrip_exact():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (16, 9)]:  # odd widths exercise row padding
        pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (codecs.decode_image(codecs.encode_bmp(pixels), "bmp") == pixels).all()


def test_ppm_pgm_roundtrip_exact():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(8)
    rgb = rng.integers(0, 256, size=(4, 7, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
    assert (codecs.decode_image(codecs.encode_ppm(rgb), "ppm") == rgb).all()
    assert (codecs.decode_image(codecs.encode_ppm(gray), "pgm") == gray).all()


def test_pnm_comment_header():
    from event_pipeline_spark.operators import codecs

    payload = b"P5\n# a comment\n2 2\n255\n" + bytes([0, 64, 128, 255])
    arr = codecs.decode_image(payload, "pgm")
    assert arr.tolist() == [[0, 64], [128, 255]]


def test_wav_roundtrip_exact():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    t = np.arange(800)
    sine = (np.sin(2 * np.pi * 440 * t / 8000) * 30000).astype(np.int16)
    stereo = np.stack([sine, -sine], axis=1)
    rate, decoded = codecs.decode_wav(codecs.encode_wav(stereo, 8000))
    assert rate == 8000 and (decoded == stereo).all()
    rate, mono = codecs.decode_wav(codecs.encode_wav(sine, 16000))
    assert rate == 16000 and mono.shape == (800, 1) and (mono[:, 0] == sine).all()


def test_resize_nearest_semantics():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    up = codecs.resize_nearest(img, 8, 8)
    assert up.shape == (8, 8)
    # each source pixel appears as a 2x2 block under half-pixel mapping
    assert (up[0:2, 0:2] == img[0, 0]).all() and (up[6:8, 6:8] == img[3, 3]).all()
    down = codecs.resize_nearest(img, 2, 2)
    assert down.shape == (2, 2) and (down == img[1::2, 1::2]).all()


def test_extract_features_real_image_and_audio(spark):
    import numpy as np

    from event_pipeline_spark.operators import codecs

    flat = np.full((8, 8, 3), 128, dtype=np.uint8)  # mid-gray: known stats
    bmp = codecs.encode_bmp(flat)
    wav = codecs.encode_wav(np.zeros(4000, dtype=np.int16), 8000)  # silence
    df = _media_df(
        spark,
        [
            (1, bytearray(bmp), ("image", "bmp", 8, 8, None, "u1")),
            (2, bytearray(wav), ("audio", "wav", None, None, 500, "u2")),
        ],
    )
    feats = {r["media_id"]: r for r in extract_features(df, fake=False).collect()}
    img = feats[1]["features"]
    assert img[0] == pytest.approx(128 / 255.0)  # channel means
    assert img[3] == pytest.approx(0.0, abs=1e-9)  # flat image: zero std
    assert len(img) == FEATURE_DIM
    aud = feats[2]["features"]
    assert aud[0] == pytest.approx(0.5)  # 4000 samples @ 8 kHz = 0.5 s
    assert aud[1] == pytest.approx(0.0, abs=1e-9)  # silence: zero rms
    assert feats[1]["n_bytes"] == len(bmp)


def test_resize_images_real_roundtrip(spark):
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(9)
    pixels = rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8)
    df = _media_df(
        spark,
        [
            (1, bytearray(codecs.encode_bmp(pixels)), ("image", "bmp", 12, 16, None, "u1")),
            (2, bytearray(codecs.encode_ppm(pixels)), ("image", "ppm", 12, 16, None, "u2")),
        ],
    )
    out = resize_images(df, 6, 8, fake=False).collect()
    for row in out:
        fmt = row["meta"]["format"]
        decoded = codecs.decode_image(bytes(row["content"]), fmt)
        assert decoded.shape == (8, 6, 3)
        assert (decoded == codecs.resize_nearest(pixels, 6, 8)).all()
        assert row["meta"]["width"] == 6 and row["meta"]["height"] == 8


def test_codec_roundtrips_property():
    """Property check: encode→decode is identity for arbitrary shapes,
    dtypes, and channel layouts the codecs claim to support."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from event_pipeline_spark.operators import codecs

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        seed=st.integers(0, 2**31 - 1),
        gray=st.booleans(),
    )
    def image_roundtrip(h, w, seed, gray):
        rng = np.random.default_rng(seed)
        if gray:
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            assert (codecs.decode_image(codecs.encode_ppm(img), "pgm") == img).all()
        else:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert (codecs.decode_image(codecs.encode_bmp(img), "bmp") == img).all()
            assert (codecs.decode_image(codecs.encode_ppm(img), "ppm") == img).all()

    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(1, 2000),
        channels=st.integers(1, 4),
        rate=st.sampled_from([8000, 16000, 44100]),
        dtype=st.sampled_from(["int16", "int32", "float32"]),
        seed=st.integers(0, 2**31 - 1),
    )
    def wav_roundtrip(n, channels, rate, dtype, seed):
        import numpy as np

        rng = np.random.default_rng(seed)
        if dtype.startswith("int"):
            info = np.iinfo(dtype)
            samples = rng.integers(
                info.min, info.max, size=(n, channels)
            ).astype(dtype)
        else:
            samples = rng.uniform(-1, 1, size=(n, channels)).astype(dtype)
        got_rate, got = codecs.decode_wav(codecs.encode_wav(samples, rate))
        assert got_rate == rate and (got == samples).all()

    image_roundtrip()
    wav_roundtrip()


# -- PNG codec (round 3: real compressed format, stdlib zlib) ----------------

def test_png_roundtrip_exact_all_shapes():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(7)
    for shape in [(13, 9), (8, 5, 3), (6, 4, 4)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        back = codecs.decode_image(codecs.encode_png(px), "png")
        assert back.shape == px.shape and (back == px).all(), shape


def _reference_unfilter(filters, filt_rows, w, ch):
    """Independent scalar implementation of PNG unfiltering (spec
    pseudocode, no numpy) — cross-checks the vectorized decoder."""
    stride = w * ch
    prev = [0] * stride
    out = []
    for f, line in zip(filters, filt_rows):
        cur = [0] * stride
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                rec = line[x]
            elif f == 1:
                rec = line[x] + a
            elif f == 2:
                rec = line[x] + b
            elif f == 3:
                rec = line[x] + (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec = line[x] + pred
            cur[x] = rec & 0xFF
        out.append(cur)
        prev = cur
    return out


def test_png_decode_every_filter_type_against_reference():
    """Hand-build a PNG whose five scanlines use filters 0..4 and check
    the decoder against an independent spec-pseudocode unfilterer."""
    import struct
    import zlib

    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.codecs import _png_chunk, _PNG_SIG

    rng = np.random.default_rng(11)
    w, h, ch = 6, 5, 3
    filters = [0, 1, 2, 3, 4]
    filt_rows = [list(rng.integers(0, 256, w * ch)) for _ in range(h)]
    raw = b"".join(
        bytes([f]) + bytes(row) for f, row in zip(filters, filt_rows)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    got = codecs.decode_image(payload, "png")
    want = np.array(
        _reference_unfilter(filters, filt_rows, w, ch), dtype=np.uint8
    ).reshape(h, w, ch)
    assert (got == want).all()


def test_png_rejects_what_it_cannot_decode():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.codecs import _png_chunk, _PNG_SIG

    with _pytest.raises(ValueError, match="signature"):
        codecs.decode_image(b"notapng", "png")
    # 16-bit is supported since r5: 2x2 RGB of zero samples decodes
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    deep = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + _png_chunk(b"IEND", b"")
    )
    px16 = codecs.decode_image(deep, "png")
    assert px16.shape == (2, 2, 3) and px16.dtype == np.uint16
    assert (px16 == 0).all()
    # sub-byte depths stay honestly gated
    ihdr4 = struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0)
    shallow = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr4)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 4))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="bit depth"):
        codecs.decode_image(shallow, "png")


def test_png_flows_through_multimodal_features(spark):
    """A PNG payload rides the binary-column pipeline end-to-end: REAL
    decode (fake=False) → per-image features in mapInPandas — the path
    that previously raised NotImplementedError for png."""
    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.multimodal import extract_features

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    payload = codecs.encode_png(px)
    df = spark.createDataFrame(
        [(1, bytearray(payload), {"format": "png"})],
        "media_id long, content binary, meta struct<format: string>",
    )
    row = extract_features(df, fake=False).first()
    assert row["n_bytes"] == len(payload)
    assert len(row["features"]) > 0 and all(
        f == f for f in row["features"]
    )  # real decode produced finite features, no NotImplementedError


# -- GIF codec (round 3: real LZW, both directions) --------------------------

def test_gif_roundtrip_exact():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (7, 3), dtype=np.uint8)
    px = pal[rng.integers(0, 7, (23, 17))]
    back = codecs.decode_image(codecs.encode_gif(px), "gif")
    assert back.shape == (23, 17, 3) and (back == px).all()


def test_gif_roundtrip_exercises_lzw_width_growth_and_reset():
    """A 250-color 200x180 image forces the LZW code width through every
    step up to 12 bits and past the 4096-entry dictionary reset."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, (250, 3), dtype=np.uint8)
    px = pal[rng.integers(0, 250, (200, 180))]
    data = codecs.encode_gif(px)
    assert (codecs.decode_image(data, "gif") == px).all()
    # random indices are LZW-incompressible; the bound here is only that
    # 12-bit codes cost at most ~2 bytes/pixel (sanity, not compression)
    assert len(data) < 2 * px.shape[0] * px.shape[1]
    # structured data, by contrast, must actually compress
    tile = pal[np.tile(np.arange(10).reshape(1, 10), (100, 18)) % 250]
    packed = codecs.encode_gif(tile)
    assert (codecs.decode_image(packed, "gif") == tile).all()
    assert len(packed) < tile.shape[0] * tile.shape[1] // 4


def test_gif_decodes_foreign_fixture():
    """The canonical 43-byte transparent-pixel GIF (a widely published
    byte string produced by other encoders) — pins wire-format interop,
    not just self-consistency."""
    from event_pipeline_spark.operators import codecs

    fixture = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff"
        b"!\xf9\x04\x01\x00\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    px = codecs.decode_image(fixture, "gif")
    assert px.shape == (1, 1, 3) and px.tolist() == [[[0, 0, 0]]]


def test_gif_rejects_too_many_colors():
    import numpy as np
    import pytest as _pytest

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)  # ~1600 colors
    with _pytest.raises(ValueError, match="256"):
        codecs.encode_gif(px)


# -- spectral audio features (round 3) ---------------------------------------

def test_spectral_features_find_known_tone(spark):
    """A synthesized 440 Hz sine must come back with dominant_hz ~440,
    centroid near it, and all its energy in the right band."""
    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.multimodal import (
        audio_spectral_features,
    )

    rate, secs = 8000, 1.0
    t = np.arange(int(rate * secs)) / rate
    tone = (np.sin(2 * np.pi * 440.0 * t) * 32000).astype(np.int16)
    payload = codecs.encode_wav(tone.reshape(-1, 1), rate)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, content binary"
    )
    row = audio_spectral_features(df).first()
    assert row["sample_rate"] == rate
    assert abs(row["duration_sec"] - secs) < 1e-6
    assert abs(row["dominant_hz"] - 440.0) < 2.0
    assert abs(row["spectral_centroid_hz"] - 440.0) < 15.0
    # 440 Hz lies in band 0 of 8 over [0, 4000): [0, 500)
    assert row["band_energy"][0] > 0.95
    assert abs(sum(row["band_energy"]) - 1.0) < 1e-6


def test_spectral_features_two_tones_pick_the_louder(spark):
    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.multimodal import (
        audio_spectral_features,
    )

    rate = 8000
    t = np.arange(rate) / rate
    mix = 0.9 * np.sin(2 * np.pi * 1500.0 * t) + 0.3 * np.sin(
        2 * np.pi * 300.0 * t
    )
    payload = codecs.encode_wav(
        (mix * 20000).astype(np.int16).reshape(-1, 1), rate
    )
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id long, content binary"
    )
    row = audio_spectral_features(df).first()
    assert abs(row["dominant_hz"] - 1500.0) < 2.0
    # band 3 of 8 over [0,4000) is [1500,2000) — boundary: 1500 lands there
    assert row["band_energy"][3] > 0.5


# -- JPEG codec (round 4: baseline sequential DCT, both directions) ----------

def test_jpeg_flat_blocks_round_trip_exactly():
    """Flat 8x8-aligned regions survive DCT+quantization exactly: only
    the DC coefficient is non-zero and high-quality quantization keeps
    it lossless."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    img = np.zeros((16, 32), np.uint8)
    img[:8] = 200
    img[8:] = 40
    back = codecs.decode_image(codecs.encode_jpeg(img, quality=95), "jpeg")
    assert back.shape == img.shape
    assert np.array_equal(back, img)


def test_jpeg_rgb_444_near_lossless_at_high_quality():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    x = np.linspace(0, 255, 40)
    rgb = np.stack(
        [np.tile(x, (32, 1)), np.tile(x[::-1], (32, 1)),
         np.full((32, 40), 90.0)],
        axis=-1,
    ).astype(np.uint8)
    data = codecs.encode_jpeg(rgb, quality=95)
    back = codecs.decode_image(data, "jpeg")
    assert back.shape == rgb.shape
    err = np.abs(back.astype(int) - rgb.astype(int))
    assert err.max() <= 2  # smooth gradients: near-lossless at q95
    assert len(data) < rgb.nbytes  # actually compressed


def test_jpeg_420_subsampling_and_odd_dimensions():
    """4:2:0 exercises the decoder's MCU interleave (4 Y blocks + Cb +
    Cr) and chroma upsample; odd dims exercise edge padding/cropping."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    grad = np.zeros((19, 21, 3), np.uint8)
    grad[..., 0] = np.linspace(20, 230, 21)[None, :]
    grad[..., 1] = np.linspace(240, 30, 19)[:, None]
    grad[..., 2] = 128
    data = codecs.encode_jpeg(grad, quality=92, subsample="420")
    back = codecs.decode_image(data, "jpeg")
    assert back.shape == grad.shape
    err = np.abs(back.astype(int) - grad.astype(int))
    assert err.mean() < 6  # chroma is quarter-res; luma stays tight
    y_in = 0.299 * grad[..., 0] + 0.587 * grad[..., 1] + 0.114 * grad[..., 2]
    y_out = 0.299 * back[..., 0] + 0.587 * back[..., 1] + 0.114 * back[..., 2]
    assert np.abs(y_in - y_out).max() <= 6


def test_jpeg_grayscale_and_quality_tradeoff():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    hi = codecs.encode_jpeg(img, quality=95)
    lo = codecs.encode_jpeg(img, quality=30)
    assert len(lo) < len(hi)  # harsher quantization compresses harder
    err_hi = np.abs(
        codecs.decode_image(hi, "jpeg").astype(int) - img.astype(int)
    ).mean()
    err_lo = np.abs(
        codecs.decode_image(lo, "jpeg").astype(int) - img.astype(int)
    ).mean()
    assert err_hi < err_lo  # and loses more signal


def test_jpeg_rejects_arithmetic_and_garbage():
    import numpy as np
    import pytest

    from event_pipeline_spark.operators import codecs

    data = bytearray(codecs.encode_jpeg(np.zeros((8, 8), np.uint8)))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC9  # rewrite SOF0 -> SOF9 (arithmetic coding)
    with pytest.raises(NotImplementedError, match="SOF"):
        codecs.decode_image(bytes(data), "jpeg")
    with pytest.raises(ValueError, match="SOI"):
        codecs.decode_image(b"not a jpeg at all", "jpeg")


def test_jpeg_flows_through_multimodal_features(spark):
    """JPEG payloads ride the fake=False feature path end-to-end —
    closing the r3 gate that raised NotImplementedError for jpeg."""
    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.multimodal import extract_features

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    payload = codecs.encode_jpeg(px, quality=85)
    df = spark.createDataFrame(
        [(1, bytearray(payload), {"format": "jpeg"})],
        "media_id long, content binary, meta struct<format: string>",
    )
    row = extract_features(df, fake=False).first()
    assert row["n_bytes"] == len(payload)
    assert len(row["features"]) > 0 and all(f == f for f in row["features"])


# -- AVI/MJPEG video (round 4: real container + per-frame JPEG) --------------

def test_avi_mjpeg_round_trip_preserves_frame_content():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    frames = []
    for i in range(8):
        f = np.zeros((16, 24, 3), np.uint8)
        f[..., 0] = 20 * i + 10  # distinct red level identifies the frame
        f[..., 2] = 128
        frames.append(f)
    avi = codecs.encode_avi_mjpeg(frames, fps=4, quality=95)
    fps, payloads = codecs.decode_avi_mjpeg(avi)
    assert fps == 4 and len(payloads) == 8
    for i, p in enumerate(payloads):
        img = codecs.decode_image(p, "jpeg")
        assert img.shape == (16, 24, 3)
        assert abs(int(img[..., 0].mean()) - (20 * i + 10)) <= 2

    import pytest

    with pytest.raises(ValueError, match="RIFF"):
        codecs.decode_avi_mjpeg(b"not a riff file")


def test_sample_frames_real_path_decodes_only_sampled_frames(spark):
    """fake=False parses the AVI, strides by every_ms against the
    container fps, and decodes just the sampled frames — verified by
    the per-frame luma landing in the output."""
    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.multimodal import sample_frames

    frames = []
    for i in range(10):  # 10 frames at 10 fps = 1 second of video
        f = np.full((8, 8), 10 + 25 * i, np.uint8)
        frames.append(f)
    avi = codecs.encode_avi_mjpeg(frames, fps=10, quality=95)
    df = spark.createDataFrame(
        [(7, bytearray(avi), {"format": "avi"})],
        "media_id long, content binary, meta struct<format: string>",
    )
    rows = sample_frames(df, every_ms=300, fake=False).collect()
    # 100 ms/frame, 300 ms stride -> frames 0, 3, 6, 9
    assert [(r["frame_idx"], r["ts_ms"]) for r in rows] == [
        (0, 0), (3, 300), (6, 600), (9, 900),
    ]
    assert all((r["height"], r["width"]) == (8, 8) for r in rows)
    lumas = [r["mean_luma"] for r in rows]
    assert [round(l) for l in lumas] == [10, 85, 160, 235]


# The 16x16 RGB logo JPEG shipped in CPython's imghdr test data —
# produced by a real-world encoder (standard Annex-K Huffman tables,
# JFIF, 4:2:0), so decoding it proves interop beyond our own encoder.
_PYTHON_JPG = bytes.fromhex(
    "ffd8ffe000104a46494600010101000100010000ffdb0043000302020202020302020203"
    "03030304060404040404080606050609080a0a090809090a0c0f0c0a0b0e0b09090d110d"
    "0e0f101011100a0c12131210130f101010ffdb00430103030304030408040408100b090b"
    "101010101010101010101010101010101010101010101010101010101010101010101010"
    "1010101010101010101010101010ffc00011080010001003012200021101031101ffc400"
    "160001010100000000000000000000000000070405ffc400241000010401040202030000"
    "0000000000000102030406050708121311220014093132ffc40015010101000000000000"
    "00000000000000000006ffc4002311000102050305000000000000000000000102110304"
    "05062100123115166181e1ffda000c03010002110311003f0014a6d26a1b73c1e61312d4"
    "951cf31163e42565beba5aec694540b1e520b254a51fd2cab8faf220ab963d976c9335e6"
    "9b77d7e66da71781a5571c7f1cea71e24b39d7e32253f21a69ded4714a38b482e84b892a"
    "71691ecd2d213bf1efb91a74aceea15a758ed548ac655b858b81857b21299867a96b94b9"
    "49654fb9c88529114b812af07ad9f23c807e55be0df662a140cce8e69a3d5cb743b3d77a"
    "6558b1d9512188bf64b8d3f1c3680429c0d0febb3c02e03c5407b4bdd97b54e627fb6edf"
    "9460148262138db8529828370589727960e432896fc3828ea7528cea208dbe78191f07ad"
    "7fffd9"
)


def test_jpeg_decodes_foreign_fixture():
    """A real-world encoder's baseline JPEG (CPython test data, 543
    bytes) decodes to the known 16x16 RGB image — exact corner pixel
    and mean pinned from the first successful decode."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    img = codecs.decode_image(_PYTHON_JPG, "jpeg")
    assert img.shape == (16, 16, 3) and img.dtype == np.uint8
    assert abs(float(img.mean()) - 92.182) < 0.05
    assert img[0, 0].tolist() == [0, 2, 7]
    assert img[8, 8].tolist() == [250, 235, 74]


# -- progressive JPEG (round 4: spectral selection + successive approx.) -----

def test_progressive_jpeg_decodes_identically_to_baseline():
    """The self-oracle: the progressive encoder delivers the SAME
    quantized coefficients as the baseline encoder via DC-first +
    band + refinement scans (EOBn runs, ZRL correction windows,
    successive approximation), so a correct progressive decode is
    pixel-identical to the baseline decode — across colorspaces,
    subsampling, and qualities."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(7)
    x = np.linspace(0, 255, 40)
    grad = np.stack(
        [np.tile(x, (32, 1)), np.tile(x[::-1], (32, 1)),
         np.full((32, 40), 90.0)], -1,
    ).astype(np.uint8)
    noise = rng.integers(0, 256, (48, 56, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (24, 40), dtype=np.uint8)

    cases = [
        (grad, dict(quality=90, subsample="444")),
        (grad, dict(quality=90, subsample="420")),
        (noise, dict(quality=30, subsample="420")),
        (noise, dict(quality=95, subsample="444")),
    ]
    for img, kw in cases:
        base = codecs.decode_image(codecs.encode_jpeg(img, **kw), "jpeg")
        prog = codecs.decode_image(
            codecs.encode_jpeg_progressive(img, **kw), "jpeg"
        )
        assert np.array_equal(base, prog), kw
    bg = codecs.decode_image(codecs.encode_jpeg(gray, quality=60), "jpeg")
    pg = codecs.decode_image(
        codecs.encode_jpeg_progressive(gray, quality=60), "jpeg"
    )
    assert np.array_equal(bg, pg)


def test_progressive_jpeg_decodes_foreign_photo():
    """A real-world progressive photo (rust embedded-book asset,
    libjpeg-encoded, 477x720, successive approximation) decodes with
    pinned dimensions, statistics, and sample pixels."""
    import os

    import numpy as np
    import pytest

    from event_pipeline_spark.operators import codecs

    path = ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/"
            "share/doc/rust/html/embedded-book/assets/f3.jpg")
    if not os.path.exists(path):
        pytest.skip("foreign progressive fixture not on this machine")
    img = codecs.decode_image(open(path, "rb").read(), "jpeg")
    assert img.shape == (477, 720, 3)
    assert abs(float(img.mean()) - 107.9) < 0.5
    assert img[0, 0].tolist() == [236, 240, 235]
    assert img[238, 360].tolist() == [80, 81, 79]


# -- codec property round-trips ----------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    seed=st.integers(0, 2**31),
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    mode=st.sampled_from(["gray", "rgb", "rgba"]),
)
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_property(seed, h, w, mode):
    """Any shape, any content: PNG encode->decode is the identity."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(seed)
    shape = {"gray": (h, w), "rgb": (h, w, 3), "rgba": (h, w, 4)}[mode]
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    back = codecs.decode_image(codecs.encode_png(img), "png")
    assert np.array_equal(back, img)


@given(seed=st.integers(0, 2**31), h=st.integers(1, 16), w=st.integers(1, 16))
@settings(max_examples=25, deadline=None)
def test_gif_roundtrip_property(seed, h, w):
    """Any palette-sized image: GIF LZW encode->decode is the identity."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (rng.integers(2, 17), 3), dtype=np.uint8)
    idx = rng.integers(0, len(palette), (h, w))
    img = palette[idx]
    back = codecs.decode_image(codecs.encode_gif(img), "gif")
    assert np.array_equal(back, img)


@given(seed=st.integers(0, 2**31), bh=st.integers(1, 3), bw=st.integers(1, 3))
@settings(max_examples=15, deadline=None)
def test_jpeg_flat_block_property(seed, bh, bw):
    """Flat 8x8-aligned blocks survive baseline AND progressive JPEG
    exactly, at any block-grid size and gray level."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(seed)
    img = np.zeros((bh * 8, bw * 8), np.uint8)
    for by in range(bh):
        for bx in range(bw):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = rng.integers(0, 256)
    for enc in (codecs.encode_jpeg, codecs.encode_jpeg_progressive):
        back = codecs.decode_image(enc(img, quality=97), "jpeg")
        assert np.array_equal(back, img)


def test_truncated_jpeg_raises_value_error():
    """decode_image promises ValueError on malformed payloads — a
    truncated stream must not leak struct.error/IndexError from the
    segment parser."""
    import numpy as np
    import pytest

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(11)
    good = codecs.encode_jpeg(rng.integers(0, 255, (16, 16, 3), dtype=np.uint8))
    for cut in (3, 5, len(good) // 2, len(good) - 4):
        with pytest.raises(ValueError):
            codecs.decode_image(good[:cut], "jpeg")
    # garbage after a valid SOI marker
    with pytest.raises(ValueError):
        codecs.decode_image(b"\xff\xd8\xff\xc0\x00\x03\x01", "jpeg")


def test_png_16bit_round_trips():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(21)
    for shape in ((5, 7), (6, 4, 3), (3, 3, 4)):
        px = rng.integers(0, 65536, size=shape, dtype=np.uint16)
        back = codecs.decode_image(codecs.encode_png(px), "png")
        assert back.dtype == np.uint16
        assert (back == px).all(), shape


def test_png_adam7_round_trips_all_geometries():
    """Adam7 pass geometry is the hard part: odd dims, dims smaller
    than the pass grid (empty passes), and exact 8x8 multiples."""
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(22)
    for shape in ((1, 1), (1, 9, 3), (3, 3), (7, 5, 3), (8, 8, 4),
                  (13, 11), (16, 24, 3), (2, 2)):
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        data = codecs.encode_png(px, interlace=True)
        back = codecs.decode_image(data, "png")
        assert (back == px).all(), shape
        # interlaced and sequential encodings decode identically
        seq = codecs.decode_image(codecs.encode_png(px), "png")
        assert (back == seq).all(), shape


def test_png_adam7_16bit_combined():
    import numpy as np

    from event_pipeline_spark.operators import codecs

    rng = np.random.default_rng(23)
    px = rng.integers(0, 65536, size=(13, 11, 3), dtype=np.uint16)
    back = codecs.decode_image(codecs.encode_png(px, interlace=True), "png")
    assert back.dtype == np.uint16 and (back == px).all()


def test_png_adam7_pass_layout_matches_spec_grid():
    """Independent check of the deinterlacer against the spec's 8x8
    pass grid: an image whose pixel value IS its spec pass number must
    come back exactly, and the first stored scanline must be pass 1
    (pixel (0,0))."""
    import numpy as np
    import zlib

    from event_pipeline_spark.operators import codecs

    grid = np.array(  # PNG spec §8.2 pass-number diagram
        [
            [1, 6, 4, 6, 2, 6, 4, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [5, 6, 5, 6, 5, 6, 5, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [3, 6, 4, 6, 3, 6, 4, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
            [5, 6, 5, 6, 5, 6, 5, 6],
            [7, 7, 7, 7, 7, 7, 7, 7],
        ],
        dtype=np.uint8,
    ) * 30
    data = codecs.encode_png(grid, interlace=True)
    assert (codecs.decode_image(data, "png") == grid).all()
    # raw stream ordering: first byte after the first filter byte is
    # the single pass-1 pixel (value 30)
    idat = b"".join(
        d for t, d in _iter_png_chunks(data) if t == b"IDAT"
    )
    raw = zlib.decompress(idat)
    assert raw[0] == 0 and raw[1] == 30


def _iter_png_chunks(data: bytes):
    import struct as _s

    pos = 8
    while pos + 8 <= len(data):
        (ln,) = _s.unpack(">I", data[pos : pos + 4])
        yield data[pos + 4 : pos + 8], data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln


def test_gif_interlace_round_trips_and_foreign_flip():
    """Interlaced GIF: encoder/decoder round-trip at odd heights, and
    an INDEPENDENTLY constructed interlaced file — a sequential
    encoding of the row-permuted image with the descriptor's interlace
    bit flipped on — must decode to the original."""
    import struct as _s

    import numpy as np

    from event_pipeline_spark.operators import codecs
    from event_pipeline_spark.operators.codecs import _gif_interlace_rows

    rng = np.random.default_rng(24)
    pal = rng.integers(0, 256, size=(32, 3), dtype=np.uint8)
    for h, w in ((1, 3), (4, 2), (9, 5), (16, 4), (23, 3)):
        px = pal[rng.integers(0, 32, size=(h, w))]
        back = codecs.decode_image(codecs.encode_gif(px, interlace=True), "gif")
        assert (back == px).all(), (h, w)

    # independent construction
    px = pal[rng.integers(0, 32, size=(13, 6))]
    permuted = px[_gif_interlace_rows(13)]  # rows in storage order
    data = bytearray(codecs.encode_gif(permuted))
    flags = data[10]
    gct_len = 3 * (2 << (flags & 0x07)) if flags & 0x80 else 0
    desc_at = 13 + gct_len
    assert data[desc_at] == 0x2C
    data[desc_at + 9] |= 0x40  # flip interlace bit in the descriptor
    assert (codecs.decode_image(bytes(data), "gif") == px).all()
