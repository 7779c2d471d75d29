"""Multimodal plumbing: binary payload columns through mapInPandas,
with REAL stdlib PNG/WAV decode kernels (extensions/codecs.py)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from aws_imdb_data_pipeline_spark.extensions.codecs import (
    _PNG_SIG,
    _chunk,
    decode_png,
    decode_wav_pcm16,
    encode_png,
    encode_wav_pcm16,
)
from aws_imdb_data_pipeline_spark.extensions.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    synthetic_media,
)


def test_extract_features_schema_and_rows(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 30
    by_kind = {r.kind for r in rows}
    assert by_kind == {"image", "audio", "video"}
    dims = {r.kind: r.feature_dim for r in rows}
    assert dims == {"image": 512, "audio": 128, "video": 768}


def test_payload_hash_deterministic(spark):
    media = synthetic_media(spark, n=12)
    h1 = {r.media_id: r.payload_hash for r in extract_features(media).collect()}
    h2 = {r.media_id: r.payload_hash for r in extract_features(media).collect()}
    assert h1 == h2
    assert len(set(h1.values())) == 12  # distinct payloads → distinct hashes


def test_real_png_decode_features(spark):
    """Image rows carry real PNGs; the kernel must recover exact
    dimensions and the numpy-computed mean luma."""
    media = synthetic_media(spark, n=30)
    rows = {r.media_id: r for r in extract_features(media).collect()}
    for i in range(0, 30, 3):  # image rows
        rng = np.random.default_rng(1000 + i)
        w, h = 8 + (i % 5), 6 + (i % 4)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        r = rows[i]
        assert (r.width, r.height) == (w, h)
        assert r.mean_luma == pytest.approx(round(float(px.mean()), 4))
        assert r.n_samples is None  # audio features null on images


def test_real_wav_decode_features(spark):
    media = synthetic_media(spark, n=30)
    rows = {r.media_id: r for r in extract_features(media).collect()}
    for i in range(1, 30, 3):  # audio rows
        n_samp = 100 + (i % 7) * 50
        r = rows[i]
        assert r.n_samples == n_samp
        assert r.sample_rate == 8000
        assert r.duration_ms == n_samp * 1000 // 8000
        assert r.payload_bytes == 44 + 2 * n_samp
        assert r.rms is not None and r.rms > 0
        assert r.width is None  # image features null on audio


def test_undecodable_payload_falls_back(spark):
    """A corrupt payload must not kill the stage — byte features only."""
    from aws_imdb_data_pipeline_spark.extensions.multimodal import MEDIA_SCHEMA

    rows = [
        (0, "image", b"\x89PNG\r\n\x1a\nGARBAGE", "image/png", None, None, None),
        (1, "audio", b"RIFFnope", "audio/wav", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[0].payload_bytes == 15 and feats[0].width is None
    assert feats[1].payload_bytes == 8 and feats[1].n_samples is None


# --- codec unit tests (no Spark) -------------------------------------


def test_png_roundtrip_shapes():
    rng = np.random.default_rng(7)
    for shape in [(5, 7), (8, 8, 3), (4, 6, 4), (3, 3, 2), (1, 1)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        d = decode_png(encode_png(a))
        expect = a[:, :, None] if a.ndim == 2 else a
        assert d.shape == expect.shape and (d == expect).all()


def _craft_png(img: np.ndarray, ftype: int) -> bytes:
    """Encode with a specific non-zero filter type to exercise the
    Sub/Up/Average/Paeth unfilter paths the encoder itself never emits."""
    h, w, c = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[c], 0, 0, 0)
    out, prev = [], np.zeros(w * c, np.int32)
    for y in range(h):
        cur = img[y].reshape(-1).astype(np.int32)
        f = np.empty_like(cur)
        for x in range(w * c):
            a = cur[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            f[x] = (cur[x] - pred) & 0xFF
        out.append(bytes([ftype]) + f.astype(np.uint8).tobytes())
        prev = cur
    raw = b"".join(out)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_png_decode_all_filters(ftype):
    rng = np.random.default_rng(40 + ftype)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    assert (decode_png(_craft_png(img, ftype)) == img).all()


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_wav_roundtrip():
    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=777).astype(np.int16)
    blob = encode_wav_pcm16(s, 8000)
    assert len(blob) == 44 + 2 * 777
    arr, rate = decode_wav_pcm16(blob)
    assert rate == 8000 and arr.shape == (777, 1) and (arr[:, 0] == s).all()


def test_framepack_roundtrip_and_truncation():
    import numpy as np
    import pytest as _pt

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        decode_framepack,
        encode_framepack,
        encode_png,
    )

    frames = [
        encode_png(np.full((3, 5, 3), i * 10, np.uint8)) for i in range(4)
    ]
    blob = encode_framepack(frames, 33)
    back, iv = decode_framepack(blob)
    assert back == frames and iv == 33
    with _pt.raises(ValueError):
        decode_framepack(b"NOPE" + blob[4:])
    with _pt.raises(ValueError):
        decode_framepack(blob[:-3])  # truncated final frame


def test_resize_nearest_matches_numpy_model():
    import numpy as np

    from aws_imdb_data_pipeline_spark.extensions.codecs import resize_nearest

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(7, 13, 3), dtype=np.uint8)
    out = resize_nearest(px, 4, 5)
    for y in range(5):
        for x in range(4):
            assert (out[y, x] == px[(y * 7) // 5, (x * 13) // 4]).all()


def test_resize_images_poison_and_content(spark):
    import numpy as np

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        decode_png,
        encode_png,
        resize_nearest,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(10, 12, 3), dtype=np.uint8)
    rows = [
        (0, "image", encode_png(px), "image/png", 12, 10, None),
        (1, "image", b"junk-not-a-png", "image/png", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in resize_images(media, 6, 5).collect()}
    ok = got[0]
    assert (ok.orig_width, ok.orig_height, ok.width, ok.height) == (12, 10, 6, 5)
    # emitted payload decodes to exactly the numpy-model resize
    assert (decode_png(bytes(ok.payload)) == resize_nearest(px, 6, 5)).all()
    bad = got[1]
    assert bad.payload is None and bad.width is None  # poison → NULL row


def test_sample_frames_structure_and_poison(spark):
    import numpy as np

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        encode_framepack,
        encode_png,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
    )

    frames = [
        encode_png(np.full((2, 2, 3), 40 + i, np.uint8)) for i in range(5)
    ]
    rows = [
        (0, "video", encode_framepack(frames, 40), "video/x-framepack", 2, 2, 200),
        (1, "video", b"garbage", "video/x-framepack", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = sorted(sample_frames(media, 2).collect(), key=lambda r: r.frame_idx)
    assert [r.media_id for r in got] == [0, 0, 0]  # poison row → no rows
    assert [(r.frame_idx, r.ts_ms) for r in got] == [(0, 0), (2, 80), (4, 160)]
    assert all((r.width, r.height) == (2, 2) for r in got)
    assert [r.mean_luma for r in got] == [40.0, 42.0, 44.0]


def test_synthetic_media_video_frames_real(spark):
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        sample_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n=30).filter("kind = 'video'")
    frames = sample_frames(media, 1).collect()
    # framepack videos (i % 6 != 5) yield real decoded frames
    decodable = {r.media_id for r in frames}
    assert decodable  # at least the non-poison videos
    assert all(r.width == 8 and r.height == 6 for r in frames)
    poison = {r.media_id for r in media.collect()} - decodable
    assert poison == {m for m in poison if m % 6 == 5}


def test_framepack_short_payload_and_every_n_validation(spark):
    import pytest as _pt

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        decode_framepack,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
    )

    # 4-9 byte payload starting with the magic: ValueError, not
    # struct.error (callers catch ValueError per the contract)
    with _pt.raises(ValueError):
        decode_framepack(b"FPK1\x00\x01")
    media = spark.createDataFrame(
        [(0, "video", b"FPK1\x00", "video/x-framepack", None, None, None)],
        MEDIA_SCHEMA,
    )
    with _pt.raises(ValueError):
        sample_frames(media, 0)
    assert sample_frames(media, 2).count() == 0  # poison-safe explode


def test_ahash_planted_duplicates_and_inversion(spark):
    """aHash contract on planted images: identical payloads hash
    identically (hamming 0 through the banded kernel), an INVERTED
    image (255-v) flips essentially every threshold decision, and a
    poison payload yields the NULL row."""
    import numpy as np
    from pyspark.sql import functions as F

    from aws_imdb_data_pipeline_spark.extensions.codecs import encode_png
    from aws_imdb_data_pipeline_spark.extensions.dedup import (
        hamming_near_dup_pairs,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        ahash_images,
    )

    y = np.arange(12).reshape(-1, 1)
    x = np.arange(16).reshape(1, -1)
    v = ((40 + 7 * y + 3 * x) % 256).astype(np.uint8)
    img = encode_png(np.repeat(v[:, :, None], 3, axis=2))
    inv = encode_png(np.repeat((255 - v)[:, :, None], 3, axis=2))
    rows = [(1, img), (2, img), (3, inv), (4, b"not a png")]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    fps = ahash_images(media)
    got = {r.media_id: (r.hash_hi, r.hash_lo, r.n_set) for r in fps.collect()}
    assert got[1] == got[2] and got[1][0] is not None
    assert got[4] == (None, None, None)
    # inversion flips (nearly) all 64 bits: the two hashes are ~complements
    inv_dist = bin(
        ((got[1][0] ^ got[3][0]) << 32) | (got[1][1] ^ got[3][1])
    ).count("1")
    assert inv_dist >= 56

    fp64 = fps.filter(F.col("hash_hi").isNotNull()).select(
        "media_id",
        F.shiftleft("hash_hi", 32).bitwiseOR(F.col("hash_lo")).alias("fp"),
    )
    pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_dup_pairs(
            fp64, "media_id", "fp", max_hamming=3, bands=4
        ).collect()
    }
    assert pairs == {(1, 2, 0)}  # twins found at 0; inversion excluded


def test_audio_fingerprint_integer_bits_and_poison(spark):
    """audio_fingerprint contract: bits come from the integer
    cross-product (frame_sum * n > total * frame_len) — verified
    against a tiny hand-computed signal — identical payloads hash
    identically, and a poison payload yields the NULL row."""
    import numpy as np

    from aws_imdb_data_pipeline_spark.extensions.codecs import (
        encode_wav_pcm16,
    )
    from aws_imdb_data_pipeline_spark.extensions.multimodal import (
        audio_fingerprint,
    )

    # 8 samples, n_frames=4 -> frames of 2: sums (1, 5, 9, 13); total 28
    # bit f iff fsum*8 > 28*2 = fsum > 7 -> frames 2 and 3 set
    s = np.array([0, 1, 2, 3, 4, 5, 6, 7], dtype=np.int16)
    wav = encode_wav_pcm16(s, 8000)
    media = spark.createDataFrame(
        [(1, wav), (2, wav), (3, b"junk")], ["media_id", "payload"]
    )
    got = {
        r.media_id: (r.n_samples, r.fp, r.n_set)
        for r in audio_fingerprint(media, n_frames=4).collect()
    }
    assert got[1] == (8, 0b1100, 2)
    assert got[2] == got[1]
    assert got[3] == (None, None, None)
