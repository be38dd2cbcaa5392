"""Multimodal plumbing: mapInPandas feature extraction with a fake decoder,
stub decoder loudness, and the real PGM/WAV decoders."""

from __future__ import annotations

import hashlib
import sys

import numpy as np
import pytest
from pyspark import cloudpickle

from cloud_dedup_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    Decoder,
    extract_features,
)

# the decoders below run inside Python workers, which cannot import this
# test module: ship its classes by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class StubDecoder(Decoder):
    """A deployment without media libs: decode is loud, not silent."""

    def decode(self, kind: str, payload: bytes) -> np.ndarray:
        raise NotImplementedError(
            "media decode requires PIL/ffmpeg/torchaudio; install on the "
            "cluster image and plug a real Decoder"
        )


class FakeDecoder(Decoder):
    """Deterministic bytes→features stand-in: exercises the full distributed
    path (Arrow batches, schema, downstream similarity joins) without codecs."""

    def decode(self, kind: str, payload: bytes) -> np.ndarray:
        digest = hashlib.blake2b(payload, digest_size=self.dim * 4).digest()
        raw = np.frombuffer(digest, dtype=np.uint32).astype(np.float64)
        vec = raw / np.float64(0xFFFFFFFF)
        return (vec / np.linalg.norm(vec)).astype(np.float32)


def synthetic_media(spark, n: int, seed: int, dup_every: int):
    """Deterministic fake media table: every ``dup_every``-th row duplicates
    row 0's payload (a planted exact-dup group)."""
    rng = np.random.RandomState(seed)
    base = rng.bytes(256)
    rows = []
    for i in range(n):
        payload = base if i % dup_every == 0 else rng.bytes(256)
        kind = ("image", "audio", "video")[i % 3]
        rows.append(
            (i, kind, f"application/x-{kind}", bytearray(payload), 64, 64, 1000)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def media(spark):
    df = synthetic_media(spark, n=48, seed=42, dup_every=8).cache()
    df.count()
    return df


def test_feature_extraction_shape(spark, media):
    feats = extract_features(media, FakeDecoder()).collect()
    assert len(feats) == 48
    for r in feats:
        assert len(r["content_sha256"]) == 64
        assert r["n_bytes"] == 256
        assert len(r["feature"]) == FakeDecoder.dim


def test_features_deterministic_per_content(spark, media):
    feats = extract_features(media, FakeDecoder()).collect()
    by_sha = {}
    for r in feats:
        by_sha.setdefault(r["content_sha256"], set()).add(tuple(r["feature"]))
    for sha, vecs in by_sha.items():
        assert len(vecs) == 1  # same bytes → same feature everywhere


def test_stub_decoder_is_loud(spark, media):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        extract_features(media, StubDecoder()).collect()
    assert "NotImplementedError" in str(exc.value) or "media decode" in str(exc.value)


# ---- PnmWavDecoder: REAL zero-dependency codecs (round 4) ----------------


def _pgm(width, height, values, maxval=255, comment=True):
    header = b"P5\n" + (b"# synthetic\n" if comment else b"") + (
        f"{width} {height}\n{maxval}\n".encode()
    )
    import numpy as np

    arr = np.asarray(values, dtype=">u2" if maxval > 255 else "u1")
    return header + arr.tobytes()


def _wav(signal, framerate=8000, channels=1):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(
            (np.asarray(signal) * 32000).astype("<i2").tobytes()
        )
    return buf.getvalue()


def test_pnm_decode_exact_values():
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import _decode_pnm

    img = np.arange(32).reshape(4, 8) * 8
    out = _decode_pnm(_pgm(8, 4, img))
    assert out.shape == (4, 8)
    assert np.allclose(out, img / 255.0)
    # 16-bit big-endian raster (maxval > 255), header comment handled
    out16 = _decode_pnm(_pgm(8, 4, img * 256, maxval=65535))
    assert np.allclose(out16, img * 256 / 65535.0)
    # P6 RGB collapses to channel-mean grayscale
    rgb = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 0, 0])
    out_rgb = _decode_pnm(rgb)
    assert np.allclose(out_rgb, [[255 / 3 / 255.0, 0.0]])


def test_image_features_are_resize_invariant():
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import PnmWavDecoder

    dec = PnmWavDecoder()
    img = np.arange(64).reshape(8, 8) * 4
    # 2x nearest-neighbour upscale of the same image
    big = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
    f_small = dec.decode("image", _pgm(8, 8, img))
    f_big = dec.decode("image", _pgm(16, 16, big))
    assert np.allclose(f_small, f_big, atol=1e-6)
    # a genuinely different image (reversed gradient) diverges
    f_rev = dec.decode("image", _pgm(8, 8, img[::-1, ::-1].copy()))
    assert not np.allclose(f_small, f_rev, atol=1e-3)
    # area weighting: invariance holds even when the input is SMALLER than
    # the 4x4 grid (floor-binning left empty cells and broke this)
    tiny = np.array([[10, 200], [90, 160]])
    tiny_up = np.repeat(np.repeat(tiny, 2, axis=0), 2, axis=1)
    f_tiny = dec.decode("image", _pgm(2, 2, tiny))
    f_tiny_up = dec.decode("image", _pgm(4, 4, tiny_up))
    assert np.allclose(f_tiny, f_tiny_up, atol=1e-6)
    # ...and a 3x (grid-misaligned) upscale of an 8x8 image
    big3 = np.repeat(np.repeat(img, 3, axis=0), 3, axis=1)
    assert np.allclose(f_small, dec.decode("image", _pgm(24, 24, big3)), atol=1e-6)


def test_features_are_content_faithful_not_scale_invariant():
    """Round-4 review: L2-normalizing the dedup key welded flat images with
    silence and an image with its brightness-scaled copy.  Raw features keep
    those distinct; cosine-threshold matching downstream remains the opt-in
    brightness-invariant channel."""
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import PnmWavDecoder

    dec = PnmWavDecoder()
    black = dec.decode("image", _pgm(4, 4, np.zeros((4, 4), dtype=int)))
    white = dec.decode("image", _pgm(4, 4, np.full((4, 4), 255)))
    gray = dec.decode("image", _pgm(4, 4, np.full((4, 4), 77)))
    img = np.arange(16).reshape(4, 4) * 5
    base = dec.decode("image", _pgm(4, 4, img))
    bright3x = dec.decode("image", _pgm(4, 4, img * 3))
    silence = dec.decode("audio", _wav(np.zeros(4000)))
    feats = [tuple(f) for f in (black, white, gray, base, bright3x)]
    assert len(set(feats)) == 5, "flat/scaled images must stay distinct"
    assert np.allclose(black, 0.0) and np.allclose(silence, 0.0)
    # black image vs silence DO collide numerically — the group key's kind
    # column is what keeps them apart (test below drives it through Spark)


def test_wav_energy_profile_localizes_the_tone():
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import PnmWavDecoder

    dec = PnmWavDecoder()
    # 1 s silence then 1 s sine: energy must live in the back half bands
    t = np.linspace(0, 1, 8000, endpoint=False)
    sig = np.concatenate([np.zeros(8000), 0.8 * np.sin(2 * np.pi * 440 * t)])
    feat = dec.decode("audio", _wav(sig))
    assert len(feat) == 16
    assert float(np.sum(feat[:8])) < 1e-6
    assert float(np.min(feat[8:])) > 0.1
    # stereo collapses to mono (identical channels == the mono signal)
    stereo = np.column_stack([sig, sig]).ravel()
    feat_st = dec.decode("audio", _wav(stereo, channels=2))
    assert np.allclose(feat, feat_st, atol=1e-4)


def test_real_decoder_distributed_with_per_row_isolation(spark):
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        PnmWavDecoder,
        extract_features,
    )

    img = np.arange(64).reshape(8, 8) * 4
    sig = np.sin(np.linspace(0, 40, 4000))
    rows = [
        (0, "image", "image/x-portable-graymap", bytearray(_pgm(8, 8, img)), 8, 8, None),
        (1, "audio", "audio/wav", bytearray(_wav(sig)), None, None, 500),
        # corrupt image payload: isolated as feature=None, not task-fatal
        (2, "image", "image/x-portable-graymap", bytearray(b"garbage"), 8, 8, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media, PnmWavDecoder()).collect()}
    assert len(feats[0]["feature"]) == 16
    assert len(feats[1]["feature"]) == 16
    assert feats[2]["feature"] is None
    # video remains loudly unimplemented (needs ffmpeg)
    with pytest.raises(NotImplementedError):
        PnmWavDecoder().decode("video", b"\x00")


def test_documents_as_media_roundtrip_dedup(spark):
    """documents → real PGM payloads → real decode → feature-level dup groups
    equal the text-equality truth; corrupt payloads are excluded, not welded
    into a phantom group."""
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        PnmWavDecoder,
        _decode_pnm,
        documents_as_media,
        feature_dup_groups,
    )

    docs = spark.createDataFrame(
        [(i, f"text body {i % 4}", "en", "s", 11) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    media = documents_as_media(docs)
    rows = media.collect()
    # payloads are genuine PGMs: the zero-dependency parser accepts them
    img = _decode_pnm(bytes(rows[0]["payload"]))
    assert img.shape == (4, 4)
    feats = extract_features(media, PnmWavDecoder())
    groups = {
        r["min_media_id"]: r["n_media"]
        for r in feature_dup_groups(feats).collect()
    }
    # texts 0,1 appear 3x (ids 0-2 mod 4 ... ids {0,4,8},{1,5,9}); 2,3 appear 2x
    assert groups == {0: 3, 1: 3, 2: 2, 3: 2}
    # corrupt payloads decode to feature=None and must be EXCLUDED from groups
    bad = spark.createDataFrame(
        [
            (100, "image", "image/x-portable-graymap", bytearray(b"junk1"), 4, 4, None),
            (101, "image", "image/x-portable-graymap", bytearray(b"junk2"), 4, 4, None),
        ],
        MEDIA_SCHEMA,
    )
    bad_groups = feature_dup_groups(
        extract_features(bad, PnmWavDecoder())
    ).collect()
    assert bad_groups == []
    # distinct texts yield distinct features (no scale-collision on sha pixels)
    all_feats = [
        tuple(r["feature"])
        for r in feats.select("feature").collect()
    ]
    assert len(set(all_feats)) == 4
    # NULL text rows are dropped at synthesis, never a NULL payload downstream
    docs_null = docs.unionByName(
        spark.createDataFrame(
            [(99, None, "en", "s", 0)],
            "doc_id long, text string, lang string, source string, n_chars int",
        )
    )
    assert documents_as_media(docs_null).count() == 10
    assert np is not None  # keep the vectorized-test import honest


def test_media_near_dup_cosine_retrieval(spark):
    """Round-4 verdict item 4: the media NEAR-dup channel end-to-end —
    decoded features flow through the cosine LSH twin.  A 3×-brightness PGM
    copy (exact scalar multiple: base pixels ≤ 84, no clipping) and a
    half-volume WAV copy are retrieved at cosine ≈ 1 on the feature column;
    precision stays exact (re-scored)."""
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        PnmWavDecoder,
        extract_features,
    )
    from cloud_dedup_spark.operators.similarity import cosine_near_pairs_lsh

    rng = np.random.RandomState(7)
    img = rng.randint(5, 84, size=(4, 4))
    sig = 0.25 * np.sin(np.linspace(0, 60, 4000))
    rows = [
        (0, "image", "m", bytearray(_pgm(4, 4, img)), 4, 4, None),
        (1, "image", "m", bytearray(_pgm(4, 4, img * 3)), 4, 4, None),
        (2, "audio", "m", bytearray(_wav(sig)), None, None, 500),
        (3, "audio", "m", bytearray(_wav(sig * 0.5)), None, None, 500),
    ]
    for i in range(4, 24):  # distractors
        if i % 2 == 0:
            rows.append((i, "image", "m",
                         bytearray(_pgm(4, 4, rng.randint(0, 256, size=(4, 4)))),
                         4, 4, None))
        else:
            rows.append((i, "audio", "m",
                         bytearray(_wav(rng.uniform(-0.5, 0.5, 4000))),
                         None, None, 500))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media, PnmWavDecoder()).filter(
        "feature is not null"
    ).selectExpr("media_id AS vec_id", "feature AS embedding")
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in cosine_near_pairs_lsh(
            feats, threshold=0.995, target_recall=0.999
        ).collect()
    }
    # brightness- and volume-scaled copies are retrieved at cosine ≈ 1
    assert (0, 1) in got and got[(0, 1)] >= 0.9999
    assert (2, 3) in got and got[(2, 3)] >= 0.999


def test_cross_modality_features_never_weld(spark):
    """A black image and digital silence decode to the numerically identical
    zero vector; the group key's kind column must keep them apart."""
    import numpy as np

    from cloud_dedup_spark.operators.multimodal import (
        PnmWavDecoder,
        extract_features,
        feature_dup_groups,
    )

    black = _pgm(4, 4, np.zeros((4, 4), dtype=int))
    silence = _wav(np.zeros(4000))
    rows = [
        (0, "image", "image/x-portable-graymap", bytearray(black), 4, 4, None),
        (1, "image", "image/x-portable-graymap", bytearray(black), 4, 4, None),
        (2, "audio", "audio/wav", bytearray(silence), None, None, 500),
        (3, "audio", "audio/wav", bytearray(silence), None, None, 500),
        # a NULL payload (upstream contract violation — parquet can't enforce
        # MEDIA_SCHEMA's non-null flag) is isolated per-row, not task-fatal,
        # and never joins a group
        (4, "image", "image/x-portable-graymap", None, 4, 4, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, mime string, payload binary, "
        "meta_width int, meta_height int, meta_duration_ms int",
    )
    feats = extract_features(media, PnmWavDecoder())
    assert feats.filter("media_id = 4").collect()[0]["feature"] is None
    groups = sorted(
        (r["min_media_id"], r["n_media"])
        for r in feature_dup_groups(feats).collect()
    )
    # two groups of two — never one welded group of four (or five)
    assert groups == [(0, 2), (2, 2)]
