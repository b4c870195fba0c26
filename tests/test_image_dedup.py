"""Perceptual-hash image near-dup (operators/dedup.py: image_dhash /
image_neardup_pairs): planted near-duplicates — re-encoded (PNG→JPEG)
and resized copies of the same picture — must pair up within a small
hamming distance while unrelated pictures stay apart; corrupt payloads
survive; flat tiles hash to exactly 0 (the q41 closed form); and the
plan is a banded equi-join, never a cartesian."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandasql_spark.functions.imagecodec import encode_png
from pandasql_spark.functions.jpegcodec import encode_jpeg
from pandasql_spark.operators.dedup import (
    _dhash64,
    image_dhash,
    image_neardup_pairs,
)


def _picture(h=64, w=64):
    """A deterministic non-flat grayscale-ish RGB picture: smooth 2-D
    gradient + a block pattern, so the dHash gradient bits are stable
    under resize/re-encode."""
    y, x = np.mgrid[0:h, 0:w]
    g = x * 2 + y + ((x // 16 + y // 16) % 2) * 40  # max 232: no wrap
    return np.stack([g, g, g], axis=-1).astype(np.uint8)


def _resize_nearest(px, h, w):
    ys = (np.arange(h) * px.shape[0]) // h
    xs = (np.arange(w) * px.shape[1]) // w
    return px[ys][:, xs]


@pytest.fixture(scope="module")
def corpus(spark):
    base = _picture()
    rng = np.random.RandomState(7)
    noise = rng.randint(0, 256, size=(64, 64, 3)).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(base))),                      # original
        (2, bytearray(encode_jpeg(base, quality=90))),         # re-encoded
        (3, bytearray(encode_png(_resize_nearest(base, 32, 32)))),  # resized
        (4, bytearray(encode_png(noise))),                     # unrelated
        (5, bytearray(b"not an image at all")),                # corrupt
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_dhash_flat_is_zero():
    flat = np.full((13, 16, 3), 97, dtype=np.uint8)
    assert _dhash64(flat) == 0
    tiny = np.full((1, 1), 5, dtype=np.uint8)  # degenerate dims
    assert _dhash64(tiny) == 0


def test_dhash_copies_close_noise_far(corpus):
    got = {r.media_id: r for r in image_dhash(corpus).collect()}
    assert got[5].decode_ok is False and got[5].dhash is None
    # signed int64 → its unsigned 64-bit pattern (np.uint64 of a
    # negative value is deprecated in NumPy)
    h = {i: got[i].dhash & 0xFFFFFFFFFFFFFFFF for i in (1, 2, 3, 4)}

    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")

    assert ham(h[1], h[2]) <= 5, "JPEG re-encode must stay near"
    assert ham(h[1], h[3]) <= 5, "nearest resize must stay near"
    assert ham(h[1], h[4]) > 10, "unrelated picture must stay far"


def test_neardup_pairs_recall_and_precision(corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in image_neardup_pairs(
            corpus, max_hamming=5, num_bands=8
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_validation(corpus):
    with pytest.raises(ValueError, match="pigeonhole"):
        image_neardup_pairs(corpus, max_hamming=4, num_bands=4)


def test_plan_contract(corpus):
    """Banded equi-join: no cartesian, no nested-loop; the only Python
    is the Arrow-batched decode kernel."""
    from pandasql_spark.plans.explain import explain_str

    plan = explain_str(image_neardup_pairs(corpus))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def _photo(h=64, w=64, seed=3):
    """Photo-like content: box-blurred random noise — broadband
    low-frequency energy, the regime pHash's coefficient-median
    construction assumes (synthetic block gradients concentrate energy
    in a few coefficients and leave the rest median-adjacent/noisy)."""
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 256, size=(h + 8, w + 8)).astype(np.float64)
    k = 9
    c = np.cumsum(np.cumsum(g, 0), 1)
    blur = (c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]) / (k * k)
    blur = blur[:h, :w]
    blur = 255 * (blur - blur.min()) / (blur.max() - blur.min())
    img = blur.astype(np.uint8)
    return np.stack([img] * 3, axis=-1)


def test_phash_flat_is_zero():
    from pandasql_spark.operators.dedup import _phash64

    assert _phash64(np.full((13, 16, 3), 97, dtype=np.uint8)) == 0
    assert _phash64(np.full((1, 1), 5, dtype=np.uint8)) == 0


def test_phash_copies_close_noise_far(spark):
    base = _photo()
    rows = [
        (1, bytearray(encode_png(base))),
        (2, bytearray(encode_jpeg(base, quality=90))),
        (3, bytearray(encode_png(_resize_nearest(base, 32, 32)))),
        (4, bytearray(encode_png(
            np.clip(base.astype(np.int32) + 20, 0, 255).astype(np.uint8)
        ))),  # global brightness shift — DC-only, pHash ignores it
        (5, bytearray(encode_png(_photo(seed=11)))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: r.dhash & 0xFFFFFFFFFFFFFFFF
        for r in image_dhash(df, method="phash").collect()
    }

    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")

    assert ham(got[1], got[2]) <= 3, "JPEG re-encode must stay near"
    assert ham(got[1], got[3]) <= 3, "nearest resize must stay near"
    assert ham(got[1], got[4]) <= 3, "brightness shift is DC-only"
    assert ham(got[1], got[5]) > 10, "different photo must stay far"
    pairs = {
        (r.id_a, r.id_b)
        for r in image_neardup_pairs(df, method="phash").collect()
    }
    assert {(1, 2), (1, 3), (1, 4)} <= pairs
    assert not any(5 in p for p in pairs)


def test_method_validation(corpus):
    with pytest.raises(ValueError, match="method must be"):
        image_dhash(corpus, method="ahash")


def _video_frames(seed, n=6):
    return np.stack([_photo(seed=seed + 31 * i, h=32, w=32) for i in range(n)])


def test_video_neardup_codec_change(spark):
    """The same footage under DIB vs Motion-JPEG pairs up (majority
    vote absorbs per-frame JPEG noise); different footage stays far;
    a corrupt payload survives as n_frames=0 / NULL vhash and never
    poisons the pair join."""
    from pandasql_spark.functions.videocodec import encode_avi
    from pandasql_spark.operators.dedup import (
        video_neardup_pairs,
        video_signature,
    )

    a = _video_frames(seed=5)
    c = _video_frames(seed=99)
    rows = [
        (1, bytearray(encode_avi(a, fps=2, codec="dib"))),
        (2, bytearray(encode_avi(a, fps=2, codec="mjpg", quality=90))),
        (3, bytearray(encode_avi(c, fps=2, codec="dib"))),
        (4, bytearray(b"not a video")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    sigs = {r.media_id: r for r in video_signature(df, every_ms=1000).collect()}
    assert sigs[4].n_frames == 0 and sigs[4].vhash is None
    assert sigs[1].n_frames >= 2  # several sampled frames voted

    def ham(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    assert ham(sigs[1].vhash, sigs[2].vhash) <= 5, "codec change stays near"
    assert ham(sigs[1].vhash, sigs[3].vhash) > 10, "different footage far"

    pairs = {
        (r.id_a, r.id_b)
        for r in video_neardup_pairs(
            df, every_ms=1000, max_hamming=5, num_bands=8
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p or 4 in p for p in pairs)


def _noise_clip(seed, rate=8000, dur=2.0):
    """Broadband low-passed noise with a slow envelope — every
    frequency band holds energy, like real speech/music (pure tones
    leave most bands at the noise floor, where gradient bits are
    noise — the audio analog of the pHash block-gradient lesson)."""
    rng = np.random.RandomState(seed)
    n = int(rate * dur)
    w = rng.randn(n + 8)
    x = np.convolve(w, np.ones(9) / 9, mode="valid")[:n]
    env = 0.4 + 0.6 * np.abs(np.sin(2 * np.pi * np.arange(n) / n * 3))
    x = x * env
    x = x / np.abs(x).max()
    return (x * 0.5 * 32767).astype(np.int16)[:, None]


def test_audio_fingerprint_invariances(spark):
    """Volume-scaled, re-encoded, and resampled copies of a clip stay
    within a few bits (gain cancels in the log-band gradients; band
    edges are absolute Hz, so a decimated copy of band-limited content
    fingerprints comparably); a different clip stays far; silence
    hashes to 0; corrupt payloads survive."""
    from pandasql_spark.functions.audiocodec import encode_wav
    from pandasql_spark.operators.dedup import (
        audio_fingerprint,
        audio_neardup_pairs,
    )

    rate = 8000
    a = _noise_clip(1)
    rows = [
        (1, bytearray(encode_wav(a, rate))),
        (2, bytearray(encode_wav(
            (a.astype(np.float64) * 0.25).astype(np.int16), rate
        ))),                                        # volume -12 dB
        (3, bytearray(encode_wav(a[::2], rate // 2))),   # resampled
        (4, bytearray(encode_wav(_noise_clip(42), rate))),  # different
        (5, bytearray(b"RIFFnope")),                # corrupt
        (6, bytearray(encode_wav(
            np.zeros((rate, 1), dtype=np.int16), rate
        ))),                                        # silence
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in audio_fingerprint(df).collect()}
    assert got[5].decode_ok is False and got[5].afp is None
    assert got[6].afp == 0  # silence == flat contract

    def ham(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    assert ham(got[1].afp, got[2].afp) <= 3, "volume scale must stay near"
    assert ham(got[1].afp, got[3].afp) <= 6, "resample must stay near"
    assert ham(got[1].afp, got[4].afp) >= 10, "different clip stays far"

    pairs = {
        (r.id_a, r.id_b)
        for r in audio_neardup_pairs(
            df, max_hamming=6, num_bands=8
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_dedup_images_one_call(spark):
    """One-call media dedup: byte-identical copies collapse in the
    exact stage, perceptual copies (JPEG re-encode + resize) collapse
    via pairs->clusters, unrelated and corrupt payloads survive;
    keep='best' retains the highest-scoring member instead of the
    lowest id."""
    from pandasql_spark.operators.dedup import dedup_images

    base = _picture()
    rng = np.random.RandomState(11)
    noise = rng.randint(0, 256, size=(64, 64, 3)).astype(np.uint8)
    png = bytes(encode_png(base))
    rows = [
        (1, bytearray(png)),
        (2, bytearray(png)),                                # byte copy
        (3, bytearray(encode_jpeg(base, quality=90))),      # re-encode
        (4, bytearray(encode_png(_resize_nearest(base, 32, 32)))),
        (5, bytearray(encode_png(noise))),                  # unrelated
        (6, bytearray(b"broken")),                          # corrupt
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = sorted(
        r.media_id
        for r in dedup_images(df, max_hamming=5, num_bands=8).collect()
    )
    assert got == [1, 5, 6]

    # keep='best': score favors id 4 (the resized copy) in the
    # perceptual cluster {1,3,4}; byte-copies 1/2 collapse first by
    # best-score too
    scored = df.withColumn(
        "q", F.when(F.col("media_id") == 4, 100.0).otherwise(
            F.col("media_id").cast("double"))
    )
    best = sorted(
        r.media_id
        for r in dedup_images(
            scored, max_hamming=5, num_bands=8, keep="best", score_col="q"
        ).collect()
    )
    assert best == [4, 5, 6]


def test_media_pair_plan_contracts(spark):
    """Audio and video near-dup pairs share the image plan contract:
    banded equi-join (no cartesian / nested loop), Arrow-batched
    kernels only (no row-at-a-time Python), and the video vote is a
    plain aggregate — no Window."""
    from pandasql_spark.operators.dedup import (
        audio_neardup_pairs,
        video_neardup_pairs,
    )
    from pandasql_spark.plans.explain import explain_str, operator_names

    df = spark.createDataFrame(
        [(1, bytearray(b"x"))], "media_id long, payload binary"
    )
    for pairs in (
        audio_neardup_pairs(df),
        video_neardup_pairs(df),
    ):
        plan = explain_str(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "BatchEvalPython" not in plan
    assert "Window" not in operator_names(video_neardup_pairs(df))


def test_audio_fp_batch_bit_identical():
    """_audio_fp64_batch (the r13 vectorized kernel behind
    audio_fingerprint) must be BIT-IDENTICAL to the scalar reference
    _audio_fp64 on an adversarial clip mix — ramps, silence, noise,
    pure tones, multi-channel, reversed ramps, across rates including
    ones that change the FFT window — plus the q80 closed-form corpus
    (spectrally-monotone ramps hash to exactly 0). The batch path
    stacks frames across clips into one rfft per (win, rate) group and
    collapses the single-frame grid to a byte-replicated row pattern;
    any reduction-order drift would break the q80 oracle silently."""
    import random

    import numpy as np

    from pandasql_spark.operators.dedup import _audio_fp64, _audio_fp64_batch

    rng = np.random.default_rng(3)
    random.seed(3)
    clips = []
    for i in range(240):
        kind = i % 6
        rate = random.choice([1000, 2000, 4000, 8000, 16000, 44100])
        n = random.randint(10, 3000)
        if kind == 0:
            arr = np.arange(n, dtype=np.int16)
        elif kind == 1:
            arr = np.zeros(n, dtype=np.int16)
        elif kind == 2:
            arr = rng.integers(-32768, 32767, n).astype(np.int16)
        elif kind == 3:
            t = np.arange(n) / rate
            hz = random.choice([120, 440, 1800, 3900])
            arr = (10000 * np.sin(2 * np.pi * hz * t)).astype(np.int16)
        elif kind == 4:
            arr = rng.integers(-100, 100, (n, random.randint(2, 4))).astype(
                np.int16
            )
        else:
            arr = (np.arange(n, dtype=np.int16)[::-1]).copy()
        clips.append((arr, rate))
    assert _audio_fp64_batch(clips) == [_audio_fp64(a, r) for a, r in clips]
    # the q80 closed form: every renderable ramp combo hashes to 0
    ramps = [
        (np.repeat(np.arange(64 + m, dtype=np.int16)[:, None], ch, axis=1),
         1000 * (1 << k))
        for m in range(0, 50, 7) for k in range(4) for ch in (1, 3)
    ]
    assert set(_audio_fp64_batch(ramps)) == {0}


def test_dhash_batch_bit_identical():
    """_dhash64_batch (the r13 frame-hash kernel behind image_dhash
    method='dhash' — and therefore q41's fold and q96's video
    signature) must be BIT-IDENTICAL to scalar _dhash64 across grey /
    RGB / flat images of many shapes, including singleton shape
    groups (which route through the scalar path directly). Flat
    images must keep hashing to exactly 0 — the q41 closed form."""
    import random

    import numpy as np

    from pandasql_spark.operators.dedup import _dhash64, _dhash64_batch

    rng = np.random.default_rng(13)
    random.seed(13)
    pxs = []
    for i in range(500):
        h, w = random.randint(1, 40), random.randint(1, 40)
        if i % 3 == 0:
            pxs.append(rng.integers(0, 256, (h, w)).astype(np.uint8))
        elif i % 3 == 1:
            pxs.append(rng.integers(0, 256, (h, w, 3)).astype(np.uint8))
        else:
            pxs.append(
                np.full((3 + i % 14, 4 + i % 17, 3), i % 251, np.uint8)
            )
    got = _dhash64_batch(pxs)
    assert got == [_dhash64(p) for p in pxs]
    assert all(
        v == 0
        for v, p in zip(got, pxs)
        if p.ndim == 3 and np.all(p == p.flat[0])
    )
    # same contract for the pHash batch (DCT path, r13): identical to
    # scalar, flat images keep the exact-zero closed form
    from pandasql_spark.operators.dedup import _phash64, _phash64_batch

    gotp = _phash64_batch(pxs)
    assert gotp == [_phash64(p) for p in pxs]
    assert all(
        v == 0
        for v, p in zip(gotp, pxs)
        if p.ndim == 3 and np.all(p == p.flat[0])
    )
