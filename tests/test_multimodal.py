"""Multimodal plumbing tests: the codec layer is a deterministic stub
(glre_spark.multimodal), so every feature has an exact in-process oracle;
the Spark ops must reproduce it through the Arrow boundary."""

from __future__ import annotations

import numpy as np

from glre_spark.multimodal import (
    ahash64,
    audio_features,
    audio_rate,
    audio_samples,
    block_mean_8x8,
    decode_audio,
    decode_image,
    decode_video,
    gen_audio,
    gen_image,
    gen_video,
    image_meta,
    img_dims,
    sample_frames,
    video_frames,
)
from glre_spark.operators import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def test_codec_roundtrip_shapes():
    for doc_id in [0, 1, 7, 48, 123, 4095]:
        w, h = img_dims(doc_id)
        img = decode_image(gen_image(doc_id))
        assert img.shape == (h, w)
        assert image_meta(gen_image(doc_id)) == (w, h, 9 + w * h)
        vid = decode_video(gen_video(doc_id))
        assert vid.shape == (video_frames(doc_id), 8, 8)
        sr, s = decode_audio(gen_audio(doc_id))
        assert sr == audio_rate(doc_id) and s.shape[0] == audio_samples(doc_id)


def test_block_mean_resize_is_exact():
    img = np.arange(16 * 24, dtype=np.uint8).reshape(16, 24) % 251
    m = block_mean_8x8(img)
    assert m.shape == (8, 8)
    # exact block mean of the top-left 2x3 block
    assert m[0, 0] == img[:2, :3].mean()


def test_spark_ahash_matches_python_oracle(spark):
    fn = REGISTRY["mm_image_ahash"][0]
    got = {r.ahash: (r.n, r.keeper) for r in fn(spark, SF_DIR).collect()}
    import duckdb

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    want: dict[int, list[int]] = {}
    for i in ids:
        want.setdefault(ahash64(decode_image(gen_image(i))), []).append(i)
    assert got == {h: (len(v), min(v)) for h, v in want.items()}


def test_sampled_frames_content():
    b = gen_video(11)
    frames = sample_frames(b)
    vid = decode_video(b)
    assert [i for i, _ in frames] == list(range(0, video_frames(11), 4))
    for i, fb in frames:
        assert fb == vid[i].tobytes()


def test_audio_feature_values():
    f = audio_features(gen_audio(9))
    sr, s = decode_audio(gen_audio(9))
    x = s.astype(np.float64)
    assert f["sample_rate"] == sr
    assert abs(f["rms"] - float(np.sqrt((x * x).mean()))) < 1e-12
    assert f["zero_crossings"] == int(
        np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))
    )
