"""Multimodal columns: image / video / audio as opaque BINARY columns with
typed metadata (brief: "treat image/audio/video as opaque binary columns").

The container has no image/audio codecs (no PIL/ffmpeg/librosa — SURVEY.md
§0), so the *codec* layer is a deterministic fake: tiny self-describing
formats (GIMG/GVID/GAUD) whose payload is an md5-keyed byte stream derived
from doc_id alone. Everything AROUND the codec is real and is what these
modules test: binary columns through the Arrow boundary, explicit parse
schemas, vectorized numpy feature extraction inside mapInPandas, fan-out
(frame sampling) from a single binary row, and formula-based oracles (the
parser reads real bytes; DuckDB recomputes the expected values from
doc_id — a genuine distributed round-trip check).

Swapping the fake codec for a real one (PIL.Image.open, av.open) changes
ONLY the functions marked `# codec stub`.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

MAGIC_IMG = b"GIMG"
MAGIC_VID = b"GVID"
MAGIC_AUD = b"GAUD"

# --- deterministic generators (doc_id → bytes) ------------------------------


def _payload(key: str, n: int) -> bytes:
    """md5-keyed byte stream: deterministic, incompressible-ish."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out.extend(hashlib.md5(f"{key}:{i}".encode()).digest())
        i += 1
    return bytes(out[:n])


def img_dims(doc_id: int) -> tuple[int, int]:
    return 16 + doc_id % 48, 16 + (doc_id * 7) % 48


def gen_image(doc_id: int) -> bytes:
    """GIMG: magic(4) | width:u16 | height:u16 | channels:u8 | pixels."""
    w, h = img_dims(doc_id)
    return MAGIC_IMG + struct.pack(">HHB", w, h, 1) + _payload(f"img{doc_id}", w * h)


def video_frames(doc_id: int) -> int:
    return 8 + doc_id % 24


VID_FRAME_W = VID_FRAME_H = 8


def gen_video(doc_id: int) -> bytes:
    """GVID: magic(4) | n_frames:u16 | fw:u8 | fh:u8 | frames (fw*fh each)."""
    n = video_frames(doc_id)
    return (
        MAGIC_VID
        + struct.pack(">HBB", n, VID_FRAME_W, VID_FRAME_H)
        + _payload(f"vid{doc_id}", n * VID_FRAME_W * VID_FRAME_H)
    )


def audio_rate(doc_id: int) -> int:
    return 8000 + 1000 * (doc_id % 5)


def audio_samples(doc_id: int) -> int:
    return 1000 + (doc_id * 37) % 4000


def gen_audio(doc_id: int) -> bytes:
    """GAUD: magic(4) | sample_rate:u32 | n_samples:u32 | int8 samples."""
    sr, n = audio_rate(doc_id), audio_samples(doc_id)
    return MAGIC_AUD + struct.pack(">II", sr, n) + _payload(f"aud{doc_id}", n)


# --- decoders (codec stubs: parse the fake formats) -------------------------


def decode_image(b: bytes) -> np.ndarray:
    """binary → (h, w) uint8 array.  # codec stub (PIL.Image.open here)"""
    assert b[:4] == MAGIC_IMG, "not a GIMG image"
    w, h, ch = struct.unpack(">HHB", b[4:9])
    assert ch == 1
    return np.frombuffer(b[9 : 9 + w * h], dtype=np.uint8).reshape(h, w)


def image_meta(b: bytes) -> tuple[int, int, int]:
    """Header-only parse (no pixel decode): width, height, total bytes."""
    assert b[:4] == MAGIC_IMG, "not a GIMG image"
    w, h, _ = struct.unpack(">HHB", b[4:9])
    return w, h, len(b)


def decode_video(b: bytes) -> np.ndarray:
    """binary → (n_frames, fh, fw) uint8.  # codec stub (av.open here)"""
    assert b[:4] == MAGIC_VID, "not a GVID video"
    n, fw, fh = struct.unpack(">HBB", b[4:8])
    return np.frombuffer(b[8 : 8 + n * fw * fh], dtype=np.uint8).reshape(n, fh, fw)


def decode_audio(b: bytes) -> tuple[int, np.ndarray]:
    """binary → (sample_rate, int8 samples).  # codec stub"""
    assert b[:4] == MAGIC_AUD, "not a GAUD clip"
    sr, n = struct.unpack(">II", b[4:12])
    return sr, np.frombuffer(b[12 : 12 + n], dtype=np.int8)


# --- features (vectorized numpy, run inside Arrow stages) -------------------


def block_mean_8x8(img: np.ndarray) -> np.ndarray:
    """Average-pool an (h, w) image to 8×8 (the resize step; exact block
    means over an evenly-cropped grid — deterministic, no interpolation)."""
    h, w = img.shape
    bh, bw = h // 8, w // 8
    crop = img[: bh * 8, : bw * 8].astype(np.float64)
    return crop.reshape(8, bh, 8, bw).mean(axis=(1, 3))


def ahash64(img: np.ndarray) -> int:
    """Classic average-hash: 8×8 block means → bit per cell (mean-of-means
    threshold) → 63-bit int (bit 63 dropped: stay in signed int64)."""
    m = block_mean_8x8(img)
    bits = (m > m.mean()).flatten()
    v = 0
    for i in range(63):
        if bits[i]:
            v |= 1 << i
    return v


def sample_frames(b: bytes) -> list[tuple[int, bytes]]:
    """Every 4th frame of a video binary → (frame_idx, frame bytes)."""
    frames = decode_video(b)
    return [(i, frames[i].tobytes()) for i in range(0, frames.shape[0], 4)]


def audio_features(b: bytes) -> dict:
    sr, s = decode_audio(b)
    x = s.astype(np.float64)
    zc = int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
    return {
        "sample_rate": sr,
        "n_samples": int(s.shape[0]),
        "duration_ms": int(s.shape[0]) * 1000 // sr,
        "rms": float(np.sqrt((x * x).mean())),
        "zero_crossings": zc,
    }
