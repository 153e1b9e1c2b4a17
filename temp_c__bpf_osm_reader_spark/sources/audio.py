"""Deterministic audio fixture: PCM16 clips as opaque binary + typed metadata.

The audio leg of the multimodal-columns requirement (image/audio/video as
opaque binary with typed metadata): clips are variable-length int16 LE PCM —
two deterministic sine partials + uniform dither, every sample a pure
function of (clip_seed, sample_index) through splitmix64/u01, so the fixture
regenerates byte-identically anywhere. Real-world codecs (mp3/flac) would be
stubbed like jpeg/png in functions/codec.py; PCM keeps the decode exact and
oracle-able while the Spark-side plumbing (binary column, Arrow batching,
1→many window explode) is the real thing.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions.hashing import splitmix64, u01
from . import fixtures

AUDIO_SEED = 31_337_000
SR = 8000
WIN = 512


def n_clips_for(n_images: int) -> int:
    return max(200, n_images // 10)


def clip_samples(i: int) -> np.ndarray:
    """int16 samples of clip i (frozen spec — the golden replays it in
    plain python)."""
    h = splitmix64(np.array([AUDIO_SEED + i], dtype=np.int64))
    n = 2048 + int(h[0] % np.uint64(5)) * 1024  # 2048..6144 samples
    f1 = 100.0 + float(u01(splitmix64(np.array([AUDIO_SEED + 7 * i + 1], dtype=np.int64)))[0]) * 900.0
    f2 = 1000.0 + float(u01(splitmix64(np.array([AUDIO_SEED + 7 * i + 2], dtype=np.int64)))[0]) * 2000.0
    t = np.arange(n, dtype=np.float64) / SR
    dither = u01(splitmix64(np.arange(n, dtype=np.int64) + np.int64(AUDIO_SEED + 1_000_003 * (i + 1)))) - 0.5
    x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t) + 0.01 * dither
    return np.clip(np.round(x * 20000.0), -32768, 32767).astype(np.int16)


def ensure_audio(n: int) -> str:
    path = os.path.join(fixtures.DATA_DIR, f"audio_{n}.parquet")
    if os.path.exists(path):
        return path
    ids, blobs, srs, lens = [], [], [], []
    for i in range(n):
        s = clip_samples(i)
        ids.append(f"aud_{i:07d}")
        blobs.append(s.astype("<i2").tobytes())
        srs.append(SR)
        lens.append(len(s))
    tbl = pa.table(
        {
            "audio_id": pa.array(ids, pa.string()),
            "bytes": pa.array(blobs, pa.binary()),
            "sr": pa.array(srs, pa.int32()),
            "n_samples": pa.array(lens, pa.int32()),
            "fmt": pa.array(["pcm16"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, path)
    return path


def ensure_golden_audio_energy(n: int, win: int = WIN) -> str:
    """Independent plain-python (struct.unpack, no numpy) replay of the
    window-energy spec: non-overlapping windows of `win` samples (tail
    window included, shorter), energy = exact int64 sum of x^2."""
    p = os.path.join(fixtures.DATA_DIR, f"golden_audio_energy_{n}_{win}.parquet")
    if os.path.exists(p):
        return p
    import struct

    src = pd.read_parquet(ensure_audio(n))
    ids, wix, en = [], [], []
    for _, row in src.iterrows():
        raw = row["bytes"]
        vals = struct.unpack(f"<{len(raw) // 2}h", raw)
        for w0 in range(0, len(vals), win):
            seg = vals[w0 : w0 + win]
            ids.append(row["audio_id"])
            wix.append(w0 // win)
            en.append(sum(v * v for v in seg))
    out = pd.DataFrame(
        {
            "audio_id": pd.Series(ids, dtype=object),
            "win_idx": pd.Series(wix, dtype="int32"),
            "energy": pd.Series(en, dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p
