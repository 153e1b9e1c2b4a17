"""Multimodal (binary payload) plumbing: decode, integrity, feature extraction.

Images are opaque `binary` columns with typed metadata (w, h, fmt) — decoded
only at the last stage that needs pixels (the reference measures blob
decompression at ~33% of read cost, readosm.c:1783-1790 — same reason).
The in-repo codec handles fmt ∈ {raw, rle}; foreign codecs (jpeg/png) are
stubbed behind NotImplementedError (no image libs in this container) while the
Spark-side plumbing — schema, Arrow batching, output types — is real.

Every image operator runs pure per-shape-group kernels
`kernel(mat, W, H) -> {column: array}`, mat being the decoded (k, H*W) uint8
matrix of k same-shaped images, through `_map_images` — the single decode
path: one mapInPandas pass, one codec.decode_batch per Arrow batch. Each
kernel exists once; operators only name their kernels and output schema.
1→many operators take an array column and explode it JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.hashing import phash64_batch
from ..session import read_parquet
from ..sources import fixtures


def _decode_groups(pdf: pd.DataFrame):
    """Whole-batch decode + per-shape grouping: yields (W, H, idx, mat) where
    idx are the batch row positions with shape (W, H) and mat is their decoded
    pixel matrix (len(idx), H*W) uint8. One codec.decode_batch call per Arrow
    batch; kernels vectorize per shape group — no per-image Python loop
    anywhere in the codec family."""
    wv, hv = pdf["w"].to_numpy(), pdf["h"].to_numpy()
    fv = pdf["fmt"].to_numpy()
    flat, off = codec.decode_batch(pdf["bytes"], wv, hv, fv)
    for W, H in sorted({(int(a), int(b)) for a, b in zip(wv, hv)}):
        idx = np.flatnonzero((wv == W) & (hv == H))
        mat = flat[off[idx][:, None] + np.arange(W * H)]
        yield W, H, idx, mat


def _map_images(spark: SparkSession, sf_dir: str, kernel, schema: str,
                keep: tuple[str, ...] = ("image_id",)) -> DataFrame:
    """Run `kernel` over every decoded payload of the image table → one row
    per image: the `keep` columns passed through, then the kernel's columns
    (1-D results as scalar columns, 2-D results as array columns). Rows come
    out grouped by shape within each batch; no operator depends on order."""
    images = fixtures.read_fixture(spark, sf_dir, fixtures.ensure_images)

    def gen(batches):
        for pdf in batches:
            parts = []
            for W, H, idx, mat in _decode_groups(pdf):
                out = pdf[list(keep)].iloc[idx].reset_index(drop=True)
                for c, v in kernel(mat, W, H).items():
                    out[c] = list(v) if v.ndim == 2 else v
                parts.append(out)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(gen, schema=schema)


def _pix_stats(mat: np.ndarray, W: int, H: int) -> dict:
    """Exact pixel sum + phash of the decoded pixels."""
    return {"pix_sum": mat.sum(axis=1, dtype=np.int64), "phash_dec": phash64_batch(mat, W, H)}


def _laplacian(mat: np.ndarray, W: int, H: int) -> dict:
    """4-neighbor Laplacian energy, the variance-of-Laplacian blur gate:
    lap = 4p − N − S − W − E over interior pixels → exact Σ lap², Σ|lap|
    (golden twin: fixtures_text.ensure_golden_laplacian, per-image numpy)."""
    # narrow arithmetic, exact: |lap| ≤ 4·255 fits int16, lap² ≤ ~1.04e6
    # fits int32, and the reductions widen to int64 — ~4x less memory traffic
    # than int64 temporaries (this kernel is allocation bound, not ALU bound)
    m = mat.reshape(len(mat), H, W).astype(np.int16)
    lap = 4 * m[:, 1:-1, 1:-1]
    lap -= m[:, :-2, 1:-1]
    lap -= m[:, 2:, 1:-1]
    lap -= m[:, 1:-1, :-2]
    lap -= m[:, 1:-1, 2:]
    return {
        "lap_sq_sum": np.multiply(lap, lap, dtype=np.int32).sum(axis=(1, 2), dtype=np.int64),
        "lap_abs_sum": np.abs(lap).sum(axis=(1, 2), dtype=np.int64),
        # images under 3 px have no interior: clamp, never negative
        "n_interior": np.full(len(mat), max(H - 2, 0) * max(W - 2, 0), dtype=np.int64),
    }


def _block_means(mat: np.ndarray, W: int, H: int, grid: int) -> np.ndarray:
    """(k, grid*grid) block means = exact int64 block sum / (bh*bw)."""
    bh, bw = H // grid, W // grid
    sums = mat.reshape(len(mat), grid, bh, grid, bw).sum(axis=(2, 4), dtype=np.int64)
    return sums.reshape(len(mat), grid * grid) / float(bh * bw)


def _resize_stats(mat: np.ndarray, W: int, H: int, size: int) -> dict:
    """Nearest-neighbor gather to size×size (source index for output i =
    floor(i * h / size), top-left rule) → exact sum + phash of the result."""
    ri = (np.arange(size) * H) // size
    rj = (np.arange(size) * W) // size
    small = mat[:, (ri[:, None] * W + rj[None, :]).ravel()]
    return {"r_sum": small.sum(axis=1, dtype=np.int64), "r_phash": phash64_batch(small, size, size)}


def _frame_sums(mat: np.ndarray, W: int, H: int, stride: int) -> np.ndarray:
    """(k, ceil(H/stride)) exact sums of every stride-th row ("frame")."""
    return mat.reshape(len(mat), H, W)[:, ::stride].sum(axis=2, dtype=np.int64)


def decode_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (image_id, fmt, pix_sum, phash_dec) — engine decode of every payload.

    Golden twin (fixtures_text.ensure_golden_decode) computes the same
    through plain numpy, no Spark. phash_dec equals the stored phash column for
    fmt='raw' exactly; for 'rle' it may differ in marginal bits (quantization),
    which the pytest invariant bounds."""
    return _map_images(
        spark, sf_dir, _pix_stats,
        "image_id string, fmt string, pix_sum long, phash_dec long", keep=("image_id", "fmt"),
    )


def laplacian_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (image_id, lap_sq_sum, lap_abs_sum, n_interior): see _laplacian."""
    return _map_images(
        spark, sf_dir, _laplacian,
        "image_id string, lap_sq_sum long, lap_abs_sum long, n_interior long",
    )


def image_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (image_id, fmt, pix_sum, phash_dec, lap_sq_sum, lap_abs_sum,
    n_interior) — decode once, derive every per-image metric of
    decode_integrity and laplacian_stats from that one decode. Identical
    integers to those two operators; the oracle joins their two goldens."""
    return _map_images(
        spark, sf_dir, lambda m, W, H: {**_pix_stats(m, W, H), **_laplacian(m, W, H)},
        "image_id string, fmt string, pix_sum long, phash_dec long, "
        "lap_sq_sum long, lap_abs_sum long, n_interior long",
        keep=("image_id", "fmt"),
    )


BLOCK_GRID = 4


def block_mean_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction: per-image BLOCK_GRID² block-mean vector rounded to 6
    places (the resize/feature step of an image pipeline) → (image_id,
    features array)."""
    return _map_images(
        spark, sf_dir, lambda m, W, H: {"features": np.round(_block_means(m, W, H, BLOCK_GRID), 6)},
        "image_id string, features array<double>",
    )


def block_features_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block_mean_features unrounded and exploded to (image_id, feat_idx,
    value) — the oracle-checkable flat form. value = block_sum / (bh*bw) with
    an exact integer numerator, so the pure-Python golden twin
    (fixtures_text.ensure_golden_blockmeans) reproduces it bit-for-bit."""
    feats = _map_images(
        spark, sf_dir, lambda m, W, H: {"v": _block_means(m, W, H, BLOCK_GRID)},
        "image_id string, v array<double>",
    )
    return feats.select("image_id", F.posexplode("v").alias("feat_idx", "value"))


RESIZE_TO = 8


def resize_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize of every payload to RESIZE_TO² (pure numpy
    gather, no image libs) → (image_id, r_sum, r_phash): exact pixel sum +
    phash of the resized image, compact outputs that keep the oracle scalar."""
    return _map_images(
        spark, sf_dir, lambda m, W, H: _resize_stats(m, W, H, RESIZE_TO),
        "image_id string, r_sum long, r_phash long",
    )


FRAME_STRIDE = 8


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: each image row is treated as a
    frame sequence (h frames of w samples — the video analogue); every
    FRAME_STRIDE-th frame is emitted with its exact sum and mean.

    → (image_id, frame_idx, frame_sum, frame_mean). The kernel emits one
    frame-sum array per image; the 1→many explode, frame_idx = pos * FRAME_STRIDE
    and frame_mean = frame_sum / w (pure IEEE division — bit-equal to the
    pure-Python golden) run JVM-side."""
    frames = _map_images(
        spark, sf_dir, lambda m, W, H: {"s": _frame_sums(m, W, H, FRAME_STRIDE)},
        "image_id string, w int, s array<long>", keep=("image_id", "w"),
    )
    return frames.select("image_id", "w", F.posexplode("s").alias("pos", "frame_sum")).select(
        "image_id", (F.col("pos") * FRAME_STRIDE).alias("frame_idx"),
        "frame_sum", (F.col("frame_sum") / F.col("w")).alias("frame_mean"),
    )


AUDIO_WIN = 512


def audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio leg of the multimodal family: PCM16 clips (opaque binary +
    typed metadata) → per-AUDIO_WIN-sample-window exact energy, 1→many rows
    via mapInPandas.

    Whole-batch kernel: all clips' bytes join into one int16 buffer, window
    energies come from one np.add.reduceat over x² at precomputed window
    boundaries — no per-clip Python loop (same shape as decode_batch).
    Energy is an exact int64 sum of int32 squares, so the plain-python
    golden (sources/audio.ensure_golden_audio_energy) matches bit-for-bit."""
    from ..sources import audio as audio_src

    n = audio_src.n_clips_for(fixtures.n_images_for_sf(sf_dir))
    clips = read_parquet(spark, audio_src.ensure_audio(n)).select(
        "audio_id", "bytes", "n_samples"
    )

    def gen(batches):
        for pdf in batches:
            k = len(pdf)
            if k == 0:
                continue
            ns = pdf["n_samples"].to_numpy().astype(np.int64)
            flat = np.frombuffer(b"".join(pdf["bytes"]), dtype="<i2").astype(np.int64)
            clip_off = np.concatenate(([0], np.cumsum(ns)))
            wins_per = (ns + AUDIO_WIN - 1) // AUDIO_WIN
            # window start offsets, per clip, in the flat buffer
            total_w = int(wins_per.sum())
            first_w = np.concatenate(([0], np.cumsum(wins_per)))[:-1]
            wstart = (
                np.repeat(clip_off[:-1], wins_per)
                + (np.arange(total_w) - np.repeat(first_w, wins_per)) * AUDIO_WIN
            )
            energy = np.add.reduceat(flat * flat, wstart)
            win_idx = (np.arange(total_w) - np.repeat(first_w, wins_per)).astype("int32")
            yield pd.DataFrame(
                {
                    "audio_id": pdf["audio_id"].repeat(wins_per).reset_index(drop=True),
                    "win_idx": pd.Series(win_idx, dtype="int32"),
                    "energy": pd.Series(energy, dtype="int64"),
                }
            )

    return clips.mapInPandas(gen, schema="audio_id string, win_idx int, energy long")
