"""Deterministic 64-bit hashing kernels (vectorized numpy, no per-row Python).

Frozen specs — every other module (generators, UDFs, goldens, oracles) derives
from these exact formulas; changing any constant invalidates golden fixtures.

The reference's analogue of this file is the fixed-point/delta arithmetic of
its decoder (readosm.c:1179-1211) — deterministic integer math that every
consumer must reproduce bit-for-bit.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64

# splitmix64 constants (Vigna, public domain — http://prng.di.unimi.it/splitmix64.c)
_SM_GAMMA = U64(0x9E3779B97F4A7C15)
_SM_M1 = U64(0xBF58476D1CE4E5B9)
_SM_M2 = U64(0x94D049BB133111EB)

# FNV-1a 64-bit constants
_FNV_OFFSET = U64(0xCBF29CE484222325)
_FNV_PRIME = U64(0x100000001B3)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array. Input may be int64 (reinterpreted)."""
    z = np.asarray(x).astype(np.int64, copy=False).view(U64) + _SM_GAMMA
    z = (z ^ (z >> U64(30))) * _SM_M1
    z = (z ^ (z >> U64(27))) * _SM_M2
    return z ^ (z >> U64(31))


def fnv1a64_bytes(data: bytes) -> int:
    """FNV-1a over one byte string → uint64 (python int)."""
    h = int(_FNV_OFFSET)
    for b in data:
        h = ((h ^ b) * int(_FNV_PRIME)) & 0xFFFFFFFFFFFFFFFF
    return h


def fnv1a64_str_array(strs) -> np.ndarray:
    """FNV-1a over an iterable of strings → uint64 array.

    Fully vectorized: one pyarrow UTF-8 buffer (contiguous bytes + offsets) is
    scattered into a padded (n, maxlen) matrix with no per-string Python loop,
    then hashed column-by-column (maxlen iterations — ~13 for image ids).
    """
    import pyarrow as pa

    if isinstance(strs, pa.Array):
        arr = strs  # Arrow-native callers (mapInArrow): zero conversion
        if pa.types.is_large_string(arr.type):
            # large_string has int64 offsets — the int32 view below would
            # silently misread them; normalize first
            arr = arr.cast(pa.string())
        elif not pa.types.is_string(arr.type):
            raise TypeError(f"fnv1a64_str_array: expected string array, got {arr.type}")
    else:
        arr = pa.array(strs, type=pa.string())
    if arr.null_count:
        raise ValueError("fnv1a64_str_array: null strings not allowed")
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=U64)
    validity, offsets_buf, data_buf = arr.buffers()
    off = np.frombuffer(offsets_buf, dtype=np.int32)[arr.offset : arr.offset + n + 1]
    off = off.astype(np.int64)
    buf = np.frombuffer(data_buf, dtype=np.uint8)
    lens = np.diff(off)
    starts = off[:-1]
    maxlen = int(lens.max()) if n else 0
    h = np.full(n, _FNV_OFFSET, dtype=U64)
    if maxlen == 0:
        return h
    # byte j of every string is a strided gather from the shared UTF-8 buffer
    # (no scatter matrix — O(Σlen) gathers total, nothing materialized per row)
    if int(lens.min()) == maxlen:
        # uniform length (generated ids): Arrow's data buffer is the packed
        # (n, maxlen) byte matrix already — column views, no gathers/masks
        mat = buf[starts[0] : starts[0] + n * maxlen].reshape(n, maxlen)
        for j in range(maxlen):
            np.bitwise_xor(h, mat[:, j].astype(U64), out=h)
            np.multiply(h, _FNV_PRIME, out=h)
    else:
        alive = np.arange(n)  # strings longer than j — shrinks monotonically
        for j in range(maxlen):
            alive = alive[lens[alive] > j]
            b = buf[starts[alive] + j].astype(U64)
            h[alive] = (h[alive] ^ b) * _FNV_PRIME
    return h


def u01(x: np.ndarray) -> np.ndarray:
    """uint64 → float64 uniform in [0, 1) using the top 53 bits."""
    return (np.asarray(x, dtype=U64) >> U64(11)).astype(np.float64) / float(1 << 53)


def phash64(pixels: np.ndarray, w: int, h: int) -> int:
    """Perceptual hash of a grayscale image: 8x8 block means vs their median → 64 bits.

    Frozen spec: blocks are (h//8, w//8); bit (r*8+c) set iff block mean > median
    of the 64 means; bits packed MSB-first into an int64 (two's complement).
    Mirrors the role of the reference's node id (the stable per-entity key,
    pbf2sqlite.c:415) — here derived from payload so duplicates collide.
    """
    img = pixels.reshape(h, w).astype(np.float64)
    bh, bw = h // 8, w // 8
    means = img.reshape(8, bh, 8, bw).mean(axis=(1, 3))  # (8, 8)
    med = np.median(means)
    bits = (means > med).astype(np.uint64).ravel()
    val = U64(0)
    for i in range(64):
        val = (val << U64(1)) | bits[i]
    return int(val.view(np.int64))


def phash64_batch(flat_pixels: np.ndarray, w: int, h: int) -> np.ndarray:
    """phash64 over a batch of same-shape images: (n, h*w) uint8 → int64[n]."""
    n = flat_pixels.shape[0]
    img = flat_pixels.reshape(n, 8, h // 8, 8, w // 8).astype(np.float64)
    means = img.mean(axis=(2, 4)).reshape(n, 64)  # (n, 64)
    med = np.median(means, axis=1, keepdims=True)
    bits = (means > med).astype(np.uint64)
    weights = U64(1) << np.arange(63, -1, -1, dtype=U64)
    return (bits * weights).sum(axis=1, dtype=U64).view(np.int64)


def minhash_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) coefficient arrays for num_perm universal-hash permutations."""
    idx = np.arange(num_perm, dtype=np.int64)
    a = splitmix64(idx + np.int64(seed * 1_000_003)) | U64(1)  # odd multipliers
    b = splitmix64(idx + np.int64(seed * 1_000_003 + 500_009))
    return a, b


def minhash_signature(shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature: min over shingles of (a*h + b) per permutation → uint64[num_perm]."""
    if shingle_hashes.size == 0:
        return np.full(a.shape[0], U64(0xFFFFFFFFFFFFFFFF), dtype=U64)
    sh = np.asarray(shingle_hashes, dtype=U64)
    # (num_perm, n_shingles) — fine for num_perm<=128 and shingles<=few thousand
    vals = a[:, None] * sh[None, :] + b[:, None]
    return vals.min(axis=1)


def simhash64(token_hashes: np.ndarray, weights: np.ndarray | None = None) -> int:
    """SimHash: weighted bit-vote over token hashes → 64-bit fingerprint (int64)."""
    th = np.asarray(token_hashes, dtype=U64)
    if th.size == 0:
        return 0
    if weights is None:
        weights = np.ones(th.shape[0], dtype=np.float64)
    bits = ((th[:, None] >> np.arange(64, dtype=U64)[None, :]) & U64(1)).astype(np.float64)
    votes = (bits * 2.0 - 1.0) * weights[:, None]
    sig_bits = (votes.sum(axis=0) > 0).astype(np.uint64)
    val = (sig_bits << np.arange(64, dtype=U64)).sum(dtype=U64)
    return int(val.view(np.int64))


# ---------------------------------------------------------------------------
# Whole-batch text-signature kernels (no per-document Python loop)
# ---------------------------------------------------------------------------
# The round-1 signature UDFs looped `for t in text` per document; these
# kernels process the entire Arrow batch at once:
#   * tokens and word-3-gram shingles are SUBSTRINGS of the utf-8 buffer
#     (split/join on a single space reproduces the exact bytes), so hashing
#     never materializes per-document Python strings;
#   * MinHash: min over a multiset equals min over the set, so shingle
#     dedup is unnecessary — one fnv pass over all shingle slices + one
#     segmented minimum per permutation;
#   * SimHash: distinctness DOES matter (unweighted vote) — dedup is a
#     lexsort over (doc, hash) pairs, then 64 segmented votes.
# Outputs are bit-identical to the per-document reference path (pinned by
# tests/test_text_batch_kernels.py and the frozen sf0.01 goldens).


def _batch_token_bounds(arr):
    """Arrow string array → (buf, doc_off, tok_starts, tok_ends, tok_per_doc).

    Token semantics are exactly Python's str.split(" "): empty tokens appear
    between consecutive spaces and at the ends. All offsets are absolute
    indices into the shared utf-8 data buffer. 0x20 never occurs inside a
    multi-byte utf-8 sequence, so byte-level splitting equals char-level."""
    import pyarrow as pa

    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    if arr.null_count:
        raise ValueError("null text not allowed")
    n = len(arr)
    _, offsets_buf, data_buf = arr.buffers()
    off = np.frombuffer(offsets_buf, dtype=np.int32)[arr.offset : arr.offset + n + 1]
    off = off.astype(np.int64)
    buf = np.frombuffer(data_buf, dtype=np.uint8)
    lo, hi = off[0], off[-1]
    spaces = lo + np.flatnonzero(buf[lo:hi] == 0x20)
    tok_per_doc = np.diff(np.searchsorted(spaces, off)) + 1
    tdo = np.concatenate(([0], np.cumsum(tok_per_doc)))  # token offsets per doc
    total = int(tdo[-1])
    first = np.zeros(total + 1, dtype=bool)
    first[tdo[:-1]] = True
    first = first[:total]
    last = np.zeros(total, dtype=bool)
    last[tdo[1:] - 1] = True
    tok_starts = np.empty(total, dtype=np.int64)
    tok_ends = np.empty(total, dtype=np.int64)
    tok_starts[first] = off[:-1]
    tok_starts[~first] = spaces + 1
    tok_ends[last] = off[1:]
    tok_ends[~last] = spaces
    return buf, off, tok_starts, tok_ends, tok_per_doc


def fnv1a64_slices(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """FNV-1a 64 over arbitrary byte slices of one shared buffer → uint64[n].

    Same alive-gather walk as fnv1a64_str_array's variable-length path: byte
    j of every still-alive slice is one strided gather; total work O(Σlen)."""
    n = len(starts)
    h = np.full(n, _FNV_OFFSET, dtype=U64)
    if n == 0:
        return h
    maxlen = int(lens.max())
    alive = np.flatnonzero(lens > 0)
    for j in range(maxlen):
        alive = alive[lens[alive] > j]
        b = buf[starts[alive] + j].astype(U64)
        h[alive] = (h[alive] ^ b) * _FNV_PRIME
    return h


def minhash_sigs_batch(arr, num_perm: int = 64, seed: int = 7) -> np.ndarray:
    """MinHash signatures for a whole Arrow string batch → uint64 (n, num_perm).

    Spec-identical to: per doc, shingles = word 3-grams (whole doc if < 3
    tokens), sig[p] = min over shingles of a_p*fnv(shingle)+b_p (mod 2^64)."""
    buf, off, tok_starts, tok_ends, tok_per_doc = _batch_token_bounds(arr)
    n = len(tok_per_doc)
    a, b = minhash_params(num_perm, seed=seed)
    if n == 0:
        return np.empty((0, num_perm), dtype=U64)
    tdo = np.concatenate(([0], np.cumsum(tok_per_doc)))
    sh_per_doc = np.maximum(tok_per_doc - 2, 1)
    sdo = np.concatenate(([0], np.cumsum(sh_per_doc)))
    S = int(sdo[-1])
    within = np.arange(S) - np.repeat(sdo[:-1], sh_per_doc)
    tok_idx = np.repeat(tdo[:-1], sh_per_doc) + within
    sh_starts = tok_starts[tok_idx]
    # end token = tok_idx + 2, clipped before the gather: short docs (< 3
    # tokens) are overwritten below with the whole-doc slice
    sh_ends = tok_ends[np.minimum(tok_idx + 2, len(tok_ends) - 1)]
    short = np.repeat(tok_per_doc < 3, sh_per_doc)
    if short.any():
        doc_of_sh = np.repeat(np.arange(n), sh_per_doc)
        sh_starts[short] = off[:-1][doc_of_sh[short]]
        sh_ends[short] = off[1:][doc_of_sh[short]]
    hashes = fnv1a64_slices(buf, sh_starts, sh_ends - sh_starts)
    sig = np.empty((n, num_perm), dtype=U64)
    seg = sdo[:-1]
    for p in range(num_perm):
        sig[:, p] = np.minimum.reduceat(a[p] * hashes + b[p], seg)
    return sig


def simhash_batch(arr) -> np.ndarray:
    """SimHash fingerprints for a whole Arrow string batch → int64[n].

    Spec-identical to: per doc, distinct word tokens, unweighted bit-vote
    (simhash64). Distinctness is by token hash — equal to by-string short of
    an FNV-64 collision, which the frozen goldens pin as absent."""
    buf, off, tok_starts, tok_ends, tok_per_doc = _batch_token_bounds(arr)
    n = len(tok_per_doc)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    th = fnv1a64_slices(buf, tok_starts, tok_ends - tok_starts)
    tok_doc = np.repeat(np.arange(n, dtype=np.int64), tok_per_doc)
    order = np.lexsort((th, tok_doc))
    sth, sdoc = th[order], tok_doc[order]
    keep = np.empty(len(sth), dtype=bool)
    keep[0] = True
    np.logical_or(sdoc[1:] != sdoc[:-1], sth[1:] != sth[:-1], out=keep[1:])
    dth, ddoc = sth[keep], sdoc[keep]
    d_off = np.concatenate(([0], np.cumsum(np.bincount(ddoc, minlength=n))))
    seg = d_off[:-1]
    sig = np.zeros(n, dtype=U64)
    for bit in range(64):
        votes = np.add.reduceat(
            (((dth >> U64(bit)) & U64(1)).view(np.int64) << 1) - 1, seg
        )
        sig |= (votes > 0).astype(U64) << U64(bit)
    return sig.view(np.int64)


# ---------------------------------------------------------- Spark XXH64 twin
#
# Bit-exact numpy twin of Spark's `xxhash64` SQL function
# (org.apache.spark.sql.catalyst.expressions.XxHash64 /
# common/sketch XXH64.java, itself standard xxHash64). This is what lets the
# geolocate spec live as PURE JVM COLUMN EXPRESSIONS in the hot pipeline
# (zero Python crossing) while fixtures/goldens/oracles reproduce the exact
# same doubles driver-side in numpy. Verified property-style against Spark in
# tests/test_kernels.py::test_xxh64_matches_spark.

_XP1 = U64(0x9E3779B185EBCA87)
_XP2 = U64(0xC2B2AE3D27D4EB4F)
_XP3 = U64(0x165667B19E3779F9)
_XP4 = U64(0x85EBCA77C2B2AE63)
_XP5 = U64(0x27D4EB2F165667C5)
XXH64_SEED = U64(42)  # Spark's default seed for xxhash64(...)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << U64(r)) | (x >> U64(64 - r))


def _xxh_fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> U64(33))
    h = h * _XP2
    h = h ^ (h >> U64(29))
    h = h * _XP3
    h = h ^ (h >> U64(32))
    return h


def xxh64_long(x: np.ndarray, seed: int | np.uint64 | np.ndarray = XXH64_SEED) -> np.ndarray:
    """Spark `xxhash64(<bigint col>)`: XXH64.hashLong(x, seed) vectorized.
    Input int64 or uint64 array (bits reinterpreted); returns uint64.
    `seed` may be a per-row uint64 array — Spark's multi-column
    `xxhash64(c1, c2, ...)` chains each column's hash as the next column's
    seed, so `xxh64_long(c2, xxh64_long(c1))` reproduces it exactly."""
    v = np.asarray(x).astype(np.int64, copy=False).view(U64)
    h = np.asarray(seed, dtype=U64) + _XP5 + U64(8)
    if h.ndim == 0 and np.ndim(v):
        h = np.broadcast_to(h, v.shape).copy()
    k1 = _rotl64(v * _XP2, 31) * _XP1
    h = h ^ k1
    h = _rotl64(h, 27) * _XP1 + _XP4
    return _xxh_fmix(h)


def _xxh64_small_bytes(mat: np.ndarray, lens: np.ndarray, seed: np.uint64) -> np.ndarray:
    """XXH64 over per-row byte slices ALL shorter than 32 bytes.
    mat: (n, 32) zero-padded little-endian byte matrix; lens: int64[n]."""
    n = len(lens)
    words = np.ascontiguousarray(mat).view("<u8")  # (n, 4)
    ints = np.ascontiguousarray(mat).view("<u4")  # (n, 8)
    h = np.full(n, U64(seed) + _XP5, dtype=U64) + lens.astype(U64)
    nwords = lens >> 3
    for w in range(4):
        m = nwords > w
        if not m.any():
            break
        k1 = _rotl64(words[m, w] * _XP2, 31) * _XP1
        hm = h[m] ^ k1
        h[m] = _rotl64(hm, 27) * _XP1 + _XP4
    off = (nwords << 3).astype(np.int64)
    rem = (lens & 7).astype(np.int64)
    m4 = rem >= 4
    if m4.any():
        k = ints[m4, (off[m4] >> 2)].astype(U64)
        hm = h[m4] ^ (k * _XP1)
        h[m4] = _rotl64(hm, 23) * _XP2 + _XP3
        off = off + np.where(m4, 4, 0)
        rem = rem - np.where(m4, 4, 0)
    for t in range(3):
        m = rem > t
        if not m.any():
            break
        b = mat[m, off[m] + t].astype(U64)
        hm = h[m] ^ (b * _XP5)
        h[m] = _rotl64(hm, 11) * _XP1
    return _xxh_fmix(h)


def _xxh64_bytes_one(b: bytes, seed: int) -> int:
    """Reference scalar XXH64 (any length) — fallback for rows >= 32 bytes."""
    P1, P2, P3, P4, P5 = (int(_XP1), int(_XP2), int(_XP3), int(_XP4), int(_XP5))
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n = len(b)
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        i = 0
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(b[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + k * P2) & M
                v = rotl(v, 31)
                v = (v * P1) & M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            k = rotl((v * P2) & M, 31)
            k = (k * P1) & M
            h ^= k
            h = ((h * P1) + P4) & M
    else:
        h = (seed + P5) & M
        i = 0
    h = (h + n) & M
    while i <= n - 8:
        k = int.from_bytes(b[i : i + 8], "little")
        k = rotl((k * P2) & M, 31)
        k = (k * P1) & M
        h ^= k
        h = (rotl(h, 27) * P1 + P4) & M
        i += 8
    if i <= n - 4:
        k = int.from_bytes(b[i : i + 4], "little")
        h ^= (k * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (b[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h


def xxh64_str_array(strs, seed: int | np.uint64 = XXH64_SEED) -> np.ndarray:
    """Spark `xxhash64(<string col>)` over an Arrow string array / iterable of
    str → uint64[n]. Vectorized for byte lengths < 32 (the image_id case);
    longer rows take a scalar fallback."""
    import pyarrow as pa

    if isinstance(strs, pa.Array):
        arr = strs
        if pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.string())
        elif not pa.types.is_string(arr.type):
            raise TypeError(f"xxh64_str_array: expected string array, got {arr.type}")
    else:
        arr = pa.array(list(strs), type=pa.string())
    if arr.null_count:
        raise ValueError("xxh64_str_array: null strings not allowed")
    n = len(arr)
    out = np.empty(n, dtype=U64)
    if n == 0:
        return out
    _, offsets_buf, data_buf = arr.buffers()
    off = np.frombuffer(offsets_buf, dtype=np.int32)[arr.offset : arr.offset + n + 1]
    off = off.astype(np.int64)
    buf = np.frombuffer(data_buf, dtype=np.uint8)
    lens = np.diff(off)
    starts = off[:-1]
    small = lens < 32
    if small.any():
        idx = np.flatnonzero(small)
        sl = lens[idx]
        mat = np.zeros((len(idx), 32), dtype=np.uint8)
        maxlen = int(sl.max()) if len(sl) else 0
        alive = np.arange(len(idx))
        for j in range(maxlen):
            alive = alive[sl[alive] > j]
            mat[alive, j] = buf[starts[idx[alive]] + j]
        out[idx] = _xxh64_small_bytes(mat, sl, U64(seed))
    if (~small).any():
        for i in np.flatnonzero(~small):
            raw = bytes(buf[starts[i] : starts[i] + lens[i]])
            out[i] = _xxh64_bytes_one(raw, int(seed))
    return out
