"""Pure-numpy kernel invariants (no Spark) — fast-fail layer.

Mirrors the reference's assertion lattice (readosm.c:65-68 wrong_assumption +
~40 wire-contract checks, SURVEY §5.4): every frozen spec gets a pinned value.
"""

import numpy as np
import pytest

from temp_c__bpf_osm_reader_spark.functions import codec, geo, hashing
from temp_c__bpf_osm_reader_spark.sources import blocks, images


def test_splitmix64_pinned():
    # pinned reference values — spec freeze
    out = hashing.splitmix64(np.array([0, 1, 2], dtype=np.int64))
    assert out[0] == np.uint64(16294208416658607535)
    assert out[1] == np.uint64(10451216379200822465)


def test_fnv1a64_matches_scalar():
    ids = ["img_0000001", "x", "", "äöü中"]
    batch = hashing.fnv1a64_str_array(ids)
    for s, h in zip(ids, batch):
        assert hashing.fnv1a64_bytes(s.encode("utf-8")) == int(h)


def test_codec_raw_roundtrip_exact():
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, 16 * 32, dtype=np.uint8)
    assert np.array_equal(codec.decode(codec.encode(px, "raw"), 16, 32, "raw"), px)


def test_codec_rle_psnr_above_40():
    rng = np.random.default_rng(2)
    for shape in [(16, 16), (64, 32)]:
        px = rng.integers(0, 256, shape[0] * shape[1], dtype=np.uint8)
        dec = codec.decode(codec.encode(px, "rle"), shape[0], shape[1], "rle")
        assert codec.psnr(px, dec) >= 40.0


def test_codec_rle_long_runs():
    px = np.zeros(64 * 64, dtype=np.uint8)  # single 4096-run → 255-chunking
    px[1000:2000] = 200
    dec = codec.decode(codec.encode(px, "rle"), 64, 64, "rle")
    assert np.array_equal(dec, codec.quantize_rle(px))


def test_codec_unknown_fmt_stubbed():
    with pytest.raises(NotImplementedError):
        codec.decode(b"", 8, 8, "jpeg")


def test_phash_batch_matches_single():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (4, 32 * 32), dtype=np.uint8)
    batch = hashing.phash64_batch(px, 32, 32)
    for r in range(4):
        assert hashing.phash64(px[r], 32, 32) == batch[r]


def test_latlon_bounds_and_jitter():
    ph = np.array([123, 123, 456], dtype=np.int64)
    lat, lon = geo.latlon_from_phash(ph, ["a", "b", "c"])
    assert (lat >= -90).all() and (lat < 90).all()
    assert (lon >= -180).all() and (lon < 180).all()
    # same phash → same pocket (≤ jitter width), different ids → not identical
    assert abs(lat[0] - lat[1]) <= geo.JITTER_DEG
    assert lat[0] != lat[1]


def test_grid_cell_roundtrip_parts():
    lat = np.array([-90.0, 0.0, 89.999, 47.4])
    lon = np.array([-180.0, 0.0, 179.999, 9.4])
    for res in (7, 8, 9):
        c = geo.grid_cell(lat, lon, res)
        r, i, j = geo.cell_parts(c)
        ny, nx = geo.grid_dims(res)
        assert (r == res).all()
        assert (i >= 0).all() and (i < ny).all()
        assert (j >= 0).all() and (j < nx).all()
        lat0 = i / ny * 180.0 - 90.0
        assert ((lat >= lat0) & (lat < lat0 + 180.0 / ny)).all()


def test_cell_parent_hierarchy():
    lat = np.array([47.4]),
    c9 = geo.grid_cell(np.array([47.4]), np.array([9.4]), 9)
    c7 = geo.grid_cell(np.array([47.4]), np.array([9.4]), 7)
    assert geo.cell_parent(c9, 7)[0] == c7[0]


def test_k_ring_interior_and_pole():
    c = geo.grid_cell(np.array([0.0]), np.array([0.0]), 7)[0]
    assert geo.k_ring(int(c), 1).size == 9
    assert geo.k_ring(int(c), 2).size == 25
    cp = geo.grid_cell(np.array([89.9]), np.array([0.0]), 7)[0]
    assert geo.k_ring(int(cp), 1).size == 6  # clipped at pole


def test_k_ring_lon_wrap():
    c = geo.grid_cell(np.array([0.0]), np.array([-179.9]), 7)[0]
    ring = geo.k_ring(int(c), 1)
    assert ring.size == 9  # wraps the antimeridian, no loss


def test_pip_square_semantics():
    rl = np.array([0.0, 0, 1, 1, 0])
    rlo = np.array([0.0, 1, 1, 0, 0])
    lat = np.array([0.5, 0.5, 1.5, 0.999999])
    lon = np.array([0.5, -0.1, 0.5, 0.000001])
    assert geo.point_in_polygon(lat, lon, rl, rlo).tolist() == [True, False, False, True]


def test_pip_concave():
    # U-shape (lat, lon) vertices: notch cut from the top between lon 1 and 3
    verts = [(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (3, 3), (3, 4), (0, 4), (0, 0)]
    rl = np.array([v[0] for v in verts], dtype=float)
    rlo = np.array([v[1] for v in verts], dtype=float)
    lat = np.array([0.5, 2.5, 2.5, 0.5])
    lon = np.array([0.5, 0.5, 2.0, 3.5])
    res = geo.point_in_polygon(lat, lon, rl, rlo)
    assert res.tolist() == [True, True, False, True]  # notch interior excluded


def test_cover_classification_exact():
    """_classify_cover's verdicts hold pointwise: every sampled point of a
    'full' cell ray-casts inside, and no point of a DROPPED bbox cell
    ray-casts inside — so the cover pruning can never change pip_join's row
    set (the Spark-side guard is the independent brute-force golden)."""
    import pandas as pd

    from temp_c__bpf_osm_reader_spark.operators import spatial_join
    from temp_c__bpf_osm_reader_spark.sources import fixtures

    polys = pd.read_parquet(fixtures.ensure_polygons(fixtures.n_polygons_for(1060)))
    cover = spatial_join._classify_cover(polys, spatial_join.PIP_RES)
    rng = np.random.default_rng(7)
    checked_full = checked_dropped = 0
    for _, row in polys.iterrows():
        ring_lat = np.asarray(row["ring_lat"])
        ring_lon = np.asarray(row["ring_lon"])
        mine = cover[cover["polygon_id"] == row["polygon_id"]]
        kept = dict(zip(mine["cell_id"], mine["_full"]))
        for c in geo.polyfill_bbox(ring_lat, ring_lon, spatial_join.PIP_RES):
            lat0, lat1, lon0, lon1 = geo.cell_bounds(int(c))
            la = rng.uniform(lat0, lat1, 64)
            lo = rng.uniform(lon0, lon1, 64)
            inside = geo.point_in_polygon(la, lo, ring_lat, ring_lon)
            if int(c) not in kept:  # dropped as all-outside
                assert not inside.any(), (row["polygon_id"], int(c))
                checked_dropped += 1
            elif kept[int(c)]:  # classified fully-interior
                assert inside.all(), (row["polygon_id"], int(c))
                checked_full += 1
    assert checked_full > 0 and checked_dropped > 0


def test_zigzag_roundtrip():
    # spec domain: |d| < 2^62 (coordinate deltas are ≤ 3.6e9; ids monotone)
    d = np.array([0, 1, -1, 2**61, -(2**61), 12345, -3_600_000_000], dtype=np.int64)
    assert np.array_equal(blocks.zigzag_decode(blocks.zigzag_encode(d)), d)


def test_generator_determinism_and_dup_structure():
    a = images.generate_images(500, seed=42)
    b = images.generate_images(500, seed=42)
    assert a.equals(b)
    sizes = a.groupby("phash").size()
    assert sizes.max() >= 20  # Zipf head → hot cell
    assert set(a["fmt"]) == {"raw", "rle"}


def test_blocks_roundtrip_numpy():
    imgs = images.generate_images(250, seed=42)
    bl = blocks.encode_blocks(imgs, block_sz=100)
    assert len(bl) == 3
    ids = np.cumsum(np.asarray(bl.iloc[1]["id_delta"]))
    assert ids[0] == 100 and ids[-1] == 199


def test_decode_batch_equals_scalar_decode():
    """Whole-batch decode must be byte-identical to the scalar decoder on the
    committed mixed-format fixture, and raise its exact errors."""
    import numpy as np
    import pandas as pd
    import pytest

    from temp_c__bpf_osm_reader_spark.functions import codec
    from temp_c__bpf_osm_reader_spark.sources import fixtures

    df = pd.read_parquet(fixtures.ensure_images(1060))
    w, h, f = df["w"].to_numpy(), df["h"].to_numpy(), df["fmt"].to_numpy()
    flat, off = codec.decode_batch(df["bytes"], w, h, f)
    for i in range(0, len(df), 97):
        px = codec.decode(df["bytes"].iloc[i], int(w[i]), int(h[i]), f[i])
        assert np.array_equal(px, flat[off[i] : off[i + 1]])
    with pytest.raises(ValueError, match="raw payload size"):
        codec.decode_batch([b"xx"], np.array([2]), np.array([2]), np.array(["raw"]))
    with pytest.raises(ValueError, match="odd length"):
        codec.decode_batch([b"xxx"], np.array([2]), np.array([2]), np.array(["rle"]))
    with pytest.raises(ValueError, match="rle decoded size"):
        codec.decode_batch([b"\x03\x05"], np.array([2]), np.array([2]), np.array(["rle"]))
    with pytest.raises(NotImplementedError):
        codec.decode_batch([b""], np.array([1]), np.array([1]), np.array(["jpeg"]))
    # empty batch
    flat0, off0 = codec.decode_batch(
        [], np.array([], dtype=np.int64), np.array([], dtype=np.int64), np.array([], dtype=object)
    )
    assert flat0.size == 0 and list(off0) == [0]


def test_batch_text_kernels_equal_reference_path():
    """minhash_sigs_batch / simhash_batch vs the spec's per-document
    formulation, including edge shapes (empties, runs of spaces, unicode,
    short docs)."""
    import numpy as np
    import pyarrow as pa

    from temp_c__bpf_osm_reader_spark.functions.hashing import (
        fnv1a64_str_array,
        minhash_params,
        minhash_sigs_batch,
        minhash_signature,
        simhash64,
        simhash_batch,
    )

    def shingles(text, n=3):
        toks = text.split(" ")
        if len(toks) < n:
            return [" ".join(toks)]
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))

    texts = [
        "", " ", "  ", "a", "a b", "a b c", "a b c d", "a  b   c",
        " leading", "trailing ", "α β γ δ 中文 字 符", "x " * 200,
        "same same same same", "a b c a b c a b c",
    ]
    arr = pa.array(texts, type=pa.string())
    a, b = minhash_params(64, seed=7)
    ref_m = np.stack([minhash_signature(fnv1a64_str_array(shingles(t)), a, b) for t in texts])
    assert np.array_equal(minhash_sigs_batch(arr), ref_m)
    ref_s = np.array(
        [simhash64(fnv1a64_str_array(list(dict.fromkeys(t.split(" "))))) for t in texts],
        dtype=np.int64,
    )
    assert np.array_equal(simhash_batch(arr), ref_s)
    # sliced arrow arrays (non-zero offset) must decode identically
    sl = arr.slice(3, 8)
    assert np.array_equal(minhash_sigs_batch(sl), ref_m[3:11])
    assert np.array_equal(simhash_batch(sl), ref_s[3:11])


def test_nd_bits_scaling_law():
    """nd_bits_for must floor at ND_BITS (keeps the small-sf oracle path
    byte-identical), grow with log2(n) to bound E[bucket size], and cap at 48
    (key must pack with band_id into one BIGINT). The fixed-width regression
    this guards: 8-bit bands at n=106k -> ~414 rows/bucket -> ~3.5e8 candidate
    pairs (the sf1.0 stress-pass disk-spill failure)."""
    from temp_c__bpf_osm_reader_spark.operators import similarity as S

    assert S.nd_bits_for(1000) == S.ND_BITS == 8
    assert S.nd_bits_for(4096) == 8          # log2(4096/16) = 8 exactly
    assert S.nd_bits_for(106_000) == 13      # the stress scale
    assert S.nd_bits_for(10**12) == 36
    assert S.nd_bits_for(10**20) == 48       # BIGINT-pack cap
    # expected bucket size n / 2^bits stays bounded through the growth range
    for n in (10**4, 10**6, 10**9, 10**12):
        assert n / (1 << S.nd_bits_for(n)) <= 2 * S.ND_TARGET_BUCKET
    # the plane prefix is width-stable: the first 8-bit band's planes under a
    # wider layout are NOT required to match, but the bits=8 layout itself must
    # reproduce the original fixed-width planes bit-for-bit (oracle identity).
    import numpy as np

    p8 = S._planes(S.ND_BANDS * 8, S.ND_SEED)
    assert p8.shape == (S.ND_BANDS * 8, S.SRP_DIM)
    idx = np.arange(S.ND_BANDS * 8 * S.SRP_DIM, dtype=np.int64) + S.ND_SEED
    from temp_c__bpf_osm_reader_spark.functions.hashing import splitmix64, u01

    assert np.array_equal(p8, (u01(splitmix64(idx)) * 2.0 - 1.0).reshape(128, S.SRP_DIM))


def test_laplacian_spike_closed_form(spark_none=None):
    """Hand example for the blur-metric spec: constant image -> all-zero
    Laplacian; one interior spike of +v on a constant background produces
    lap² sum (4v)² + 4·v² and |lap| sum 4v + 4v (the center 4v plus four
    neighbors each -v)."""
    from temp_c__bpf_osm_reader_spark.sources import fixtures_text

    # reuse the golden twin's exact derivation on synthetic pixel grids
    def twin(m):
        m = m.astype(np.int64)
        lap = (
            4 * m[1:-1, 1:-1] - m[:-2, 1:-1] - m[2:, 1:-1] - m[1:-1, :-2] - m[1:-1, 2:]
        )
        return int((lap * lap).sum()), int(np.abs(lap).sum())

    const = np.full((8, 8), 37, dtype=np.uint8)
    assert twin(const) == (0, 0)
    v = 50
    spike = np.full((8, 8), 10, dtype=np.uint8)
    spike[4, 4] += v
    sq, ab = twin(spike)
    assert sq == (4 * v) ** 2 + 4 * v * v
    assert ab == 4 * v + 4 * v
    # the engine's own kernel (no Spark) on the same closed form, and on the
    # sub-3-px shapes no Spark fixture reaches: no interior, zero sums
    from temp_c__bpf_osm_reader_spark.operators.multimodal import _laplacian

    def engine(m):
        H, W = m.shape
        r = _laplacian(m.reshape(1, H * W), W, H)
        return int(r["lap_sq_sum"][0]), int(r["lap_abs_sum"][0]), int(r["n_interior"][0])

    assert engine(const) == (0, 0, 36)
    assert engine(spike) == (sq, ab, 36)
    rng = np.random.default_rng(3)
    for H, W in ((1, 1), (1, 5), (5, 1), (2, 2), (3, 3)):
        ni = max(H - 2, 0) * max(W - 2, 0)
        assert engine(np.full((H, W), 200, dtype=np.uint8)) == (0, 0, ni)
        m = rng.integers(0, 256, size=(H, W), dtype=np.uint8)
        if ni == 0:
            assert engine(m) == (0, 0, 0)
        else:  # 3x3: the single interior pixel, by hand
            c = m.astype(np.int64)
            lap = 4 * c[1, 1] - c[0, 1] - c[2, 1] - c[1, 0] - c[1, 2]
            assert engine(m) == (lap * lap, abs(lap), 1)
    # and the shipped golden generator agrees with this local twin on a
    # real fixture image (cross-checks _decode_px + the slicing spec)
    import pandas as pd

    from temp_c__bpf_osm_reader_spark.sources import fixtures

    gp = fixtures_text.ensure_golden_laplacian(1060)
    g = pd.read_parquet(gp).set_index("image_id")
    im = pd.read_parquet(fixtures.ensure_images(1060)).iloc[0]
    px = np.array(fixtures_text._decode_px(im["bytes"], im["fmt"]), dtype=np.uint8)
    want = twin(px.reshape(int(im["h"]), int(im["w"])))
    got = g.loc[im["image_id"]]
    assert (int(got["lap_sq_sum"]), int(got["lap_abs_sum"])) == want
