"""Independent pure-Python golden generators for the non-SQL-expressible
operators (MinHash LSH, SimHash, image decode) + the corrupt-EAV fixture.

Deliberately numpy-free re-implementations of the frozen specs in
operators/dedup.py / functions/hashing.py — a second code path, so a bug in
the vectorized kernels cannot silently agree with its own golden. (The same
dual-decode idea as the reference's XML-vs-PBF golden equivalence, SURVEY §5.)
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import fixtures

_M = (1 << 64) - 1

NUM_PERM = 64
NUM_BANDS = 16
BAND_ROWS = 4
MINHASH_SEED = 7
SIMHASH_BANDS = 4


def _sm64(x: int) -> int:
    z = (x + 0x9E3779B97F4A7C15) & _M
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M
    return z ^ (z >> 31)


def _fnv(data: bytes) -> int:
    h = 0xCBF29CE484222325
    for c in data:
        h = ((h ^ c) * 0x100000001B3) & _M
    return h


def _shingles(text: str, n: int = 3) -> list[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def _minhash_sig(text: str) -> list[int]:
    hs = [_fnv(s.encode("utf-8")) for s in _shingles(text)]
    sig = []
    for p in range(NUM_PERM):
        a = _sm64(p + MINHASH_SEED * 1_000_003) | 1
        b = _sm64(p + MINHASH_SEED * 1_000_003 + 500_009)
        sig.append(min(((a * h) + b) & _M for h in hs) if hs else _M)
    return sig


def _simhash(text: str) -> int:
    toks = list(dict.fromkeys(text.split(" ")))
    votes = [0] * 64
    for t in toks:
        h = _fnv(t.encode("utf-8"))
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    return out


def golden_minhash_pairs(docs: pd.DataFrame, id_col: str, text_col: str, threshold: float) -> pd.DataFrame:
    sigs = {int(r[id_col]): _minhash_sig(r[text_col]) for _, r in docs.iterrows()}
    buckets: dict[tuple, list[int]] = {}
    for did, sig in sigs.items():
        for b in range(NUM_BANDS):
            key = (b, tuple(sig[b * BAND_ROWS : (b + 1) * BAND_ROWS]))
            buckets.setdefault(key, []).append(did)
    pairs = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))
    rows = []
    for d1, d2 in sorted(pairs):
        match = sum(1 for a, b in zip(sigs[d1], sigs[d2]) if a == b) / NUM_PERM
        if match >= threshold:
            rows.append((d1, d2, match))  # k/64 is exact at 6 decimals
    return pd.DataFrame(rows, columns=["doc1", "doc2", "sig_match"]).astype(
        {"doc1": "int64", "doc2": "int64", "sig_match": "float64"}
    )


def golden_simhash_pairs(docs: pd.DataFrame, id_col: str, text_col: str, max_hamming: int) -> pd.DataFrame:
    sh = {int(r[id_col]): _simhash(r[text_col]) for _, r in docs.iterrows()}
    buckets: dict[tuple, list[int]] = {}
    for did, h in sh.items():
        for b in range(SIMHASH_BANDS):
            buckets.setdefault((b, (h >> (b * 16)) & 0xFFFF), []).append(did)
    pairs = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))
    rows = []
    for d1, d2 in sorted(pairs):
        ham = bin(sh[d1] ^ sh[d2]).count("1")
        if ham <= max_hamming:
            rows.append((d1, d2, ham))
    return pd.DataFrame(rows, columns=["doc1", "doc2", "hamming"]).astype(
        {"doc1": "int64", "doc2": "int64", "hamming": "int32"}
    )


def ensure_golden_minhash(sf_dir: str, threshold: float = 0.5) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    p = os.path.join(fixtures.DATA_DIR, f"golden_minhash_{base}.parquet")
    if not os.path.exists(p):
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        out = golden_minhash_pairs(docs, "doc_id", "text", threshold)
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_simhash(sf_dir: str, max_hamming: int = 6) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    p = os.path.join(fixtures.DATA_DIR, f"golden_simhash_{base}.parquet")
    if not os.path.exists(p):
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        out = golden_simhash_pairs(docs, "doc_id", "text", max_hamming)
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


# ---------------------------------------------------------------- decode golden

def _decode_px(data: bytes, fmt: str) -> list[int]:
    """Scalar (numpy-free) payload decode shared by all golden builders —
    the independent second code path vs functions/codec.py."""
    if fmt == "raw":
        return list(data)
    px: list[int] = []  # rle: (count, value) pairs
    for i in range(0, len(data), 2):
        px.extend([data[i + 1]] * data[i])
    return px


def ensure_golden_decode(n: int) -> str:
    """(image_id, fmt, pix_sum, phash_dec) via plain-python RLE walk + the
    batch phash kernel — validates the Spark decode path end-to-end."""
    p = os.path.join(fixtures.DATA_DIR, f"golden_decode_{n}.parquet")
    if not os.path.exists(p):
        import numpy as np

        from ..functions.hashing import phash64

        images = pd.read_parquet(fixtures.ensure_images(n))
        rows = []
        for _, r in images.iterrows():
            px = _decode_px(r["bytes"], r["fmt"])
            assert len(px) == r["w"] * r["h"]
            ph = phash64(np.array(px, dtype=np.uint8), int(r["w"]), int(r["h"]))
            rows.append((r["image_id"], r["fmt"], sum(px), ph))
        out = pd.DataFrame(rows, columns=["image_id", "fmt", "pix_sum", "phash_dec"]).astype(
            {"pix_sum": "int64", "phash_dec": "int64"}
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_blockmeans(n: int, grid: int = 4) -> str:
    """(image_id, feat_idx, value) grid×grid block means — plain-python twin
    of operators/multimodal.block_features_flat (exact integer block sums,
    then one IEEE division)."""
    p = os.path.join(fixtures.DATA_DIR, f"golden_blockmeans_{n}_{grid}.parquet")
    if not os.path.exists(p):
        images = pd.read_parquet(fixtures.ensure_images(n))
        rows = []
        for _, r in images.iterrows():
            px = _decode_px(r["bytes"], r["fmt"])
            w, h = int(r["w"]), int(r["h"])
            bh, bw = h // grid, w // grid
            for bi in range(grid):
                for bj in range(grid):
                    s = 0
                    for rr in range(bi * bh, (bi + 1) * bh):
                        s += sum(px[rr * w + bj * bw : rr * w + (bj + 1) * bw])
                    rows.append((r["image_id"], bi * grid + bj, s / float(bh * bw)))
        out = pd.DataFrame(rows, columns=["image_id", "feat_idx", "value"]).astype(
            {"feat_idx": "int32", "value": "float64"}
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_resize(n: int, size: int = 8) -> str:
    """(image_id, r_sum, r_phash) — plain-python nearest-neighbor resize
    (source idx = floor(i*h/size), top-left rule), twin of multimodal.resize_nn."""
    p = os.path.join(fixtures.DATA_DIR, f"golden_resize_{n}_{size}.parquet")
    if not os.path.exists(p):
        import numpy as np

        from ..functions.hashing import phash64

        images = pd.read_parquet(fixtures.ensure_images(n))
        rows = []
        for _, r in images.iterrows():
            px = _decode_px(r["bytes"], r["fmt"])
            w, h = int(r["w"]), int(r["h"])
            small = [
                px[((bi * h) // size) * w + (bj * w) // size]
                for bi in range(size)
                for bj in range(size)
            ]
            ph = phash64(np.array(small, dtype=np.uint8), size, size)
            rows.append((r["image_id"], sum(small), ph))
        out = pd.DataFrame(rows, columns=["image_id", "r_sum", "r_phash"]).astype(
            {"r_sum": "int64", "r_phash": "int64"}
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_frames(n: int, stride: int = 8) -> str:
    """(image_id, frame_idx, frame_sum, frame_mean) for every stride-th row
    ("frame") of every image — plain-python decode + integer sums, an
    independent twin of operators/multimodal.frame_sample."""
    p = os.path.join(fixtures.DATA_DIR, f"golden_frames_{n}_{stride}.parquet")
    if not os.path.exists(p):
        images = pd.read_parquet(fixtures.ensure_images(n))
        rows = []
        for _, r in images.iterrows():
            px = _decode_px(r["bytes"], r["fmt"])
            w, h = int(r["w"]), int(r["h"])
            for fr in range(0, h, stride):
                fs = sum(px[fr * w : (fr + 1) * w])
                rows.append((r["image_id"], fr, fs, fs / float(w)))
        out = pd.DataFrame(
            rows, columns=["image_id", "frame_idx", "frame_sum", "frame_mean"]
        ).astype({"frame_idx": "int32", "frame_sum": "int64", "frame_mean": "float64"})
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_clusters(sf_dir: str) -> str:
    """(doc_id, cluster_id) connected components over the golden MinHash
    pairs — plain-python union-find, the independent twin of
    operators/dedup.dedup_clusters (cluster_id = min doc_id of component)."""
    base = os.path.basename(os.path.normpath(sf_dir))
    p = os.path.join(fixtures.DATA_DIR, f"golden_clusters_{base}.parquet")
    if not os.path.exists(p):
        pairs = pd.read_parquet(ensure_golden_minhash(sf_dir))
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))["doc_id"]
        parent: dict[int, int] = {int(d): int(d) for d in docs}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for d1, d2 in zip(pairs["doc1"], pairs["doc2"]):
            r1, r2 = find(int(d1)), find(int(d2))
            if r1 != r2:
                parent[max(r1, r2)] = min(r1, r2)
        out = pd.DataFrame(
            {"doc_id": [int(d) for d in docs], "cluster_id": [find(int(d)) for d in docs]}
        ).astype({"doc_id": "int64", "cluster_id": "int64"})
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_kmeans(sf_dir: str, iters: int = 5) -> str:
    """(vec_id, cluster, dist2) — numpy replay of the frozen deterministic
    k-means spec in operators/similarity.kmeans_assign (integer-scaled exact
    centroid sums, argmin-first ties, fixed iterations)."""
    base = os.path.basename(os.path.normpath(sf_dir))
    p = os.path.join(fixtures.DATA_DIR, f"golden_kmeans_{base}.parquet")
    if not os.path.exists(p):
        import numpy as np

        scale = 1 << 20
        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        ids = emb["vec_id"].to_numpy()
        m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        order = np.argsort(ids, kind="stable")
        ids, m = ids[order], m[order]
        cent = m[ids % 50 == 1].copy()
        q = np.round(m * scale).astype(np.int64)

        def assign(c):
            # broadcast form, same as the UDF (no BLAS — see kmeans_assign)
            d2 = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return np.argmin(d2, axis=1)

        for _ in range(iters):
            cl = assign(cent)
            for ci in range(cent.shape[0]):
                mask = cl == ci
                if mask.any():
                    cent[ci] = q[mask].sum(axis=0) / (mask.sum() * float(scale))
        cl = assign(cent)
        d = m - cent[cl]
        out = pd.DataFrame(
            {
                "vec_id": ids.astype("int64"),
                "cluster": cl.astype("int32"),
                "dist2": np.round((d * d).sum(axis=1), 6),
            }
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_eav_all(n: int) -> str:
    """Three-entity-type EAV table mirroring the reference's `tag` schema
    (pbf2sqlite.c:460-468: sparse nod_id/way_id/rel_id + k + v) — the input of
    the addr.sql flagship pivot. Entities: images (tags from the caption
    grammar + periodic 'name'), polygons ('kind'/'name', 'place' on even ids),
    collections ('name', 'place' on ids % 3 == 0).

    v2 adds the reference's own key vocabulary so its queries/ corpus
    transcribes verbatim: 'ISO3166-1' + 'name:en' + 'int_name' (the
    ISO3166-1-countries.sql full-outer-join family — node-side ISO tags are
    RARE like real country nodes, collection-side denser), and the route
    relation keys 'type'/'route'/'network'/'osmc:symbol'/'operator'
    (route.sql + type-route-route-hiking.sql). Filename versioned: the
    content changed, so stale caches must not be reused."""
    p = os.path.join(fixtures.DATA_DIR, f"eav_all_{n}_v2.parquet")
    if not os.path.exists(p):
        from .blocks import caption_tags

        images = pd.read_parquet(
            fixtures.ensure_images(n), columns=["image_id", "caption"]
        )
        polys = pd.read_parquet(fixtures.ensure_polygons(fixtures.n_polygons_for(n)))
        n_coll = max(n // 80, 3)
        rows = []
        for i, (img, cap) in enumerate(zip(images["image_id"], images["caption"])):
            for k, v in caption_tags(cap):
                rows.append((img, None, None, k, v))
            if i % 3 == 0:
                rows.append((img, None, None, "name", f"n_{i}"))
            if i % 7 == 0:
                rows.append((img, None, None, "name:en", f"en_img_{i}"))
            if i % 251 == 0:
                rows.append((img, None, None, "ISO3166-1", f"I{i % 40}"))
        for _, r in polys.iterrows():
            pid = int(r["polygon_id"])
            rows.append((None, pid, None, "kind", r["kind"]))
            rows.append((None, pid, None, "name", f"poly_{pid}"))
            if pid % 2 == 0:
                rows.append((None, pid, None, "place", f"p{pid % 50}"))
        for c in range(n_coll):
            rows.append((None, None, c, "name", f"coll_{c}"))
            rows.append((None, None, c, "type", "route"))
            if c % 3 == 0:
                rows.append((None, None, c, "place", f"p{c % 50}"))
            if c % 2 == 0:
                rows.append((None, None, c, "route", "hiking" if c % 4 == 0 else "bus"))
            else:
                rows.append((None, None, c, "ISO3166-1", f"I{c % 40}"))
            if c % 3 == 1:
                rows.append((None, None, c, "name:en", f"en_col_{c}"))
            if c % 5 == 0:
                rows.append((None, None, c, "int_name", f"int_{c}"))
            if c % 3 == 0:
                rows.append((None, None, c, "network", f"net_{c % 5}"))
            if c % 4 == 0:
                rows.append((None, None, c, "osmc:symbol", f"sym_{c % 6}"))
            if c % 5 == 2:
                rows.append((None, None, c, "operator", f"op_{c % 7}"))
        out = pd.DataFrame(
            rows, columns=["image_id", "polygon_id", "collection_id", "k", "v"]
        )
        schema = pa.schema(
            [
                ("image_id", pa.string()),
                ("polygon_id", pa.int64()),
                ("collection_id", pa.int64()),
                ("k", pa.string()),
                ("v", pa.string()),
            ]
        )
        pq.write_table(pa.Table.from_pandas(out, schema=schema, preserve_index=False), p)
    return p


# ---------------------------------------------------------------- corrupt EAV fixture

def ensure_meta_corrupt(n: int) -> str:
    """EAV rows with NULL k/v injected every 97th image — the corrupt fixture
    for the null-scan query (queries-null-values-in-tag.sql:1-8)."""
    p = os.path.join(fixtures.DATA_DIR, f"meta_corrupt_{n}.parquet")
    if not os.path.exists(p):
        images = pd.read_parquet(fixtures.ensure_images(n))
        rows = []
        for i, r in images.iterrows():
            words = r["caption"].split(" ")
            rows.append((r["image_id"], "place", words[4]))
            rows.append((r["image_id"], "style", words[5][6:]))
            if i % 97 == 0:
                rows.append((r["image_id"], None, words[2]))
            if i % 97 == 50:
                rows.append((r["image_id"], "noun", None))
        out = pd.DataFrame(rows, columns=["image_id", "k", "v"])
        schema = pa.schema([("image_id", pa.string()), ("k", pa.string()), ("v", pa.string())])
        pq.write_table(pa.Table.from_pandas(out, schema=schema, preserve_index=False), p)
    return p


def ensure_golden_recall_srp(
    sf_dir: str,
    k: int = 10,
    query_mod: int = 20,
    seed: int = 1234,
    probe_hamming: int = 2,
) -> str:
    """(query_id, recall) — independent replay of BOTH sides of the ANN
    recall evaluation: exact cosine top-k (operators/similarity.
    ann_topk_bruteforce spec) and SRP-bucketed top-k (ann_topk_srp spec:
    hyperplanes u01(splitmix64(i + seed))*2-1, bucket = packed sign bits),
    then recall@k = |approx ∩ exact| / k per query.

    Dot products are LEFT FOLDS in array order (one accumulation per
    dimension) — the exact arithmetic of Spark's aggregate(zip_with(...)),
    not a BLAS matmul.

    The cache filename is keyed by EVERY parameter that changes the
    golden's content, so a default change can't silently reuse a stale
    replay. (The bits scaling law is keyed implicitly: it is a pure
    function of n, which sf_dir pins.)"""
    base = os.path.basename(os.path.normpath(sf_dir))
    p = os.path.join(
        fixtures.DATA_DIR,
        f"golden_recall_srp_{base}_k{k}_m{query_mod}_s{seed}_h{probe_hamming}.parquet",
    )
    if not os.path.exists(p):
        import numpy as np

        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        ids = emb["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.stack(emb["embedding"].to_numpy())[order].astype(np.float64)
        n, dim = m.shape
        # bucket-width scaling law — must mirror similarity.srp_bits_for
        import math

        bits = max(4, int(math.floor(math.log2(max(n, 64) / 32.0))))

        def fold_dot(a, b):
            # sequential left fold over dimensions, vectorized across rows
            acc = np.zeros(a.shape[0], dtype=np.float64)
            for d in range(a.shape[1]):
                acc = acc + a[:, d] * b[:, d]
            return acc

        norms = np.sqrt(fold_dot(m, m))
        # SRP planes from the plain-python splitmix64 (independent impl)
        planes = np.array(
            [
                (_sm64(i + seed) >> 11) / float(1 << 53) * 2.0 - 1.0
                for i in range(bits * dim)
            ],
            dtype=np.float64,
        ).reshape(bits, dim)
        # bucket per vector: packed sign bits of left-fold dots
        bucket = np.zeros(n, dtype=np.int64)
        for bi in range(bits):
            pb = np.broadcast_to(planes[bi], m.shape)
            bucket |= (fold_dot(m, pb) > 0).astype(np.int64) << bi
        qmask = ids % query_mod == 0
        rows = []
        for qi in np.flatnonzero(qmask):
            others = np.flatnonzero(ids != ids[qi])
            qv = np.broadcast_to(m[qi], (len(others), dim))
            sims = np.round(
                fold_dot(qv, m[others]) / (norms[qi] * norms[others]), 6
            )
            rank = np.lexsort((ids[others], -sims))
            exact = set(ids[others[rank[:k]]])
            # multi-probe: own bucket + every Hamming-1/-2 bucket (mirrors
            # similarity.ann_topk_srp's probe generation)
            probes = {int(bucket[qi])}
            if probe_hamming >= 1:
                probes |= {int(bucket[qi]) ^ (1 << i) for i in range(bits)}
            if probe_hamming >= 2:
                probes |= {
                    int(bucket[qi]) ^ ((1 << i) | (1 << j))
                    for i in range(bits)
                    for j in range(i + 1, bits)
                }
            in_b = others[np.isin(bucket[others], list(probes))]
            if len(in_b):
                qvb = np.broadcast_to(m[qi], (len(in_b), dim))
                sims_b = np.round(
                    fold_dot(qvb, m[in_b]) / (norms[qi] * norms[in_b]), 6
                )
                rank_b = np.lexsort((ids[in_b], -sims_b))
                approx = set(ids[in_b[rank_b[:k]]])
            else:
                approx = set()
            rows.append((int(ids[qi]), len(exact & approx) / float(k)))
        out = pd.DataFrame(rows, columns=["query_id", "recall"])
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_recall_ivf(
    sf_dir: str,
    k: int = 10,
    query_mod: int = 20,
    centroid_mod: int = 50,
    nprobe: int = 6,  # lockstep with similarity.IVF_NPROBE (import cycle)
) -> str:
    """(query_id, recall) — independent replay of BOTH sides of the IVF
    recall evaluation (operators/similarity.ann_recall_ivf): exact cosine
    top-k (fold dots, round 6, (−sim, id) lexsort) and IVF top-k (centroids =
    vec_id % centroid_mod == 1 in id order; assignment = argmax of
    fold-accumulated cosine to centroids; probes = top-nprobe stable argsort
    — the frozen arithmetic of similarity.centroid_sims, which is
    batch-shape-independent by construction so this whole-table replay and
    Spark's Arrow-batched UDFs agree bit-for-bit).

    Dot products are LEFT FOLDS in array order, like every numpy twin of a
    Spark aggregate(zip_with(...)). The cache filename is keyed by every
    content-changing parameter (as in ensure_golden_recall_srp)."""
    base = os.path.basename(os.path.normpath(sf_dir))
    p = os.path.join(
        fixtures.DATA_DIR,
        f"golden_recall_ivf_{base}_k{k}_m{query_mod}_c{centroid_mod}_p{nprobe}.parquet",
    )
    if not os.path.exists(p):
        import numpy as np

        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        ids = emb["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.stack(emb["embedding"].to_numpy())[order].astype(np.float64)
        n, dim = m.shape

        def fold_dot(a, b):
            acc = np.zeros(a.shape[0], dtype=np.float64)
            for d in range(a.shape[1]):
                acc = acc + a[:, d] * b[:, d]
            return acc

        norms = np.sqrt(fold_dot(m, m))
        cmask = ids % centroid_mod == 1
        cids = ids[cmask]  # already ascending (ids sorted above)
        cmat = m[cmask]
        # similarity.centroid_sims replayed: dimension-ordered outer-product
        # accumulation, then divide by the fold-norm outer product
        acc = np.zeros((n, cmat.shape[0]), dtype=np.float64)
        nm = np.zeros(n, dtype=np.float64)
        nc = np.zeros(cmat.shape[0], dtype=np.float64)
        for d in range(dim):
            acc += np.multiply.outer(m[:, d], cmat[:, d])
            nm = nm + m[:, d] * m[:, d]
            nc = nc + cmat[:, d] * cmat[:, d]
        csims = acc / np.multiply.outer(np.sqrt(nm), np.sqrt(nc))
        assign = cids[np.argmax(csims, axis=1)]
        probe_rank = np.argsort(-csims, axis=1, kind="stable")[:, :nprobe]
        qmask = ids % query_mod == 0
        rows = []
        for qi in np.flatnonzero(qmask):
            others = np.flatnonzero(ids != ids[qi])
            qv = np.broadcast_to(m[qi], (len(others), dim))
            sims = np.round(
                fold_dot(qv, m[others]) / (norms[qi] * norms[others]), 6
            )
            rank = np.lexsort((ids[others], -sims))
            exact = set(ids[others[rank[:k]]])
            probes = set(cids[probe_rank[qi]].tolist())
            in_b = others[np.isin(assign[others], list(probes))]
            if len(in_b):
                qvb = np.broadcast_to(m[qi], (len(in_b), dim))
                sims_b = np.round(
                    fold_dot(qvb, m[in_b]) / (norms[qi] * norms[in_b]), 6
                )
                rank_b = np.lexsort((ids[in_b], -sims_b))
                approx = set(ids[in_b[rank_b[:k]]])
            else:
                approx = set()
            rows.append((int(ids[qi]), len(exact & approx) / float(k)))
        out = pd.DataFrame(rows, columns=["query_id", "recall"])
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_laplacian(n: int) -> str:
    """(image_id, lap_sq_sum, lap_abs_sum, n_interior) — per-image 4-neighbor
    Laplacian energy twin of operators/multimodal.laplacian_stats. Exact
    integer spec: lap(r,c) = 4*p(r,c) - p(r-1,c) - p(r+1,c) - p(r,c-1)
    - p(r,c+1) over INTERIOR pixels only (no padding convention to disagree
    on); emitted sums are Σ lap² and Σ |lap|. Derivation here is per-image
    numpy shifted slices, independent of the operator's per-shape
    whole-batch layout."""
    import numpy as np

    # _v2: n_interior clamps at 0 for images under 3 px; the suffix keeps a
    # golden cached under the unclamped formula from being read
    p = os.path.join(fixtures.DATA_DIR, f"golden_laplacian_{n}_v2.parquet")
    if not os.path.exists(p):
        images = pd.read_parquet(fixtures.ensure_images(n))
        rows = []
        for _, r in images.iterrows():
            px = np.array(_decode_px(r["bytes"], r["fmt"]), dtype=np.int64)
            w, h = int(r["w"]), int(r["h"])
            m = px.reshape(h, w)
            lap = (
                4 * m[1:-1, 1:-1]
                - m[:-2, 1:-1]
                - m[2:, 1:-1]
                - m[1:-1, :-2]
                - m[1:-1, 2:]
            )
            rows.append(
                (
                    r["image_id"],
                    int((lap * lap).sum()),
                    int(np.abs(lap).sum()),
                    # no interior on 1-pixel-thin images — clamp, matching
                    # the operator (never negative)
                    max(h - 2, 0) * max(w - 2, 0),
                )
            )
        out = pd.DataFrame(
            rows, columns=["image_id", "lap_sq_sum", "lap_abs_sum", "n_interior"]
        ).astype({"lap_sq_sum": "int64", "lap_abs_sum": "int64", "n_interior": "int64"})
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p
