"""Near-duplicate detection: MinHash+LSH and SimHash — the large-scale
training-data dedup layer.

Frozen specs (golden oracles in sources/fixtures_text.py re-implement them in
plain Python, no numpy — an independent code path):

MinHash (documents):
  shingles  = distinct word 3-grams (split on single space)
  h(s)      = FNV-1a 64 of the utf-8 shingle
  sig[p]    = min over shingles of (a_p * h + b_p) mod 2^64, p < 64
              (a_p, b_p from functions.hashing.minhash_params(64, seed=7))
  bands     = 16 bands × 4 rows; candidate pair = any equal band slice
  output    = (doc1, doc2, sig_match) for candidates with
              sig_match = (#equal sig positions)/64 ≥ threshold

SimHash (documents):
  token hashes = FNV-1a 64 of each distinct word token
  fingerprint  = unweighted bit-vote (functions.hashing.simhash64)
  candidates   = equal 16-bit band (4 bands); emit pairs with hamming ≤ 6

Execution shape at scale: signature UDF is a narrow Arrow-batched map; the
LSH bucket self-join shuffles only two BIGINTs per band copy (folded band-hash
key, doc_id) — never the text or the signature — and hot buckets are bounded
by band width; the full signatures join back against the small deduped pair
set for verification. This is the standard shingle→minhash→band→bucket-join
pipeline.

Plan shapes written once here: band_candidate_pairs (the folded band-key
self-join; also similarity.emb_near_dup_bucketed), _hamming_band_join
(simhash_pairs, phash_near_dup) and connected_components (dedup_clusters;
also raster.polygonize).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    minhash_sigs_batch,
    simhash_batch,
)
from ..session import read_parquet

NUM_PERM = 64
NUM_BANDS = 16
BAND_ROWS = NUM_PERM // NUM_BANDS
MINHASH_THRESHOLD = 0.5
HAMMING_BANDS = 4  # 16-bit bands of a 64-bit simhash / phash
SIMHASH_MAX_HAMMING = 6
PHASH_MAX_HAMMING = 3
# connected-components rounds cap: pointer jumping converges in
# O(log diameter) rounds, ~10 for a res-8 raster's worst-case path
CC_MAX_ITER = 30


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_sig_udf(text: pd.Series) -> pd.Series:
    """Whole-batch MinHash (functions.hashing.minhash_sigs_batch) — same
    frozen spec as the round-1 per-document loop, bit-identical goldens;
    shingle hashing + segmented min run once per Arrow batch."""
    import pyarrow as pa

    sigs = minhash_sigs_batch(pa.Array.from_pandas(text), NUM_PERM, seed=7)
    return pd.Series(list(sigs.view(np.int64)))


@F.pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    """Whole-batch SimHash (functions.hashing.simhash_batch) — distinct-token
    bit-vote computed via one lexsort + 64 segmented reductions per batch."""
    import pyarrow as pa

    return pd.Series(simhash_batch(pa.Array.from_pandas(text)))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", minhash_sig_udf(F.col("text")).alias("sig"))


def band_candidate_pairs(bands: DataFrame, id_col: str, pair_cols: tuple[str, str]) -> DataFrame:
    """Distinct (id1 < id2) pairs sharing a band key → pair_cols.

    `bands` holds one (id_col, bkey) row per band copy, the band folded into
    ONE BIGINT: the self-join then shuffles two longs per band copy — never
    the vectors or signatures, which the caller joins back to the small
    deduplicated pair set for its exact verification — and the single-long
    equi-key selects the dense long-key join path."""
    a, b = pair_cols
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.bkey") == F.col("b2.bkey"))
            & (F.col(f"b1.{id_col}") < F.col(f"b2.{id_col}")),
        )
        .select(F.col(f"b1.{id_col}").alias(a), F.col(f"b2.{id_col}").alias(b))
        .dropDuplicates([a, b])
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (doc1, doc2, sig_match) candidate near-dup pairs (spec above)."""
    # materialized once for the band explode and both verify joins; a local
    # checkpoint, not cache(), so nothing stays pinned after the call
    sigs = minhash_signatures(_docs(spark, sf_dir)).localCheckpoint()
    # band key = xxhash64(band_id, band slice): band equality ⊆ hash
    # equality, so candidates are a superset only under a 64-bit collision
    # between distinct band slices, and every candidate is verified on the
    # FULL signatures below (sig_match filter)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {NUM_BANDS - 1}), "
                f"b -> xxhash64(b, slice(sig, b * {BAND_ROWS} + 1, {BAND_ROWS})))"
            )
        ).alias("bkey"),
    )
    cand = band_candidate_pairs(bands, "doc_id", ("doc1", "doc2"))
    s1 = sigs.select(F.col("doc_id").alias("doc1"), F.col("sig").alias("sig1"))
    s2 = sigs.select(F.col("doc_id").alias("doc2"), F.col("sig").alias("sig2"))
    match = F.expr(
        f"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) / {NUM_PERM}"
    )
    return (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("sig_match", F.round(match, 6))
        .filter(F.col("sig_match") >= MINHASH_THRESHOLD)
        .select("doc1", "doc2", "sig_match")
    )


def _hamming_band_join(df: DataFrame, h: str, pair: Column, max_hamming: int) -> DataFrame:
    """Self-join of `df` on the 16-bit bands of its 64-bit column `h`,
    keeping pairs within `max_hamming` bits → the joined rows (sides b1, b2)
    plus an int `hamming` column. `pair` is the caller's pair predicate over
    the b1/b2 columns, joined in with the band equality.

    Every qualifying pair collides in MOST bands, so deduplicating the
    band-join output would shuffle ~bands× the result size (measured at sf1.0
    stress: ~200M rows into dropDuplicates for a 56M-pair result). Instead
    each pair is kept only in its FIRST equal band: both values are already
    on the joined row, so "no lower band b also matched" is a pure codegen
    filter — exactly one copy of every pair survives, with no dedup shuffle."""
    bands = df.select(
        *df.columns,
        F.explode(
            F.expr(
                f"transform(sequence(0, {HAMMING_BANDS - 1}), "
                f"b -> struct(b as band_id, (shiftright({h}, b * 16) & 65535) as key))"
            )
        ).alias("band"),
    ).select(*df.columns, "band.band_id", "band.key")
    b1, b2 = bands.alias("b1"), bands.alias("b2")

    def _slice(c, b):
        return F.shiftright(c, b * 16).bitwiseAND(F.lit(65535))

    first_band = F.lit(True)
    for b in range(HAMMING_BANDS):
        first_band = first_band & (
            (F.col("b1.band_id") <= F.lit(b))
            | (_slice(F.col(f"b1.{h}"), b) != _slice(F.col(f"b2.{h}"), b))
        )
    hamming = F.bit_count(F.col(f"b1.{h}").bitwiseXOR(F.col(f"b2.{h}"))).cast("int")
    return (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.key") == F.col("b2.key"))
            & pair,
        )
        .filter(first_band & (hamming <= max_hamming))
        .withColumn("hamming", hamming)
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (doc1, doc2, hamming) pairs with simhash hamming distance ≤
    SIMHASH_MAX_HAMMING.

    Candidates via 16-bit band equality (pigeonhole: ≤6 differing bits over 4
    bands leaves ≥1 intact band only if ≤3 bands are hit — with 6 bit flips a
    band can be missed; this is the standard approximate recall trade)."""
    sh = _docs(spark, sf_dir).select("doc_id", simhash_udf(F.col("text")).alias("sh"))
    doc1_lt_doc2 = F.col("b1.doc_id") < F.col("b2.doc_id")
    return _hamming_band_join(sh, "sh", doc1_lt_doc2, SIMHASH_MAX_HAMMING).select(
        F.col("b1.doc_id").alias("doc1"), F.col("b2.doc_id").alias("doc2"), "hamming"
    )


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components of the graph nodes(id) + pairs(src, dst) (either
    direction) → (id, label), label = min id of the component.

    Iterative DataFrame algorithm (the class SQL can't express — SURVEY
    §2.4): each round joins labels to the bidirectional edge list, takes the
    min of own and neighbor labels, then pointer-jumps (label := label of own
    label; labels form a forest rooted at each component's current min, and
    jumping halves path lengths), so rounds grow with log(diameter) instead
    of the diameter. Each round is a few shuffles on the graph's node ids
    plus a localCheckpoint to truncate lineage; it stops when no label
    changed."""
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select("id", F.col("id").alias("label")).localCheckpoint()
    for _ in range(CC_MAX_ITER):
        neigh_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        prop = labels.join(neigh_min, labels["id"] == neigh_min["src"], "left").select(
            "id", F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label")
        )
        jump = prop.alias("a").join(
            prop.select(F.col("id").alias("jid"), F.col("label").alias("jlab")),
            F.col("a.label") == F.col("jid"),
        )
        new_labels = jump.select(
            F.col("a.id").alias("id"), F.least(F.col("a.label"), F.col("jlab")).alias("label")
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    # silently returning non-converged labels would be a wrong answer
    raise RuntimeError(
        f"connected components did not converge in {CC_MAX_ITER} rounds "
        f"({changed} labels still changing)"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (connected_components above)
    over the MinHash-LSH candidate pair graph → (doc_id, cluster_id),
    cluster_id = min doc_id of the component, singletons keep their own id.
    This is the step that makes dedup actionable at scale (drop all but the
    cluster representative). Each round is one shuffle on doc_id; the
    near-dup graph's components are tiny, so few rounds run."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst")
    )
    return connected_components(docs, pairs).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def phash_near_dup(images: DataFrame) -> DataFrame:
    """→ (image_id, phash, dup_count, near_image_count, near_hash_count) —
    per-image duplicate profile over the 64-bit perceptual hash: dup_count =
    other images with the IDENTICAL phash; near_* = images / distinct hashes
    at Hamming distance 1..PHASH_MAX_HAMMING.

    EXACT banded Hamming (not LSH-approximate): with 4×16-bit bands and
    PHASH_MAX_HAMMING < HAMMING_BANDS, pigeonhole guarantees every
    qualifying hash pair shares ≥1 intact band — recall is exactly 1.0, so
    the brute-force DuckDB oracle matches bit-for-bit.

    Scale design: the image corpus has Zipfian duplicate clusters (hottest
    pattern ≈ 12% of rows), so a PAIR output is quadratic in cluster size —
    measured 1.76M pairs at sf0.01, ~17B extrapolated at sf1.0. All pairwise
    work therefore happens on the DEDUPLICATED HASH DOMAIN: groupBy(phash)
    first (one map-side-combinable shuffle → D ≪ n rows), band-self-join the
    D-row hash table, then broadcast the per-hash profile back onto the image
    scan. Output is linear in n and the big table is never shuffled — the
    plan is scan → broadcast-hash-join at any corpus size.
    """
    # D-row hash domain, materialized once: ph feeds three plan branches
    # (both band-join sides + the count join); without the checkpoint each
    # branch re-scans the FULL image table — 3 extra 100-TB scans for a
    # table that fits on the driver. Eager but tiny (D ≪ n).
    ph = images.groupBy("phash").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    # directed pairs of distinct hashes: each hash counts all its neighbors
    distinct = F.col("b1.phash") != F.col("b2.phash")
    nb = (
        _hamming_band_join(ph, "phash", distinct, PHASH_MAX_HAMMING)
        .groupBy(F.col("b1.phash").alias("phash"))
        .agg(
            F.sum(F.col("b2.c")).cast("int").alias("near_image_count"),
            F.count(F.lit(1)).cast("int").alias("near_hash_count"),
        )
    )
    return (
        images.select("image_id", "phash")
        .join(F.broadcast(ph), "phash")
        .join(F.broadcast(nb), "phash", "left")
        .select(
            "image_id",
            "phash",
            (F.col("c") - 1).cast("int").alias("dup_count"),
            F.coalesce("near_image_count", F.lit(0)).alias("near_image_count"),
            F.coalesce("near_hash_count", F.lit(0)).alias("near_hash_count"),
        )
    )
