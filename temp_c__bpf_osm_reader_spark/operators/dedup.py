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
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
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
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 6


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


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """→ (doc1, doc2, sig_match) candidate near-dup pairs (spec above)."""
    sigs = minhash_signatures(_docs(spark, sf_dir)).cache()
    # Band key folded to ONE BIGINT: xxhash64(band_id, band slice) — the LSH
    # self-join then shuffles (bkey, doc_id) longs instead of an array<long>
    # key PLUS the full 64-long sig on both sides (~4x less shuffle bytes),
    # and the single-long equi-key selects the dense long-key join path.
    # Band equality ⊆ hash equality, so candidates are a superset only under
    # a 64-bit xxhash collision between distinct band slices — and every
    # candidate is still verified on the FULL signatures (sig_match filter
    # below), which are joined back to the small deduped pair set (2 narrow
    # joins of pairs against sigs, instead of carrying sig through all 16
    # band copies).
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {NUM_BANDS - 1}), "
                f"b -> xxhash64(b, slice(sig, b * {BAND_ROWS} + 1, {BAND_ROWS})))"
            )
        ).alias("bkey"),
    )
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    cand = (
        b1.join(
            b2,
            (F.col("b1.bkey") == F.col("b2.bkey"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc1"),
            F.col("b2.doc_id").alias("doc2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    s1 = sigs.select(F.col("doc_id").alias("doc1"), F.col("sig").alias("sig1"))
    s2 = sigs.select(F.col("doc_id").alias("doc2"), F.col("sig").alias("sig2"))
    match = F.expr(
        f"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) / {NUM_PERM}"
    )
    return (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("sig_match", F.round(match, 6))
        .filter(F.col("sig_match") >= threshold)
        .select("doc1", "doc2", "sig_match")
    )


def simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """→ (doc1, doc2, hamming) pairs with simhash hamming distance ≤ max_hamming.

    Candidates via 16-bit band equality (pigeonhole: ≤6 differing bits over 4
    bands leaves ≥1 intact band only if ≤3 bands are hit — with 6 bit flips a
    band can be missed; this is the standard approximate recall trade)."""
    sh = _docs(spark, sf_dir).select("doc_id", simhash_udf(F.col("text")).alias("sh"))
    bands = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                f"b -> struct(b as band_id, (shiftright(sh, b * 16) & 65535) as key))"
            )
        ).alias("band"),
    ).select("doc_id", "sh", "band.band_id", "band.key")
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    hamming = F.bit_count(F.col("b1.sh").bitwiseXOR(F.col("b2.sh")))

    # Every qualifying pair (hamming ≤ 6 over 4 bands) collides in MOST
    # bands, so deduplicating the band-join output shuffles ~bands× the
    # result size (measured at sf1.0 stress: ~200M rows into dropDuplicates
    # for a 56M-pair result). Instead keep each pair only in its FIRST equal
    # band: both fingerprints are already on the joined row, so "no lower
    # band b also matched" is a pure codegen filter — exactly one copy of
    # every pair survives and the dedup shuffle disappears entirely.
    def _slice(c, b):
        return F.shiftright(c, b * 16).bitwiseAND(F.lit(65535))

    first_band = F.lit(True)
    for b in range(SIMHASH_BANDS):
        first_band = first_band & (
            (F.col("b1.band_id") <= F.lit(b))
            | (_slice(F.col("b1.sh"), b) != _slice(F.col("b2.sh"), b))
        )
    return (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.key") == F.col("b2.key"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .filter(first_band)
        .select(
            F.col("b1.doc_id").alias("doc1"),
            F.col("b2.doc_id").alias("doc2"),
            hamming.cast("int").alias("hamming"),
        )
        # hamming is a pure function of the pair (same value on every band's
        # copy), so the order of these two filters is free; both run before
        # any further shuffle
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 20, threshold: float = 0.5
) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH candidate
    pair graph via iterative min-label propagation → (doc_id, cluster_id),
    cluster_id = min doc_id of the component, singletons keep their own id.
    This is the step that makes dedup actionable at scale (drop all but the
    cluster representative).

    Iterative DataFrame algorithm (the class SQL can't express — SURVEY §2.4):
    each round joins labels to the bidirectional edge list, takes the min of
    own and neighbor labels, and localCheckpoints to truncate lineage; stops
    when no label changed. Rounds needed = graph diameter (≤ log n for the
    near-dup graph's tiny components); each round is one shuffle on doc_id.
    """
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir, threshold=threshold).select("doc1", "doc2")
    edges = (
        pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
        .unionByName(pairs.select(F.col("doc2").alias("src"), F.col("doc1").alias("dst")))
        .localCheckpoint()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels["doc_id"] == neigh_min["src"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # min-label propagation needs rounds ≈ component diameter; silently
        # returning non-converged labels would be a wrong answer with no error
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter "
            "(rounds needed grow with the candidate-graph diameter)"
        )
    return labels


PHASH_BANDS = 4
PHASH_MAX_HAMMING = 3


def phash_near_dup(images: DataFrame, max_hamming: int = PHASH_MAX_HAMMING) -> DataFrame:
    """→ (image_id, phash, dup_count, near_image_count, near_hash_count) —
    per-image duplicate profile over the 64-bit perceptual hash: dup_count =
    other images with the IDENTICAL phash; near_* = images / distinct hashes
    at Hamming distance 1..max_hamming.

    EXACT banded Hamming (not LSH-approximate): with 4×16-bit bands and
    max_hamming ≤ 3, pigeonhole guarantees every qualifying hash pair shares
    ≥1 intact band — recall is exactly 1.0, so the brute-force DuckDB oracle
    matches bit-for-bit (unlike simhash_pairs' documented recall trade).

    Scale design: the image corpus has Zipfian duplicate clusters (hottest
    pattern ≈ 12% of rows), so a PAIR output is quadratic in cluster size —
    measured 1.76M pairs at sf0.01, ~17B extrapolated at sf1.0. All pairwise
    work therefore happens on the DEDUPLICATED HASH DOMAIN: groupBy(phash)
    first (one map-side-combinable shuffle → D ≪ n rows), band-self-join the
    D-row hash table, then broadcast the per-hash profile back onto the image
    scan. Output is linear in n and the big table is never shuffled — the
    plan is scan → broadcast-hash-join at any corpus size.
    """
    if max_hamming >= PHASH_BANDS:  # pigeonhole needs flips < bands
        raise ValueError("max_hamming must stay < PHASH_BANDS for exact recall")
    # D-row hash domain, materialized once: ph feeds three plan branches
    # (both band-join sides + the count join); without the checkpoint each
    # branch re-scans the FULL image table — 3 extra 100-TB scans for a
    # table that fits on the driver. Eager but tiny (D ≪ n).
    ph = images.groupBy("phash").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()

    bands = ph.select(
        "phash",
        "c",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PHASH_BANDS - 1}), "
                f"b -> struct(b as band_id, (shiftright(phash, b * 16) & 65535) as key))"
            )
        ).alias("band"),
    ).select("phash", "c", "band.band_id", "band.key")
    b1, b2 = bands.alias("b1"), bands.alias("b2")

    def _slice(c, b):
        return F.shiftright(c, b * 16).bitwiseAND(F.lit(65535))

    # keep each DIRECTED hash pair only in its first equal band (pure codegen
    # filter — no dedup shuffle; same trick as simhash_pairs)
    first_band = F.lit(True)
    for b in range(PHASH_BANDS):
        first_band = first_band & (
            (F.col("b1.band_id") <= F.lit(b))
            | (_slice(F.col("b1.phash"), b) != _slice(F.col("b2.phash"), b))
        )
    hamming = F.bit_count(F.col("b1.phash").bitwiseXOR(F.col("b2.phash")))
    nb = (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.key") == F.col("b2.key"))
            & (F.col("b1.phash") != F.col("b2.phash")),
        )
        .filter(first_band & (hamming <= max_hamming))
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
