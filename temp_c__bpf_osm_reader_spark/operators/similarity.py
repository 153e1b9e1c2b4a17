"""Similarity search over the embeddings table (array<float> column).

Two paths, as a training-data pipeline needs:
  * brute-force cosine top-k — the exact baseline (oracle-checked against
    DuckDB's list_cosine_similarity on the same vectors cast to double);
  * SRP-LSH bucketed ANN — the scale path (random-hyperplane signatures via a
    vectorized pandas UDF, candidates restricted to matching buckets).

Cosine is computed JVM-side with zip_with + aggregate over double-cast arrays:
float32 → float64 is exact, and both engines then sum in array order →
bit-identical dot products; rounding to 6 decimals absorbs the remaining
sqrt-association difference.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import splitmix64, u01
from ..session import read_parquet
from .dedup import band_candidate_pairs

ANN_K = 10
ANN_QUERY_MOD = 20  # queries = vec_id % 20 == 0
NEAR_DUP_TAU = 0.4
SRP_DIM = 64
SRP_SEED = 1234
IVF_CENTROID_MOD = 50  # centroids = the deterministic sample vec_id % 50 == 1
# measured recall@10 at sf0.01 vs the exact baseline: nprobe 3 → 0.412,
# 6 → 0.764, 9 → 0.980 (uniform fixture, cost ∝ nprobe × bounded list size).
# 6 clears the same ≥0.75 usefulness bar the SRP path holds while probing
# ~5% of the lists at this scale (a vanishing fraction as n grows, since
# ncent = n/IVF_CENTROID_MOD). fixtures_text.ensure_golden_recall_ivf's
# default must stay in lockstep (module-import cycle prevents sharing).
IVF_NPROBE = 6


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet(spark, os.path.join(sf_dir, "embeddings.parquet"))
    return df.withColumn("v", F.expr("transform(embedding, x -> cast(x as double))"))


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, e) -> acc + e)"

EMB_DIM = 64  # embeddings table + emb_dups fixture dimension


def _dot(a: str, b: str) -> str:
    """Left-fold dot product, codegen edition. Higher-order functions
    (aggregate/zip_with) are CodegenFallback in Spark — every element costs an
    interpreted lambda invocation, which dominates the pair-hot ANN / near-dup
    joins (O(pairs × dim) lambda calls). For the known fixed dim the SAME fold
    is emitted as a flat left-associative sum `0D + a[0]*b[0] + ... +
    a[63]*b[63]`: identical operation order from the identical 0D accumulator
    → bit-identical doubles (the convention the plain-python/numpy golden
    twins replay), but it stays inside whole-stage codegen. Arrays of any
    other length take the HOF fold via a lazily-evaluated CASE branch, so the
    hot branch never pays for the fallback."""
    terms = " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(EMB_DIM))
    return (
        f"(CASE WHEN size({a}) = {EMB_DIM} AND size({b}) = {EMB_DIM} "
        f"THEN 0D + {terms} ELSE {_DOT.format(a=a, b=b)} END)"
    )


def _cos_expr(a: str, b: str, na: str, nb: str) -> F.Column:
    return F.expr(_dot(a, b)) / (F.col(na) * F.col(nb))


def _spread(df: DataFrame) -> DataFrame:
    """Widen a compute-bound stage whose INPUT is tiny. The embeddings table
    is a few MB → 1-2 file splits, and a nested-loop / broadcast join above it
    inherits that layout, running O(pairs × dim) work on 1-2 cores no matter
    how many exist (observed: the sf1.0 stress all-pairs refine pinned ONE
    core for ~30 min). A round-robin repartition to the session's default
    parallelism costs a ~MB shuffle and buys full-width compute. Every value
    is row-local, so placement cannot change any result; callers put this
    AFTER any batch-shape-sensitive pandas UDF column so Arrow batch shapes
    feeding signatures are unchanged."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.sqrt(F.expr(_dot("v", "v"))))


def _queries(base: DataFrame, *extra) -> DataFrame:
    """The ANN query side: every ANN_QUERY_MOD-th vector → (query_id, qv,
    qnorm, *extra)."""
    return base.filter(F.col("vec_id") % ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm"),
        *extra,
    )


def _topk(base: DataFrame, queries: DataFrame, key: str | None) -> DataFrame:
    """Top-ANN_K neighbors per query by exact cosine → (query_id,
    neighbor_id, rnk, sim), ranked by (round(sim, 6) desc, neighbor_id).

    The broadcast query side meets every base vector (key None) or the base
    vectors sharing its `key` value (IVF list, SRP bucket); candidates never
    shuffle, and the only shuffle is the per-query window top-k (keyed by
    query count)."""
    keep = [key] if key else []
    side = _spread(base.select(F.col("vec_id").alias("neighbor_id"), "v", "norm", *keep))
    q = F.broadcast(queries)
    cand = (side.crossJoin(q) if key is None else side.join(q, key)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sim = F.round(_cos_expr("qv", "v", "qnorm", "norm"), 6)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_K)
        .select("query_id", "neighbor_id", "rnk", "sim")
    )


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (_topk) of the ANN_QUERY_MOD queries against the
    full table."""
    base = _with_norm(_emb(spark, sf_dir))
    return _topk(base, _queries(base), None)


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs: cosine ≥ NEAR_DUP_TAU, vec1 < vec2 →
    (vec1, vec2, sim)."""
    base = _with_norm(_emb(spark, sf_dir))
    a = _spread(
        base.select(F.col("vec_id").alias("vec1"), F.col("v").alias("v1"), F.col("norm").alias("n1"))
    )
    b = base.select(F.col("vec_id").alias("vec2"), F.col("v").alias("v2"), F.col("norm").alias("n2"))
    sim = F.round(
        F.expr(_dot("v1", "v2")) / (F.col("n1") * F.col("n2")), 6
    )
    return (
        a.join(F.broadcast(b), F.col("vec1") < F.col("vec2"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= NEAR_DUP_TAU)
        .select("vec1", "vec2", "sim")
    )


def centroid_sims(m: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """(n, ncent) cosine similarities via a dimension-ordered accumulation
    loop — elementwise numpy only, NO BLAS matmul. Each row's result depends
    only on that row, never on batch shape, so the Arrow-batched UDFs (whose
    batch boundaries follow file partitioning) and the whole-table golden
    replay (fixtures_text.ensure_golden_recall_ivf) produce bit-identical
    similarities, assignments, and probe lists. This is the IVF analogue of
    the left-fold dot-product convention used everywhere a Spark
    `aggregate(zip_with(...))` has a numpy twin."""
    acc = np.zeros((m.shape[0], cmat.shape[0]), dtype=np.float64)
    nm = np.zeros(m.shape[0], dtype=np.float64)
    nc = np.zeros(cmat.shape[0], dtype=np.float64)
    for d in range(m.shape[1]):
        acc += np.multiply.outer(m[:, d], cmat[:, d])
        nm = nm + m[:, d] * m[:, d]
        nc = nc + cmat[:, d] * cmat[:, d]
    return acc / np.multiply.outer(np.sqrt(nm), np.sqrt(nc))


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k: vectors partition into Voronoi lists of a
    deterministic centroid sample; queries probe their IVF_NPROBE nearest
    lists.

    The second ANN scale path (complementing SRP-LSH): at 10^12 scale the
    centroid list stays driver-small (one per ~50 vectors here; one per
    million there), `centroid_id` becomes the partition/cluster key, and each
    probe is a broadcast equi-join into a bounded list. Recall < 1 by
    construction → rows-only driver check, like ann_topk_srp.

    Ties are pinned (stable argsort, argmax-first) so output is deterministic
    across runs and parallelism levels.
    """
    base = _with_norm(_emb(spark, sf_dir))
    crows = (
        base.filter(F.col("vec_id") % IVF_CENTROID_MOD == 1)
        .select("vec_id", "v")
        .orderBy("vec_id")  # pinned centroid order → ties break identically
        .collect()
    )
    cids = np.array([r["vec_id"] for r in crows], dtype=np.int64)
    cmat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in crows])
    bc = spark.sparkContext.broadcast((cids, cmat))

    @F.pandas_udf(T.LongType())
    def assign_udf(v: pd.Series) -> pd.Series:
        ids, cm = bc.value
        m = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(ids[np.argmax(centroid_sims(m, cm), axis=1)])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe_udf(v: pd.Series) -> pd.Series:
        ids, cm = bc.value
        m = np.stack(v.to_numpy()).astype(np.float64)
        top = np.argsort(-centroid_sims(m, cm), axis=1, kind="stable")[:, :IVF_NPROBE]
        return pd.Series([ids[row].tolist() for row in top])

    lists = base.withColumn("centroid_id", assign_udf(F.col("v")))
    queries = _queries(base, F.explode(probe_udf(F.col("v"))).alias("centroid_id"))
    return _topk(lists, queries, "centroid_id")


def srp_bits_for(n: int) -> int:
    """Bucket-count scaling law: 2^bits ≈ n / 32 (≈32 vectors per bucket).

    A FIXED bit width is wrong at both ends — 16 bits over 500 vectors puts
    every vector alone in its bucket (recall ~0), and over 10^12 rows leaves
    10^7-row buckets (no pruning). Growing bits with log2(n) keeps per-bucket
    work constant; at 10^12 rows this is ~35 bits."""
    import math

    return max(4, int(math.floor(math.log2(max(n, 64) / 32.0))))


def _planes(rows: int, seed: int) -> np.ndarray:
    """Deterministic random hyperplanes: (rows, SRP_DIM) in [-1, 1)."""
    idx = np.arange(rows * SRP_DIM, dtype=np.int64) + seed
    return (u01(splitmix64(idx)) * 2.0 - 1.0).reshape(rows, SRP_DIM)


def _srp_bucket_udf(bits: int):
    @F.pandas_udf(T.LongType())
    def srp_bucket(v: pd.Series) -> pd.Series:
        planes = _planes(bits, SRP_SEED)
        mat = np.stack(v.to_numpy())  # (n, dim)
        sign = (mat @ planes.T) > 0  # (n, bits)
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
        return pd.Series((sign @ weights).astype(np.int64))

    return srp_bucket


def ann_topk_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: SRP sign-buckets with n-scaled width + Hamming≤2
    multi-probe (query probes its own bucket, every 1-bit-flip bucket, and
    every 2-bit-flip bucket — the classical multi-probe LSH trick: extra
    probes of ONE table buy the recall extra tables would, without a second
    signature pass). 1 + bits + C(bits,2) probes: at the 10^12-row width of
    35 bits that is 631 probes of 2^35 buckets — the probed fraction of the
    table stays ~2e-8 while measured recall@10 roughly doubles vs Hamming-1
    (0.51 → see ann_recall_srp / tests/test_plans.py threshold).

    The 100-TB path: bucket is the shuffle/partition key; each bucket is a
    small local problem and the probe fan-out is O(bits²). Recall < 1 by
    construction (rows-only driver check); the registered ann_recall_srp
    query quantifies recall against the exact baseline per query."""
    base = _with_norm(_emb(spark, sf_dir))
    bits = srp_bits_for(base.count())
    base = base.withColumn("bucket", _srp_bucket_udf(bits)(F.col("v")))
    flips = [F.col("bucket")]
    flips += [F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)]
    flips += [
        F.col("bucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
        for i in range(bits)
        for j in range(i + 1, bits)
    ]
    return _topk(base, _queries(base, F.explode(F.array(*flips)).alias("bucket")), "bucket")


KMEANS_K_MOD = 50      # initial centroids: vec_id % 50 == 1 (same as IVF)
KMEANS_ITERS = 5       # fixed iteration count (frozen spec)
KMEANS_SCALE = 1 << 20 # fixed-point scale for exact, order-independent sums


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means over the embeddings: (vec_id, cluster, dist2).

    Frozen spec making an iterative ML algorithm bit-exact and
    order-independent (the engine's exactness convention applied to ML):
      * init: centroids = embeddings of vec_id % 50 == 1, ordered by vec_id;
      * assignment: nearest centroid by squared L2 (double), ties → lower
        centroid index (argmin-first);
      * update: per-dimension mean computed from EXACT integer sums —
        each coordinate is scaled by 2^20 and rounded to int64 before
        summation, so the reduce order cannot perturb the centroid
        (float sums are order-dependent; integer sums are not);
      * exactly KMEANS_ITERS update rounds, then a final assignment;
      * dist2 rounded to 6 decimals.

    Execution shape: per round, one Arrow-batched assignment pass (centroid
    matrix broadcast) + one groupBy(cluster) integer-sum shuffle. The numpy
    golden (fixtures_text.ensure_golden_kmeans) replays the identical
    arithmetic.
    """
    # safe to spread BEFORE the assignment UDF: it is batch-shape-independent
    # by construction (non-BLAS broadcast form, see make_assign_udf), and the
    # update sums are integer-exact → order/placement cannot perturb anything
    base = _spread(_emb(spark, sf_dir).select("vec_id", "v"))
    crows = (
        base.filter(F.col("vec_id") % KMEANS_K_MOD == 1).orderBy("vec_id").collect()
    )
    cent = np.stack([np.asarray(r["v"], dtype=np.float64) for r in crows])
    sc = spark.sparkContext

    def make_assign_udf(bc):
        @F.pandas_udf(T.IntegerType())
        def assign_udf(v: pd.Series) -> pd.Series:
            c = bc.value
            m = np.stack(v.to_numpy())
            # broadcasted (x-c)² — deliberately NOT a BLAS matmul: DGEMM's
            # blocking depends on the batch shape, so `m @ c.T` differs by
            # ulps between batch sizes and breaks bit-determinism. The
            # broadcast form is shape-independent per (row, centroid).
            d2 = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

        return assign_udf

    # bround (half-even), NOT round (half-up): float32-derived doubles land
    # exactly on .5 at this scale, and the numpy twin rounds half-even
    qv = F.expr(f"transform(v, x -> cast(bround(x * {KMEANS_SCALE}) as bigint))")
    for _ in range(KMEANS_ITERS):
        bc = sc.broadcast(cent)
        assigned = base.withColumn("cluster", make_assign_udf(bc)(F.col("v")))
        # per-(cluster, dim) exact integer partial sums — map-side combinable,
        # no per-cluster row materialization (k × dim rows reach the driver)
        sums = (
            assigned.select(
                "cluster", F.posexplode(qv).alias("pos", "qx")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_cent = cent.copy()
        for r in sums:
            new_cent[r["cluster"], r["pos"]] = r["s"] / (r["n"] * float(KMEANS_SCALE))
        cent = new_cent
    bc = sc.broadcast(cent)
    assigned = base.withColumn("cluster", make_assign_udf(bc)(F.col("v")))

    @F.pandas_udf(T.DoubleType())
    def dist2_udf(v: pd.Series, cl: pd.Series) -> pd.Series:
        c = bc.value
        m = np.stack(v.to_numpy())
        d = m - c[cl.to_numpy()]
        return pd.Series(np.round((d * d).sum(axis=1), 6))

    return assigned.select(
        "vec_id", "cluster", dist2_udf(F.col("v"), F.col("cluster")).alias("dist2")
    )


# -------------------------------------------- LSH-bucketed near-dup (scale path)

ND_BANDS = 16
ND_BITS = 8
ND_SEED = 5151
ND_TAU = 0.8
ND_TARGET_BUCKET = 16


def nd_bits_for(n: int) -> int:
    """Band width scaled with log2(n) so E[bucket size] stays ~ND_TARGET_BUCKET
    (candidate count then grows ~linearly in n instead of n^2/2^bits). Floor at
    ND_BITS keeps the small-sf oracle path byte-identical; cap at 48 so the key
    packs with band_id into one BIGINT. Recall at the planted-dup regime
    (cos >= 0.99 => p_bit ~ 0.989) stays ~1 even at the cap: per-band collision
    0.989^48 ~ 0.59, 16-band miss probability 0.41^16 ~ 7e-7.

    This closed the sf1.0 stress failure: fixed 8-bit bands at n = 106k meant
    ~414 rows/bucket -> ~3.5e8 candidate pairs, each dragging two 64-double
    vectors through the join + dedup shuffle (hundreds of GB of spill)."""
    return max(ND_BITS, min(48, math.ceil(math.log2(max(n, 2) / ND_TARGET_BUCKET))))


def _nd_band_keys_udf(bits: int):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def nd_band_keys(v: pd.Series) -> pd.Series:
        """Per-band SRP keys: ND_BANDS longs, each packing `bits` sign bits."""
        planes = _planes(ND_BANDS * bits, ND_SEED)
        mat = np.stack(v.to_numpy())
        signs = (mat @ planes.T) > 0                  # (n, bands*bits)
        signs = signs.reshape(len(mat), ND_BANDS, bits)
        weights = (1 << np.arange(bits)).astype(np.int64)
        keys = signs @ weights                        # (n, bands) int64
        return pd.Series(list(keys))

    return nd_band_keys


def emb_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via banded SRP-LSH prefilter + exact cosine refine —
    the scale path for embedding near-dup (no all-pairs join anywhere).

    Candidates = pairs sharing ≥ 1 of ND_BANDS 8-bit sign-bucket keys; the
    refine recomputes the EXACT cosine and keeps sim ≥ tau, so output ⊆ the
    exact all-pairs result, and equals it when every qualifying pair collides
    in some band. On the planted-duplicate table (fixtures.ensure_emb_dups —
    planted cosine ≥ 0.99 ⇒ per-pair miss probability ~1e-17; background
    pairs asserted < 0.78 < tau at generation, blockwise-sampled at stress
    scale) the equality is exact, which the DuckDB all-pairs oracle checks
    value-for-value. At threshold regimes where LSH cannot
    guarantee recall (tau ≲ 0.5 — see near_dup_pairs, the exact oracle twin),
    there is no sub-quadratic exact method for dense vectors; the operator's
    contract is the high-similarity regime a dedup pipeline actually runs.

    Shuffle profile at 10^12 rows: one narrow signature pass; one self-join on
    a single folded BIGINT key (band_id << 48 | key) carrying ONLY vec_id pairs
    — band width nd_bits_for(n) keeps E[bucket] ~ O(1) so candidates grow
    linearly in n; one dropDuplicates over (vec1, vec2) longs; then two
    vec_id equi-joins re-attach the vectors for the exact refine. The vectors
    themselves never ride through the candidate or dedup shuffles (the sf1.0
    stress-pass disk-spill fix — see nd_bits_for).
    """
    from ..sources import fixtures

    nv = fixtures.n_dup_vecs_for(fixtures.n_images_for_sf(sf_dir))
    df = read_parquet(spark, fixtures.ensure_emb_dups(nv))
    base = df.withColumn("v", F.expr("transform(embedding, x -> cast(x as double))"))
    base = _with_norm(base).select("vec_id", "v", "norm")
    bits = nd_bits_for(nv)
    sigs = (
        base.select("vec_id", _nd_band_keys_udf(bits)(F.col("v")).alias("keys"))
        .select("vec_id", F.posexplode("keys").alias("band_id", "key"))
        .select(
            "vec_id",
            F.shiftleft(F.col("band_id").cast("long"), 48)
            .bitwiseOR(F.col("key"))
            .alias("bkey"),
        )
    )
    cand = band_candidate_pairs(sigs, "vec_id", ("vec1", "vec2"))
    v1 = base.select(
        F.col("vec_id").alias("vec1"), F.col("v").alias("v1"), F.col("norm").alias("n1")
    )
    v2 = base.select(
        F.col("vec_id").alias("vec2"), F.col("v").alias("v2"), F.col("norm").alias("n2")
    )
    sim = F.round(F.expr(_dot("v1", "v2")) / (F.col("n1") * F.col("n2")), 6)
    return (
        cand.join(v1, "vec1")
        .join(v2, "vec2")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= ND_TAU)
        .select("vec1", "vec2", "sim")
    )


def ann_recall_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative recall@k of the SRP multi-probe ANN against the exact
    brute-force baseline → (query_id, recall). This turns the approximate
    path's rows-only status into a measured number: the golden twin
    (fixtures_text.ensure_golden_recall_srp) replays both sides with
    left-fold dot products and plain-python hyperplanes.

    Plan: both sides are the already-registered queries; the evaluation
    itself is a broadcast-size semi join + per-query count."""
    return _recall_vs_exact(ann_topk_bruteforce(spark, sf_dir), ann_topk_srp(spark, sf_dir))


def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative recall@k of the IVF-flat ANN against the exact
    brute-force baseline → (query_id, recall) — the IVF twin of
    ann_recall_srp, so BOTH approximate paths carry a measured number. The
    golden twin (fixtures_text.ensure_golden_recall_ivf) replays centroid
    selection, the fold-arithmetic assignment/probe (centroid_sims), and both
    top-k sides in plain numpy."""
    return _recall_vs_exact(ann_topk_bruteforce(spark, sf_dir), ann_topk_ivf(spark, sf_dir))


def _recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """recall@k per query: |approx ∩ exact| / k — broadcast-size semi join +
    per-query count (both sides are ≤ |queries| × k rows)."""
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    all_q = exact.select("query_id").distinct()
    return all_q.join(hits, "query_id", "left").select(
        "query_id",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / float(ANN_K)).alias("recall"),
    )
