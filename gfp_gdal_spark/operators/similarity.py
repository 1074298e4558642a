"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — broadcast the (small) query
  set, JVM-side dot product via zip_with/aggregate, Window top-k.
  The right plan when |queries| is small; the parity oracle otherwise.
- lsh_cosine_topk: random-hyperplane LSH bucketing (sign bits) ->
  equi-join on bucket -> exact cosine refine -> top-k. The scale path:
  candidates per query ~ corpus/2^bits * multiprobe, and the join is
  an equi-join that AQE can re-balance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "cosine_sim_col",
    "cosine_topk",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "embedding_dedup_pairs",
    "embedding_dedup",
]


def cosine_sim_col(a: Column, b: Column) -> Column:
    """JVM-side cosine similarity of two array<float/double> columns
    (zip_with product + aggregate sum — no Python round-trip)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / F.greatest(na * nb, F.lit(1e-12))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k (broadcast nested loop + window)."""
    from pyspark.sql import Window

    from gfp_gdal_spark.operators.joins import _fan_out

    def _norm(col: Column) -> Column:
        return F.sqrt(
            F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
        )

    # fan the (possibly single-split) corpus scan out to cluster width —
    # a broadcast NL join preserves the probe side's partitioning, so a
    # narrow scan would run every pair on ONE task; and compute each
    # side's norm ONCE per row instead of once per pair (identical fp
    # formula to cosine_sim_col: dot / greatest(na*nb, 1e-12)).
    cb = _fan_out(corpus).withColumn("_cn", _norm(F.col(c_vec)))
    qb = queries.withColumn("_qn", _norm(F.col(q_vec)))
    dot = F.aggregate(
        F.zip_with(F.col(q_vec), F.col(c_vec), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = cb.crossJoin(F.broadcast(qb)).withColumn(
        "cosine", dot / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-12))
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cosine", "rank")
    )


def _norm_col(col: Column) -> Column:
    """L2 norm of an array column — the per-ROW half of the cosine, so
    pair verifies pay one higher-order pass (the dot) instead of three.
    Same fp expression as cosine_sim_col's norm terms."""
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).astype(np.float64)


def _bucket_udf(dim: int, bits: int, seed: int = 42):
    planes = _hyperplanes(dim, bits, seed)

    @F.pandas_udf(T.LongType())
    def _b(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ planes.T) > 0
        weights = (1 << np.arange(bits, dtype=np.int64))[None, :]
        return pd.Series((signs * weights).sum(axis=1).astype(np.int64))

    return _b


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
    sample_rows: int = 4096,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to ``n_centroids``
    data-derived centroids (greedy max-min pick over a driver-side
    sample — kmeans++-style seeding, deterministic); each corpus vector
    joins its nearest centroid's inverted list; each query probes its
    ``n_probe`` nearest centroids; exact cosine refine + top-k.

    Scale shape: corpus assignment is one vectorized pandas-UDF pass;
    the probe join is an equi-join on centroid id whose build side is
    the (replicated x n_probe) QUERY side — candidates ~= corpus *
    n_probe / n_centroids.
    """
    from pyspark.sql import Window

    # keyed deterministic sample: top-N by xxhash64(id) — a distributed
    # TakeOrdered, invariant to partitioning (a bare limit() is not)
    sample = (
        corpus.select(c_id, c_vec)
        .orderBy(F.xxhash64(F.col(c_id)), F.col(c_id))
        .limit(sample_rows)
        .toPandas()
    )
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in sample[c_vec]])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    first = int(rng.integers(0, len(mat)))
    cent_idx = [first]
    d = 1.0 - mat @ mat[first]
    for _ in range(1, min(n_centroids, len(mat))):
        nxt = int(np.argmax(d))
        cent_idx.append(nxt)
        d = np.minimum(d, 1.0 - mat @ mat[nxt])
    centroids = mat[cent_idx]  # (n_centroids, dim), unit norm

    def assign_udf(top_n: int):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _assign(vecs: pd.Series) -> pd.Series:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ centroids.T
            top = np.argsort(-sims, axis=1)[:, :top_n].astype(np.int32)
            return pd.Series(list(top))

        return _assign

    cb = corpus.withColumn("_clist", assign_udf(1)(F.col(c_vec))).withColumn(
        "_centroid", F.col("_clist")[0]
    ).drop("_clist")
    qb = queries.withColumn(
        "_centroid", F.explode(assign_udf(n_probe)(F.col(q_vec)))
    )
    # broadcast_queries: None defers to Catalyst/AQE size stats (a big
    # query table x n_probe fan-out must NOT be force-broadcast — it
    # would OOM executors where a shuffle join degrades gracefully)
    build = F.broadcast(qb) if broadcast_queries else qb
    # per-row norms once, dot per candidate (same fp formula as
    # cosine_sim_col — see embedding_dedup_pairs)
    cb = cb.withColumn("_cn", _norm_col(F.col(c_vec)))
    build = build.withColumn("_qn", _norm_col(F.col(q_vec)))
    cand = cb.join(build, "_centroid").withColumn(
        "cosine",
        _dot_col(F.col(q_vec), F.col(c_vec))
        / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-12)),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cosine", "rank")
    )


def embedding_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 8,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
    multiprobe: int = 1,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket self-join
    (side A fans out to hamming<=multiprobe buckets), exact cosine
    verify >= threshold. The 10^12-row shape: candidates ~
    n^2/2^bits * probes, never all-pairs; degenerate buckets capped.
    ``bits`` and ``max_bucket`` trade recall for speed."""
    from pyspark.sql import Window

    from itertools import combinations

    bu = _bucket_udf(dim, bits, seed)
    base = corpus.select(F.col(c_id).alias("_id"), F.col(c_vec).alias("_vec")).withColumn(
        "_bucket", bu(F.col("_vec"))
    )
    # cap degenerate buckets (b^2 pair blowup)
    w = Window.partitionBy("_bucket").orderBy("_id")
    base = base.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= max_bucket).drop("_rn")
    # per-ROW norm, computed once before the pair fan-out: the verify
    # then evaluates ONE higher-order pass (the dot product) per
    # candidate instead of three (dot + 2 norms) — same fp formula as
    # cosine_sim_col (norms are identical doubles either way), ~3x less
    # interpreted-HOF work on the O(n^2/2^bits) pair stream.
    norm = F.sqrt(
        F.aggregate(
            F.col("_vec"), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    base = base.withColumn("_norm", norm)
    masks = [0]
    for m in range(1, multiprobe + 1):
        for fl in combinations(range(bits), m):
            mm = 0
            for b in fl:
                mm |= 1 << b
            masks.append(mm)
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_vec").alias("vec_a"),
        F.col("_norm").alias("_na"),
        F.explode(F.array(*[F.col("_bucket").bitwiseXOR(F.lit(m)) for m in masks])).alias("_bucket"),
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"), F.col("_norm").alias("_nb"),
        "_bucket",
    )
    dot = F.aggregate(
        F.zip_with(F.col("vec_a"), F.col("vec_b"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # NOTE: no pair-dedup shuffle — none is needed. The probe masks are
    # distinct, so for a fixed ordered pair (a, b) exactly one mask
    # satisfies bucket_a ^ m == bucket_b (m = bucket_a ^ bucket_b, and
    # only when their hamming distance <= multiprobe): the equi-join
    # emits each id_a < id_b pair AT MOST ONCE already (ids unique by
    # the dedup contract). The previous dropDuplicates(["id_a","id_b"])
    # reshuffled every candidate WITH both 64-float payloads — the
    # measured dominant cost at bench scale — for a provable no-op.
    pairs = (
        a.join(b, "_bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / F.greatest(F.col("_na") * F.col("_nb"), F.lit(1e-12)))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return pairs


def embedding_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    exact_clusters: bool = False,
    **kw,
) -> DataFrame:
    """Embedding-cosine near-dup clustering: every row gets a
    ``cluster_id`` (min id among its >=threshold neighbors, itself
    included; exact_clusters=True runs full connected components) —
    the embedding twin of minhash_dedup."""
    pairs = embedding_dedup_pairs(corpus, threshold=threshold, c_id=c_id, c_vec=c_vec, **kw)
    if exact_clusters:
        from gfp_gdal_spark.plans.graph import connected_components

        comp = connected_components(pairs, src="id_a", dst="id_b")
        return (
            corpus.join(comp, corpus[c_id] == comp["vertex"], "left")
            .withColumn("cluster_id", F.coalesce("component", corpus[c_id]))
            .drop("vertex", "component")
        )
    fwd = pairs.select(F.col("id_b").alias("_id"), F.col("id_a").alias("peer"))
    bwd = pairs.select(F.col("id_a").alias("_id"), F.col("id_b").alias("peer"))
    rep = fwd.unionByName(bwd).groupBy("_id").agg(F.min("peer").alias("min_peer"))
    return (
        corpus.join(rep, corpus[c_id] == rep["_id"], "left")
        .withColumn("cluster_id", F.least(F.coalesce("min_peer", corpus[c_id]), corpus[c_id]))
        .drop("_id", "min_peer")
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits: int = 8,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
    multiprobe: int = 1,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Approximate cosine top-k: sign-bucket candidates, exact refine —
    the 10^12-row shape where brute force is impossible.

    ``multiprobe`` probes every bucket within hamming distance
    ``multiprobe`` of the query's own bucket (0 = single probe): only
    the QUERY side fans out (sum_{i<=m} C(bits,i) probes), the corpus
    stays bucketed once, and recall rises steeply because a near
    neighbor differs from the query in at most a few hyperplane signs.
    Candidates per query ~= corpus/2^bits * n_probes.
    """
    from itertools import combinations

    from pyspark.sql import Window

    bu = _bucket_udf(dim, bits, seed)
    masks = [0]
    for m in range(1, multiprobe + 1):
        for fl in combinations(range(bits), m):
            mask = 0
            for b in fl:
                mask |= 1 << b
            masks.append(mask)
    qb = queries.withColumn("_b0", bu(F.col(q_vec))).withColumn(
        "_bucket",
        F.explode(F.array(*[F.col("_b0").bitwiseXOR(F.lit(m)) for m in masks])),
    ).drop("_b0")
    cb = corpus.withColumn("_bucket", bu(F.col(c_vec))).withColumn(
        "_cn", _norm_col(F.col(c_vec))
    )
    # broadcast_queries=None lets Catalyst/AQE pick from size stats —
    # the multiprobe fan-out multiplies the query side by C(bits,<=m),
    # so an unconditional broadcast hint would OOM on large query sets
    build = (F.broadcast(qb) if broadcast_queries else qb).withColumn(
        "_qn", _norm_col(F.col(q_vec))
    )
    cand = cb.join(build, "_bucket").withColumn(
        "cosine",
        _dot_col(F.col(q_vec), F.col(c_vec))
        / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-12)),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, c_id, "cosine", "rank")
    )
