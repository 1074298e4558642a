"""Line operators — the GEOSMergeLines analog (G3).

Reference (geos_nodes.cpp:234-283): build a collection of 2-point
segments and GEOSLineMerge them into polylines by joining touching
endpoints. Distributed re-expression: endpoints are quantized keys,
segments sharing an endpoint are edges of a graph, each merged
polyline is a connected component; chain order is reconstructed with a
grouped pandas walk for small/branching components and a distributed
pointer-jumping rank (Wyllie) for giant simple paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gfp_gdal_spark.plans.graph import connected_components
from gfp_gdal_spark.plans.lineage import flat_checkpoint

__all__ = ["merge_lines", "simplify_polylines"]


def _endpoint_key(x: str, y: str, quant: float):
    # quantized endpoint identity (GEOS merges exactly-touching nodes;
    # quantization gives float-robust identity)
    return F.concat_ws(
        ":",
        F.round(F.col(x) / quant).cast("long"),
        F.round(F.col(y) / quant).cast("long"),
    )


def merge_lines(
    segments: DataFrame,
    x1: str = "x1",
    y1: str = "y1",
    x2: str = "x2",
    y2: str = "y2",
    quant: float = 1e-9,
    distributed_threshold: int = 65536,
    max_walk_size: int = 4_000_000,
) -> DataFrame:
    """Merge touching 2-point segments into polylines.

    Input: one row per segment with endpoint columns. Output: one row
    per merged polyline: (line_id, points: array<array<double>>,
    n_segments). Segment direction is normalized during the walk, as
    GEOSLineMerge does.

    Scale shape (round 3): a SIMPLE-PATH component larger than
    ``distributed_threshold`` segments (a continental road chain — the
    giant-component case) is ordered by distributed pointer-jumping
    list ranking (Wyllie) over directed darts: O(log n) self-join
    rounds, each partitioned across the cluster, localCheckpoint per
    round. Only the final per-polyline assembly is a grouped collect —
    inherent to the one-array-per-polyline output contract. Small,
    branching (endpoint degree >= 3) and cyclic components take the
    single-task grouped walk, which raises past ``max_walk_size``
    (fail loud; pre-split or raise the bound) instead of silently
    serializing an unbounded component through one worker.
    """
    seg = segments.withColumn("_sid", F.monotonically_increasing_id())
    seg = seg.withColumn("_k1", _endpoint_key(x1, y1, quant)).withColumn(
        "_k2", _endpoint_key(x2, y2, quant)
    )
    # graph: segment ids become vertices; two segments sharing an
    # endpoint key get an edge (via self-join per endpoint bucket)
    ends = seg.select(F.col("_sid"), F.explode(F.array("_k1", "_k2")).alias("_k"))
    a = ends.select(F.col("_k"), F.col("_sid").alias("src"))
    b = ends.select(F.col("_k"), F.col("_sid").alias("dst"))
    edges = a.join(b, "_k").where(F.col("src") < F.col("dst")).select("src", "dst")
    comps = connected_components(edges)
    labeled = seg.join(
        comps.withColumnRenamed("vertex", "_sid"), "_sid", "left"
    ).withColumn("component", F.coalesce("component", F.col("_sid")))

    # per-component stats routing the two strategies: size, max
    # endpoint degree, and the two degree-1 chain ends (for paths)
    cends = labeled.select(
        "component", F.explode(F.array("_k1", "_k2")).alias("_k")
    )
    deg = cends.groupBy("component", "_k").agg(F.count(F.lit(1)).alias("_d"))
    cstat = deg.groupBy("component").agg(
        F.max("_d").alias("_maxdeg"),
        F.sum(F.when(F.col("_d") == 1, 1).otherwise(0)).alias("_n_deg1"),
        F.min(F.when(F.col("_d") == 1, F.col("_k"))).alias("_e_min"),
        F.max(F.when(F.col("_d") == 1, F.col("_k"))).alias("_e_max"),
    )
    csize = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("_csize"))
    # checkpoint: the routing stats force one action (max chain length
    # for the pointer-jump round count); without a cut the CC lineage
    # would execute twice (once for routing, once for the output)
    labeled = labeled.join(cstat, "component").join(csize, "component").localCheckpoint(
        eager=False
    )
    is_big_path = (
        (F.col("_maxdeg") <= 2)
        & (F.col("_n_deg1") == 2)
        & (F.col("_csize") > distributed_threshold)
    )

    out_schema = (
        "line_id long, chain_seq int, points array<array<double>>, n_segments int"
    )

    big = _merge_big_paths(
        labeled.where(is_big_path), x1, y1, x2, y2, out_schema
    )
    labeled = labeled.where(~is_big_path).drop(
        "_maxdeg", "_n_deg1", "_e_min", "_e_max", "_csize"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_walk_size:
            raise ValueError(
                f"merge_lines: branching/cyclic component of {len(pdf)} segments "
                f"exceeds max_walk_size={max_walk_size} for the single-task walk "
                f"(simple paths this big are ordered distributively); raise "
                f"max_walk_size or pre-split the layer"
            )
        # chain the segments of ONE component into ordered polylines.
        # GEOSLineMerge emits MULTIPLE lines when a component branches
        # (an endpoint with degree >= 3): we restart the walk from any
        # remaining unused segment until every segment is consumed, so
        # no segment is silently dropped. chain_seq disambiguates the
        # chains of one component; n_segments counts THIS chain's
        # segments.
        pts = {}
        adj: dict[str, list[int]] = {}
        segs = []
        cols = zip(pdf["_k1"], pdf["_k2"], pdf[x1], pdf[y1], pdf[x2], pdf[y2])
        for i, (k1, k2, ax, ay, bx, by) in enumerate(cols):
            pts[k1] = [ax, ay]
            pts[k2] = [bx, by]
            segs.append((k1, k2))
            adj.setdefault(k1, []).append(i)
            adj.setdefault(k2, []).append(i)
        used: set[int] = set()
        chains: list[list[str]] = []
        while len(used) < len(segs):
            # prefer a degree-1 endpoint with an unused segment; else any
            start = next(
                (
                    k
                    for k, v in adj.items()
                    if len([i for i in v if i not in used]) == 1
                ),
                None,
            )
            if start is None:
                start = segs[next(i for i in range(len(segs)) if i not in used)][0]
            chain = [start]
            cur = start
            while True:
                nxt_i = next((i for i in adj.get(cur, []) if i not in used), None)
                if nxt_i is None:
                    break
                used.add(nxt_i)
                k1, k2 = segs[nxt_i]
                cur = k2 if k1 == cur else k1
                chain.append(cur)
            chains.append(chain)
        comp = int(pdf["component"].iloc[0])
        return pd.DataFrame(
            {
                "line_id": [comp] * len(chains),
                "chain_seq": list(range(len(chains))),
                "points": [[pts[k] for k in c] for c in chains],
                "n_segments": [len(c) - 1 for c in chains],
            }
        )

    small = labeled.groupBy("component").applyInPandas(walk, out_schema)
    return small.unionByName(big)


def _merge_big_paths(
    simp: DataFrame, x1: str, y1: str, x2: str, y2: str, out_schema: str
) -> DataFrame:
    """Distributed chain ordering for large SIMPLE-PATH components
    (every endpoint degree <= 2, exactly two degree-1 ends).

    Wyllie list ranking over directed darts: each segment contributes
    two darts (tail->head both ways); a dart's successor is the unique
    other-segment dart leaving its head (none at a chain end). Pointer
    doubling computes, in ceil(log2 n) self-join rounds, every dart's
    distance-to-end and its terminal endpoint; darts terminating at the
    component's max-key degree-1 endpoint are the e_min -> e_max
    traversal, position = n - rank. Each round is one equi-join shuffle
    partitioned across the cluster; lineage cut with localCheckpoint
    (the connected_components pattern).
    """
    import math

    fwd = simp.select(
        "component", "_csize", "_e_max",
        (F.col("_sid") * 2).alias("_dart"),
        F.col("_k1").alias("_tail"), F.col("_k2").alias("_head"),
        F.col(x1).alias("_tx"), F.col(y1).alias("_ty"),
        F.col(x2).alias("_hx"), F.col(y2).alias("_hy"),
    )
    bwd = simp.select(
        "component", "_csize", "_e_max",
        (F.col("_sid") * 2 + 1).alias("_dart"),
        F.col("_k2").alias("_tail"), F.col("_k1").alias("_head"),
        F.col(x2).alias("_tx"), F.col(y2).alias("_ty"),
        F.col(x1).alias("_hx"), F.col(y1).alias("_hy"),
    )
    darts = fwd.unionByName(bwd)
    nxt = darts.select(
        F.col("component").alias("_jcomp"),
        F.col("_tail").alias("_jk"),
        F.col("_dart").alias("_succ"),
    )
    state = (
        darts.join(
            nxt,
            (darts["component"] == nxt["_jcomp"])
            & (darts["_head"] == nxt["_jk"])
            & (F.floor(darts["_dart"] / 2) != F.floor(nxt["_succ"] / 2)),
            "left",
        )
        .select(
            "component", "_csize", "_e_max", "_dart", "_tail", "_head",
            "_tx", "_ty", "_hx", "_hy", "_succ",
        )
        .withColumn("_rank", F.lit(1).cast("long"))
        .withColumn(
            "_term", F.when(F.col("_succ").isNull(), F.col("_head"))
        )
    )
    n_max = state.agg(F.max("_csize")).first()[0]
    if n_max is None:
        return simp.sparkSession.createDataFrame([], out_schema)
    rounds = max(int(math.ceil(math.log2(max(n_max, 2)))), 1)
    # flat_checkpoint, NOT plain localCheckpoint: each doubling round
    # self-joins the state, and inherited join-size ESTIMATES square
    # per round (BigInteger blowup) unless reset to absolute stats
    state = flat_checkpoint(state)
    for _ in range(rounds):
        s2 = state.select(
            F.col("_dart").alias("_d2"), F.col("_succ").alias("_succ2"),
            F.col("_rank").alias("_rank2"), F.col("_term").alias("_term2"),
        )
        prev = state
        state = (
            state.join(s2, state["_succ"] == s2["_d2"], "left")
            .withColumn("_rank", F.col("_rank") + F.coalesce("_rank2", F.lit(0)))
            .withColumn("_term", F.coalesce("_term", "_term2"))
            .withColumn(
                "_succ", F.when(F.col("_succ").isNotNull(), F.col("_succ2"))
            )
            .drop("_d2", "_succ2", "_rank2", "_term2")
        )
        state = flat_checkpoint(state)
        prev.unpersist()
    # keep the e_min -> e_max traversal: darts whose chain terminates
    # at the max-key degree-1 endpoint (exactly one dart per segment)
    chain = state.where(F.col("_term") == F.col("_e_max")).withColumn(
        "_pos", (F.col("_csize") - F.col("_rank")).cast("long")
    )
    assembled = chain.groupBy("component", "_csize").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("_pos"), F.col("_tx"), F.col("_ty"),
                    F.col("_hx"), F.col("_hy"),
                )
            )
        ).alias("_ord")
    )
    first_pt = F.array(
        F.col("_ord")[0]["_tx"].cast("double"), F.col("_ord")[0]["_ty"].cast("double")
    )
    heads = F.transform(
        F.col("_ord"),
        lambda s: F.array(s["_hx"].cast("double"), s["_hy"].cast("double")),
    )
    return assembled.select(
        F.col("component").alias("line_id"),
        F.lit(0).cast("int").alias("chain_seq"),
        F.concat(F.array(first_pt), heads).alias("points"),
        F.col("_csize").cast("int").alias("n_segments"),
    )


def simplify_polylines(df, tol: float, line: str = "line"):
    """DP-simplify an open-polyline column (the line-layer side of
    `ogr2ogr -simplify`; `simplify_polygons` is the ring side with the
    GEOS validity gates): endpoints anchored, interior vertices within
    ``tol`` of the chord dropped, originals preserved bit-exactly.

    Scale: one vectorized Arrow UDF — narrow, shuffle-free."""
    from pyspark.sql import functions as F

    from gfp_gdal_spark.functions.geometry import simplify_line

    return df.withColumn(line, simplify_line(F.col(line), float(tol)))
