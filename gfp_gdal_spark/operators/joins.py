"""Spatial joins — the engine's flagship operators [north_rule].

The reference has no joins (SURVEY.md §2.4); these implement the
BASELINE.json requirements with the one rewrite Catalyst cannot infer:
turning a spatial theta-join into a **cell-bucketed equi-join**
(cover/encode -> explode -> hash join -> exact refine).

Scale design notes (100 TB / 10^12 rows):
- the point side is NEVER replicated — each point maps to exactly one
  cell, so the join output needs no dedup;
- the polygon side is replicated only across its covering cells
  (explode), bounded by `max_cells_per_poly`;
- broadcast vs sort-merge is an explicit knob (`broadcast=`), with
  auto mode deferring to Catalyst/AQE (autoBroadcastJoinThreshold);
- hot cells (a city-block cell holding 1% of all points) are handled
  by salting: see plans/salting.py — the build side replicates
  `n_salt` ways ONLY for the hot cells.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gfp_gdal_spark.functions.geometry import haversine_m
from gfp_gdal_spark.functions.spatial import (
    hex_cell,
    hex_cover_range_cols,
    hex_kring,
    hex_pack_cols,
    pip_refine_rect_col,
    rect_bounds_col,
    ring_crossings_col,
    tile_cols,
    tile_cover_cols,
)

__all__ = [
    "tile_assign",
    "tile_cover",
    "tile_rollup",
    "tile_rollup_stats",
    "bbox_join",
    "polygon_join",
    "overlap_clusters",
    "ring_bbox_cols",
    "cover_cells_tile",
    "cover_cells_hex",
    "cover_cells_s2",
    "pip_join",
    "knn_join",
    "radius_join",
    "knn_join_bruteforce",
]


# ---------------------------------------------------------------------------
# tile assignment (WebMercator z/x/y) — pure JVM column math
# ---------------------------------------------------------------------------

def _parse_bytes(raw: str, default: int) -> int:
    digits = "".join(ch for ch in raw if ch.isdigit())
    if not digits:
        return default
    v = int(digits)
    low = raw.lower()
    if low.endswith(("m", "mb")):
        v *= 1 << 20
    elif low.endswith(("g", "gb")):
        v *= 1 << 30
    elif low.endswith(("k", "kb")):
        v *= 1 << 10
    return v


def _fan_out(df: DataFrame, min_frac: float = 0.5) -> DataFrame:
    """Repartition a NARROW plan (a small scan = one parquet split) to
    cluster width so downstream per-row work runs wide — a no-op at
    data scale where the scan carries thousands of splits.

    Size estimate, in order (no job, no RDD conversion of the plan):
    1. PUBLIC API — ``df.inputFiles()`` + a local stat of the scan's
       files (exact input bytes; covers the file-scan plans this guard
       exists for). Remote URIs (s3/hdfs) skip to 2.
    2. Optimizer size stats via the internal queryExecution handle —
       fallback only (brittle across Spark upgrades).
    3. If both fail: leave the plan alone (the size is unknown, and a
       blind repartition could shuffle a huge derived input).
    """
    import os as _os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    mpb = _parse_bytes(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")),
        134_217_728,
    )
    est_parts = None
    try:
        files = df.inputFiles()
        sizes = []
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                raise ValueError(f"non-local input {u.scheme}://")
            sizes.append(_os.path.getsize(unquote(u.path)))
        if sizes:
            est_parts = max(sum(sizes) // max(mpb, 1), 1)
    except Exception:
        est_parts = None
    if est_parts is None:
        try:
            size_b = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            est_parts = max(size_b // max(mpb, 1), 1)
        except Exception:
            # both estimators unavailable: leave the plan alone — a
            # blind repartition of an unknown-size frame could shuffle
            # a huge derived input
            est_parts = target
    if est_parts < max(int(target * min_frac), 1):
        return df.repartition(target)
    return df


def tile_assign(df: DataFrame, lon: str = "lon_c", lat: str = "lat_c", z: int = 12) -> DataFrame:
    """One (tile_x, tile_y) per row at zoom z — the raster-tile
    assignment of the north_rule (analog of GDALWriter's
    filename-from-attribute routing, gdal_nodes.cpp:289-293)."""
    xt, yt = tile_cols(F.col(lon), F.col(lat), z)
    return df.withColumn("tile_z", F.lit(z)).withColumn("tile_x", xt).withColumn("tile_y", yt)


def _ancestor_rows(tiles: DataFrame, z_to: int, *cols) -> DataFrame:
    """Each tile row once per ancestor level z_to..tile_z, as
    (out_z, out_x, out_y, *cols) with the parent coords shifted right
    by the level difference — the body of both pyramid rollups."""
    zc = F.col("tile_z")
    # rows already coarser than z_to cannot be represented at a finer
    # level: without this filter F.sequence(z_to, tile_z) descends and
    # shiftright gets a negative count, which the JVM masks mod 64 into
    # a large positive shift — silently wrong coordinates (ADVICE r4).
    t = tiles.where(zc >= F.lit(z_to)).withColumn("_l", F.explode(F.sequence(F.lit(z_to), zc)))
    return t.select(
        F.col("_l").alias("out_z"),
        F.expr("shiftright(tile_x, tile_z - _l)").alias("out_x"),
        F.expr("shiftright(tile_y, tile_z - _l)").alias("out_y"),
        *cols,
    )


def tile_rollup(
    tiles: DataFrame,
    z_to: int,
    count_col: str | None = None,
    out_col: str = "n",
) -> DataFrame:
    """Tile-pyramid rollup: per-tile counts (or pre-aggregated
    ``count_col`` sums) at EVERY zoom from the input's ``tile_z`` down
    to ``z_to`` — the serving-pyramid aggregation behind any z/x/y tile
    endpoint. Parent coords are child coords shifted right by the level
    difference (WebMercator quadtree).

    Scale shape: each row explodes over its ancestor levels and ONE
    hash aggregation keyed (tile_z, tile_x, tile_y) produces the whole
    pyramid — a single shuffle whose map-side partial combine collapses
    the fan-out to at most one row per (input tile x level) before
    anything crosses the network. The alternative (per-level iterative
    rollup reusing child sums) shuffles z_from - z_to times and leaves
    log-depth lineage; one wide aggregation wins on a cluster unless
    levels are reused incrementally.
    """
    weight = F.lit(1).cast("long") if count_col is None else F.col(count_col).cast("long")
    t = _ancestor_rows(tiles, z_to, weight.alias("_w"))
    return (
        t.groupBy("out_z", "out_x", "out_y")
        .agg(F.sum("_w").alias(out_col))
        .withColumnsRenamed({"out_z": "tile_z", "out_x": "tile_x", "out_y": "tile_y"})
    )


def tile_rollup_stats(
    tiles: DataFrame,
    z_to: int,
    val_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """``tile_rollup`` for VALUE statistics: per-tile n/min/max/sum/
    mean of ``val_col`` at every zoom from the input's ``tile_z`` down
    to ``z_to`` — the serving pyramid behind choropleth/heat endpoints
    that show a mean or extreme instead of a count. ``weight_col``
    (e.g. a per-tile point count when the input is already one
    aggregated row per leaf tile) makes the mean the correctly
    weighted one: sum += val*weight, n += weight.

    Determinism contract: pass an integral ``val_col`` (micro-quantize
    floats upstream, the band_index rule) and the sums are exact
    integers — partial-aggregation-order-independent; the one division
    per output row happens at the end.

    Scale shape: IDENTICAL to tile_rollup — one explode over ancestor
    levels, ONE map-side-combined hash aggregate for the entire
    pyramid, no per-level iteration, no window.
    """
    wt = F.lit(1).cast("long") if weight_col is None else F.col(weight_col).cast("long")
    t = _ancestor_rows(tiles, z_to, wt.alias("_w"), F.col(val_col).cast("long").alias("_v"))
    return (
        t.groupBy("out_z", "out_x", "out_y")
        .agg(
            F.sum("_w").alias("n"),
            F.min("_v").alias("val_min"),
            F.max("_v").alias("val_max"),
            F.sum(F.col("_v") * F.col("_w")).alias("val_sum"),
        )
        .withColumn("val_mean", F.col("val_sum") / F.col("n"))
        .withColumnsRenamed({"out_z": "tile_z", "out_x": "tile_x", "out_y": "tile_y"})
    )


def ring_bbox_cols(df: DataFrame, ring: str = "ring") -> DataFrame:
    """bbox columns from an array<array<double>> ring — pure JVM
    (transform + array_min/max), no Python round-trip."""
    xs = F.transform(F.col(ring), lambda p: p[0])
    ys = F.transform(F.col(ring), lambda p: p[1])
    return (
        df.withColumn("min_lon", F.array_min(xs))
        .withColumn("min_lat", F.array_min(ys))
        .withColumn("max_lon", F.array_max(xs))
        .withColumn("max_lat", F.array_max(ys))
    )


def tile_cover(df: DataFrame, z: int, bbox_cols=("min_lon", "min_lat", "max_lon", "max_lat")) -> DataFrame:
    """Explode each row to every WebMercator tile its bbox intersects
    (the multi-row flatten pattern of ogr_reader_node.cpp:281-291).
    Pure JVM: sequence + explode."""
    x0, x1, y0, y1 = tile_cover_cols(*(F.col(c) for c in bbox_cols), z)
    df = df.withColumn("tile_z", F.lit(z))
    df = df.withColumn("tile_x", F.explode(F.sequence(x0, x1)))
    df = df.withColumn("tile_y", F.explode(F.sequence(y0, y1)))
    return df


def bbox_join(
    left: DataFrame,
    right: DataFrame,
    z: int = 8,
    l_cols: tuple[str, str, str, str] = ("l_min_lon", "l_min_lat", "l_max_lon", "l_max_lat"),
    r_cols: tuple[str, str, str, str] = ("r_min_lon", "r_min_lat", "r_max_lon", "r_max_lat"),
) -> DataFrame:
    """Rectangle-OVERLAP join: left x right rows whose closed bboxes
    intersect — the 2-D sibling of ``interval_join`` (image-footprint
    overlap vs zone extents, scene-pair candidate generation).

    Both sides explode over their WebMercator z-tile cover; the tile
    equi-join would emit a pair once per shared tile, so each pair is
    kept only in its CANONICAL tile — the tile of the overlap
    rectangle's lower-left corner (greatest of the min corners), which
    both covers contain exactly once. No dedup shuffle, no distinct,
    no product; pure JVM. Size ``z`` so the TYPICAL bbox covers a few
    tiles (fan-out is bounded by cover size, exactly like
    interval_join's bin count). Bound column names must be DISTINCT
    across sides (the output carries both) — fail loud otherwise.
    """
    clash = set(l_cols) & set(r_cols)
    if clash:
        raise ValueError(
            f"bbox_join bbox columns collide across sides: {sorted(clash)}; "
            "rename one side first"
        )

    def cover(df: DataFrame, cols) -> DataFrame:
        x0, x1, y0, y1 = tile_cover_cols(*(F.col(c) for c in cols), z)
        return df.withColumn("_cx", F.explode(F.sequence(x0, x1))).withColumn(
            "_cy", F.explode(F.sequence(y0, y1))
        )

    j = cover(left, l_cols).join(cover(right, r_cols), ["_cx", "_cy"])
    lmnx, lmny, lmxx, lmxy = (F.col(c) for c in l_cols)
    rmnx, rmny, rmxx, rmxy = (F.col(c) for c in r_cols)
    overlap = (lmnx <= rmxx) & (rmnx <= lmxx) & (lmny <= rmxy) & (rmny <= lmxy)
    cx, cy = tile_cols(F.greatest(lmnx, rmnx), F.greatest(lmny, rmny), z)
    canonical = (F.col("_cx") == cx) & (F.col("_cy") == cy)
    return j.where(overlap & canonical).drop("_cx", "_cy")


def _edges_cross_col(ra: Column, rb: Column) -> Column:
    """TRUE iff any edge of (unclosed) ring ``ra`` PROPERLY crosses any
    edge of ring ``rb`` — the strict double-orientation test, as one
    nested JVM higher-order expression (O(nA*nB) per evaluated pair,
    zero Python). Zero cross products (touching / collinear contacts)
    never register: strictness is what makes the polygon_join
    predicate an INTERIORS-intersect test."""
    na, nb = F.size(ra), F.size(rb)

    def orient(o: Column, a: Column, b: Column) -> Column:
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def seg_hit(i: Column) -> Column:
        a1, a2 = F.get(ra, i), F.get(ra, (i + 1) % na)

        def hit_j(j: Column) -> Column:
            b1, b2 = F.get(rb, j), F.get(rb, (j + 1) % nb)
            d1, d2 = orient(b1, b2, a1), orient(b1, b2, a2)
            d3, d4 = orient(a1, a2, b1), orient(a1, a2, b2)
            return ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

        return F.exists(F.sequence(F.lit(0), nb - 1), hit_j)

    return F.exists(F.sequence(F.lit(0), na - 1), seg_hit)


def polygon_join(
    left: DataFrame,
    right: DataFrame,
    z: int = 8,
    l_ring: str = "l_ring",
    r_ring: str = "r_ring",
) -> DataFrame:
    """Polygon-OVERLAP join (interiors intersect) — the general-
    geometry sibling of ``bbox_join`` and the missing fourth spatial
    join beside point-in-polygon / kNN / radius (zone x zone conflict
    checks, footprint x parcel matching, scene x AOI selection).

    Candidates: both rings' bboxes explode over their WebMercator
    z-tile cover and equi-join, each pair kept only in the overlap
    rectangle's lower-left canonical tile (exactly ``bbox_join``'s
    shape: no distinct, no product, fan-out bounded by cover size).
    Refine, all pure JVM Column (zero Python nodes in the whole plan):

        overlap  =  any edge of A properly crosses an edge of B
                 OR any vertex of A strictly inside B
                 OR any vertex of B strictly inside A

    EXACT for simple rings in general position (no vertex of one ring
    ON the other's boundary, no collinear edge overlap): any positive-
    area intersection then either strictly contains a vertex or forces
    a proper crossing, and disjoint-with-a-gap pairs never match.
    Boundary-COINCIDENT pairs (shared edge, corner contact, inscribed
    vertices) sit outside the contract — the proper-crossing test
    correctly sees no interior meeting, but a ray-cast of a vertex
    lying exactly on the other boundary may classify either way, as in
    any strict-predicate floating-point geometry engine; pre-snap with
    quantized/segmentized coordinates if inputs carry exact shared
    bounds.

    Rings are the house ``array<array<double>>`` unclosed canon; ring
    column names must differ across sides (output carries both). Cost
    is O(nA*nB) codegen per surviving candidate — right for footprint/
    zone rings (tens of vertices); simplify first for vertex-heavy
    geometry, as the reference pipeline does before joins.
    """
    if l_ring == r_ring:
        raise ValueError(
            f"ring columns collide across sides ({l_ring!r}); rename one"
        )

    def bb(df: DataFrame, ring: str, pfx: str) -> tuple[DataFrame, tuple[str, ...]]:
        xs = F.transform(F.col(ring), lambda p: p[0])
        ys = F.transform(F.col(ring), lambda p: p[1])
        cols = tuple(pfx + c for c in ("min_lon", "min_lat", "max_lon", "max_lat"))
        out = (
            df.withColumn(cols[0], F.array_min(xs))
            .withColumn(cols[1], F.array_min(ys))
            .withColumn(cols[2], F.array_max(xs))
            .withColumn(cols[3], F.array_max(ys))
        )
        return out, cols

    lv, l_cols = bb(left, l_ring, "_pl_")
    rv, r_cols = bb(right, r_ring, "_pr_")
    cand = bbox_join(lv, rv, z=z, l_cols=l_cols, r_cols=r_cols)
    ra, rb = F.col(l_ring), F.col(r_ring)
    pred = (
        _edges_cross_col(ra, rb)
        | F.exists(ra, lambda p: ring_crossings_col(p[0], p[1], rb))
        | F.exists(rb, lambda p: ring_crossings_col(p[0], p[1], ra))
    )
    return cand.where(pred).drop(*l_cols, *r_cols)


def overlap_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    z: int = 7,
    bbox_cols: tuple[str, str, str, str] = ("min_lon", "min_lat", "max_lon", "max_lat"),
    max_iter: int = 40,
) -> DataFrame:
    """Scene / mosaic grouping: cluster rows whose bboxes TRANSITIVELY
    overlap (image footprints that stitch into one mosaic, flight
    strips, satellite scene stacks). ``bbox_join`` self-join generates
    the overlap edges (tile-bucketed, canonical-tile dedup — never
    all-pairs), distributed connected components labels the clusters,
    and every input row comes back with a ``cluster_id`` (= min id in
    its cluster; non-overlapping rows keep their own id via the left
    join, no edge list entry needed).

    Scale: edges are bounded by true overlap pairs + cover fan-out;
    CC is the O(log n)-round hook+compress of plans.graph (stats-reset
    checkpointing, fail-loud non-convergence). Ids must be orderable
    and globally unique.
    """
    l_cols = tuple("_l_" + c for c in bbox_cols)
    r_cols = tuple("_r_" + c for c in bbox_cols)
    lv = df.select(
        F.col(id_col).alias("_ida"), *[F.col(c).alias(a) for c, a in zip(bbox_cols, l_cols)]
    )
    rv = df.select(
        F.col(id_col).alias("_idb"), *[F.col(c).alias(a) for c, a in zip(bbox_cols, r_cols)]
    )
    edges = (
        bbox_join(lv, rv, z=z, l_cols=l_cols, r_cols=r_cols)
        .where(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("src"), F.col("_idb").alias("dst"))
    )
    from gfp_gdal_spark.plans.graph import connected_components

    comp = connected_components(edges, max_iter=max_iter)
    return (
        df.join(comp, df[id_col] == comp["vertex"], "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("vertex", "component")
    )


def cover_cells_hex(
    polys: DataFrame, res: int, ring: str = "ring", keep_bbox: bool = False
) -> DataFrame:
    """Polygon -> covering hex cells (superset bbox cover, same ±2-cell
    margin as kernels.cells.hex_cover_bbox) — pure JVM: axial range
    columns + sequence/explode, no Python stage."""
    out = ring_bbox_cols(polys, ring)
    q0, q1, r0, r1 = hex_cover_range_cols(
        F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"), res
    )
    out = out.withColumn("_q", F.explode(F.sequence(q0, q1)))
    out = out.withColumn("_r", F.explode(F.sequence(r0, r1)))
    out = out.withColumn("cell", hex_pack_cols(res, F.col("_q"), F.col("_r"))).drop("_q", "_r")
    if not keep_bbox:
        out = out.drop("min_lon", "min_lat", "max_lon", "max_lat")
    return out


def cover_cells_s2(
    polys: DataFrame, level: int, ring: str = "ring", keep_bbox: bool = False
) -> DataFrame:
    """Polygon -> covering S2 cells (superset cover via the per-face
    uv-range analysis of kernels.cells.s2_cover_bbox; property-tested
    never to miss a containing cell). Vectorized pandas UDF + explode —
    cover runs once per polygon, off the point hot path."""
    import pandas as pd
    from pyspark.sql import types as T

    from gfp_gdal_spark.kernels import cells as _c

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(min_lon: pd.Series, min_lat: pd.Series, max_lon: pd.Series, max_lat: pd.Series) -> pd.Series:
        import numpy as np

        # ij-packed ids (not Hilbert): the join key only needs the cell
        # partition, and the point-side twin (s2_ij_cell) whole-stage-
        # codegens where the Hilbert fold runs interpreted
        cells, row = _c.s2_cover_bbox(
            min_lon.to_numpy(), min_lat.to_numpy(), max_lon.to_numpy(),
            max_lat.to_numpy(), level, hilbert=False,
        )
        n = len(min_lon)
        counts = np.bincount(row, minlength=n)
        out = np.split(cells, np.cumsum(counts)[:-1])
        return pd.Series([c.tolist() for c in out])

    out = ring_bbox_cols(polys, ring)
    out = out.withColumn(
        "cell",
        F.explode(_cover(F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"))),
    )
    if not keep_bbox:
        out = out.drop("min_lon", "min_lat", "max_lon", "max_lat")
    return out


def cover_cells_tile(
    polys: DataFrame, z: int, ring: str = "ring", keep_bbox: bool = False
) -> DataFrame:
    """Polygon -> covering tile cells (cell = packed z/x/y long)."""
    out = tile_cover(ring_bbox_cols(polys, ring), z)
    out = out.withColumn(
        "cell", (F.col("tile_x") * F.lit(1 << (z + 1)) + F.col("tile_y"))
    ).drop("tile_x", "tile_y", "tile_z")
    if not keep_bbox:
        out = out.drop("min_lon", "min_lat", "max_lon", "max_lat")
    return out


# ---------------------------------------------------------------------------
# point-in-polygon join
# ---------------------------------------------------------------------------

def _auto_grid(polys: DataFrame, ring: str, bucket: str) -> int:
    """Grid size for ``pip_join`` from the layer's mean ring bbox (one
    aggregate over the small polygon side): tile zoom ``z`` for
    ``bucket="tile"``, cell ``res`` for "hex" and "s2". The size moves
    only the candidate count, never the join result.

    - tile: cell edge ~ the mean bbox extent, so each polygon covers
      O(1) cells (~2-6) while a point's cell holds ~layer-density
      polygons (at z=4 a 2-degree rect layer packs ~300 polygons per
      22.5-degree cell and every point pays all of them in the probe);
    - s2: ~4 cover cells per polygon (a level-L cell spans ~90/2^L
      degrees near a face center). The superset bbox cover inflates
      the fan-out past that target; on the sf1.0 rect layer level 6
      ran 10.7 s against 15.5 s for a ~16-cell target;
    - hex: ~16 cover cells per polygon (cell area 2.598 s^2). A finer
      res multiplies every polygon row by its cover count: at res 3 a
      4-degree footprint covers thousands of cells and the exploded
      build side overflows a forced broadcast.
    """
    import math

    from gfp_gdal_spark.kernels.cells import hex_res_for_size

    w = F.col("max_lon") - F.col("min_lon")
    h = F.col("max_lat") - F.col("min_lat")
    st = ring_bbox_cols(polys.select(ring), ring).agg(
        F.avg(w).alias("w"), F.avg(h).alias("h"), F.avg(w * h).alias("a")
    ).first()
    if bucket == "tile":
        ext = max(float(st.w or 0.0), float(st.h or 0.0), 1e-6)
        return int(min(max(round(math.log2(360.0 / ext)), 0), 14))
    a = max(st.a or 1e-6, 1e-6)
    if bucket == "s2":
        return int(min(max(round(math.log2(90.0 / math.sqrt(a / 4.0))), 0), 28))
    return hex_res_for_size(math.sqrt(a / (2.598 * 16.0)))


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    z: int | str = 7,
    lon: str = "lon_c",
    lat: str = "lat_c",
    ring: str = "ring",
    holes: str | None = "holes",
    broadcast: bool | None = None,
    how: str = "inner",
    keep_geometry: bool = False,
    bucket: str = "tile",
    res: int | None = None,
    salt: int | str | None = None,
    salt_top_k: int = 32,
) -> DataFrame:
    """Cell-bucketed point-in-polygon join.

    points x polys -> rows where point (lon,lat) is strictly inside the
    polygon (exterior ring minus holes; ray-cast refine). Bucketing
    cell: ``bucket="tile"`` uses WebMercator tiles at zoom ``z`` (exact
    rectangular cover, pure JVM math); ``bucket="hex"`` uses hexlite
    cells at ``res`` (H3-style; superset bbox cover, also pure JVM);
    ``bucket="s2"`` uses S2-style cells at ``res``. ``z="auto"`` /
    ``res="auto"`` (or None) size the grid to the layer's mean bbox
    with one aggregate job (see ``_auto_grid``); a fixed size runs
    none. The refine is exact whatever the grid — the bucket scheme
    only shapes the equi-join.

    The refine is a pure Column expression (the ray cast, with a
    bit-identical fast path for axis-aligned rectangles), so the whole
    join plan has zero Python nodes and scales with cores like any JVM
    job.

    broadcast=True  -> force broadcast of the (replicated) polygon side
    broadcast=False -> force shuffle (sort-merge / shuffle-hash) join
    broadcast=None  -> let Catalyst/AQE decide from size stats

    ``salt`` (shuffle path only, broadcast=False): hot-cell salting for
    pathological spatial skew (one city cell holding 1% of the planet).
    ``salt="auto"`` (or an int = n_salt) detects the ``salt_top_k``
    hottest cells from a deterministic 1% sample (one cheap count-
    sketch job) and routes the join through plans.salting's
    salt_join_skewed: hot-cell point rows spread across n_salt shuffle
    partitions, the polygon side replicated n_salt ways ONLY for the
    hot cells. Output rows are identical to the unsalted join (salting
    identity, property-tested).

    Only how='inner' is supported: unmatched points never reach the
    refine, so an outer join here would silently degenerate to inner —
    fail loud instead.
    """
    if how != "inner":
        raise ValueError(
            "pip_join supports how='inner' only (the PiP refine drops "
            "unmatched rows); for left semantics, left-join points "
            "against the inner result on the point key"
        )
    if bucket == "tile" and (z is None or z == "auto"):
        z = _auto_grid(polys, ring, bucket)
    elif bucket in ("hex", "s2") and (res is None or res == "auto"):
        res = _auto_grid(polys, ring, bucket)
    hole_arg = holes if (holes is not None and holes in polys.columns) else None

    # rect fast path (bit-identical — see pip_refine_rect_col): detect
    # axis-aligned rectangle rings ONCE per polygon, before the cover
    # fan-out replicates them; candidates of non-rect layers pay a
    # single null check instead of a per-candidate structural test (a
    # per-candidate test measurably taxed the k-gon layers). The helper
    # column gets a name neither side uses, so no caller column is
    # overwritten or dropped.
    pr = "_pr"
    while pr in polys.columns or pr in points.columns:
        pr += "_"
    polys = polys.withColumn(pr, rect_bounds_col(F.col(ring)))
    if bucket == "hex":
        pcells = cover_cells_hex(polys, res, ring, keep_bbox=True)
    elif bucket == "s2":
        pcells = cover_cells_s2(polys, res, ring, keep_bbox=True)
    else:
        pcells = cover_cells_tile(polys, z, ring, keep_bbox=True)
    if broadcast is True:
        pcells = F.broadcast(pcells)
    elif broadcast is False:
        pcells = pcells.hint("shuffle_hash")
    if bucket == "hex":
        pts = points.withColumn("cell", hex_cell(F.col(lon), F.col(lat), res))
    elif bucket == "s2":
        from gfp_gdal_spark.functions.spatial import s2_ij_cell

        pts = points.withColumn("cell", s2_ij_cell(F.col(lon), F.col(lat), res))
    else:
        xt, yt = tile_cols(F.col(lon), F.col(lat), z)
        pts = points.withColumn("cell", xt * F.lit(1 << (z + 1)) + yt)
    if broadcast is True:
        # a broadcast join preserves the probe side's partitioning; a
        # small scan (one parquet row group) would run the whole join
        # in ONE task. Fan narrow inputs out to the cluster width —
        # a no-op at data scale where scans carry thousands of splits.
        pts = _fan_out(pts)
    if salt is not None and broadcast is False:
        from gfp_gdal_spark.plans.salting import salt_join_skewed

        # auto n_salt scales with cluster width instead of a constant:
        # the point of salting is to spread ONE hot cell's rows across
        # enough shuffle partitions that every core works the hot key
        # (8 ways on 32 cores left 3/4 of the machine idle during the
        # hot-cell refine; measured 6.0s -> ~2.5s on the skew bench).
        # The build side only grows by |hot| * n_salt rows, so a wider
        # fan-out is nearly free. Capped to bound the replication on
        # very wide clusters; salting identity holds for any n_salt.
        n_salt = (
            min(max(points.sparkSession.sparkContext.defaultParallelism, 8), 64)
            if (salt == "auto" or salt is True)
            else int(salt)
        )
        # deterministic count sketch: 1% sample (capped), top-k cells.
        # Salting a cell that isn't actually hot is harmless (identity
        # holds; build side grows by k*n_salt rows), so top-k needs no
        # total-count second action.
        hot_rows = (
            pts.select("cell")
            .sample(fraction=0.01, seed=42)
            .limit(2_000_000)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("cell"))
            .limit(salt_top_k)
            .collect()
        )
        hot = [r["cell"] for r in hot_rows if r["_n"] >= 2]
        if hot:
            joined = salt_join_skewed(
                pts, pcells, "cell", n_salt=n_salt, hot_keys=hot, salt_src=lon
            )
        else:
            joined = pts.join(pcells, "cell")
    else:
        joined = pts.join(pcells, "cell")
    # JVM-side bbox prefilter: kills most false candidates with four
    # comparisons before the ray cast touches the ring array
    joined = joined.where(
        (F.col(lon) >= F.col("min_lon")) & (F.col(lon) <= F.col("max_lon"))
        & (F.col(lat) >= F.col("min_lat")) & (F.col(lat) <= F.col("max_lat"))
    )
    joined = joined.drop("min_lon", "min_lat", "max_lon", "max_lat")

    hole_c = F.col(hole_arg) if hole_arg else None
    refined = joined.where(
        pip_refine_rect_col(F.col(lon), F.col(lat), F.col(ring), F.col(pr), hole_c)
    )
    if keep_geometry:
        return refined.drop("cell", pr)
    return refined.drop("cell", pr, ring, *([hole_arg] if hole_arg else []))


# ---------------------------------------------------------------------------
# kNN join (hex k-ring expansion + refine + top-k)
# ---------------------------------------------------------------------------

def _kring_topk(
    q: DataFrame, pc: DataFrame, k, res, kring, q_id, q_lon, q_lat, p_id, p_lon, p_lat
) -> DataFrame:
    """One k-ring candidate pass -> top-k per query (no guarantee).
    ``pc`` is the point side with its hex ``cell`` column pre-computed
    (it is invariant across escalation rounds)."""
    from pyspark.sql import Window

    qc = q.withColumn("qcell", hex_cell(F.col(q_lon), F.col(q_lat), res))
    qc = qc.withColumn("cell", F.explode(hex_kring(F.col("qcell"), kring))).drop("qcell")
    cand = qc.join(pc, "cell").drop("cell")
    cand = cand.withColumn(
        "dist_m", haversine_m(F.col(q_lon), F.col(q_lat), F.col(p_lon), F.col(p_lat))
    )
    w = Window.partitionBy(q_id).orderBy(F.col("dist_m").asc(), F.col(p_id).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int | str = "auto",
    kring: int = 2,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    p_id: str = "point_id",
    p_lon: str = "lon_c",
    p_lat: str = "lat_c",
    exact: bool = True,
    max_rounds: int = 3,
) -> DataFrame:
    """EXACT kNN join via hex k-ring expansion with escalation.

    Round 1 expands each query's hex cell by ``kring`` rings, equi-joins
    candidate points on cell id, refines with haversine, and keeps top-k
    (Window + row_number, ties broken by point id). A query is PROVEN
    done when it has k candidates whose k-th distance lies inside the
    ring's guaranteed-coverage radius:

        covered_deg = s * (1.5*kring - 2)        (hex lattice: cells at
            hex-distance h have center distance >= 1.5*s*h; both points
            sit within circumradius s of their centers)
        safe_m = covered_deg * 111320 * cos(|q_lat| + covered_deg)
            (meters-per-degree lower bound over the covered band)

    Unsatisfied queries — typically a tiny fraction in dense data —
    escalate: kring doubles each round (same equi-join shape, only the
    remaining queries re-run), and after ``max_rounds`` the stragglers
    fall back to the exact broadcast nested-loop. At scale the common
    case is one shuffle-free broadcast round over the hot path and a
    near-empty tail job.  With ``exact=False`` round 1's answer is
    returned as-is (the cheap approximate mode).
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from gfp_gdal_spark.kernels.cells import HEX_BASE_SIZE_DEG, _hex_size, hex_res_for_size

    n_q = None  # the query count, taken at most once
    if res == "auto":
        # pick the hex res so the round-1 k-ring disk holds ~2k points
        # in expectation (one cheap aggregate over the point side): too
        # fine a grid makes every ring round a miss and pushes every
        # query to the brute-force tail; too coarse floods the refine.
        import math

        st = points.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(p_lon).alias("x0"), F.max(p_lon).alias("x1"),
            F.min(p_lat).alias("y0"), F.max(p_lat).alias("y1"),
        ).first()
        if exact:
            # SMALL-QUERY-SET shortcut: when |queries| x |points| fits a
            # bounded candidate budget, the exact broadcast nested-loop
            # is strictly cheaper than ANY ring plan — the ring rounds
            # pay res sizing + point-side encode/persist + per-round
            # certification windows before (often) landing in the same
            # brute-force tail anyway (measured at sf1.0: 7.8s rounds ->
            # 4.4s direct for 25 queries x 1.5M points). The count is
            # one cheap action on the (small by premise) query side; at
            # data scale (10^9+ points x many queries) the budget never
            # fires and the ring machinery runs as before. Identical
            # rows either way: both paths are exact with the same
            # (dist, point_id) tie order.
            n_q = queries.count()
            if n_q * max(st.n or 0, 1) <= 200_000_000:
                return knn_join_bruteforce(
                    queries, points, k, q_id, q_lon, q_lat, p_id, p_lon, p_lat
                )
        area = max((st.x1 - st.x0) * (st.y1 - st.y0), 1e-9)
        density = max(st.n, 1) / area
        # size the grid so ROUND 1 CERTIFIES: a query is proven done
        # when its k-th neighbor lies inside the guaranteed-coverage
        # radius covered = s*(1.5*kring - 2); require E[points within
        # covered] >= 3k  =>  covered = sqrt(3k / (pi*density)).
        # (Sizing by candidate count instead — the naive formula —
        # picks a grid ~7x too fine and every query escalates through
        # all rounds to the brute-force tail; measured 25s -> 4s.)
        covered_needed = math.sqrt(3.0 * k / (math.pi * density))
        s = covered_needed / max(1.5 * kring - 2.0, 0.5)
        if exact and s > HEX_BASE_SIZE_DEG:
            # the point density is so low that even res-0 cells cannot
            # certify k neighbors in a k-ring: every ring round would
            # miss and every query would land in the brute-force tail
            # anyway — skip the rounds and run the tail directly. (At
            # data scale density is high, res lands 5-10, and this
            # branch never fires.)
            return knn_join_bruteforce(
                queries, points, k, q_id, q_lon, q_lat, p_id, p_lon, p_lat
            )
        res = hex_res_for_size(s)

    size = _hex_size(res)
    # narrow scans (one parquet split) would hex-encode + shuffle the
    # whole point side in ONE task every round — fan out first
    pc = _fan_out(points).withColumn("cell", hex_cell(F.col(p_lon), F.col(p_lat), res))
    if not exact:
        return _kring_topk(
            queries, pc, k, res, kring, q_id, q_lon, q_lat, p_id, p_lon, p_lat
        )
    # persist the encoded point side ONCE: it is invariant across
    # escalation rounds, so every round (and the certification count
    # riding on it) would otherwise re-scan + re-encode the full point
    # table — at 10^12 points that is max_rounds full passes instead of
    # one. It also keeps the big hex-encode expression out of the join
    # stage (measured 4.5s -> 0.5s per round on the dense bench fixture:
    # the fused stage's generated code is large enough to lose codegen/
    # JIT, and the persisted columnar scan sidesteps it).
    pc = pc.persist(StorageLevel.MEMORY_AND_DISK)

    # Each round MATERIALIZES its verdict (persist): without this the
    # round-N plan recursively contains rounds 1..N-1 (the `remaining`
    # anti-join lineage) and the final union re-executes every round.
    remaining = queries
    n_rem = queries.count() if n_q is None else n_q
    out_cols = None
    done_parts: list[DataFrame] = []
    persisted: list[DataFrame] = [pc]
    kr = kring
    for _ in range(max_rounds):
        topk = _kring_topk(
            remaining, pc, k, res, kr, q_id, q_lon, q_lat, p_id, p_lon, p_lat
        )
        covered_deg = max(size * (1.5 * kr - 2.0), 0.0)
        safe_m = (
            F.lit(covered_deg)
            * 111320.0
            * F.cos(F.radians(F.least(F.abs(F.col(q_lat)) + covered_deg, F.lit(89.9))))
        )
        # the planar lattice cannot see across the ±180 antimeridian:
        # a query must not certify beyond its spherical distance to the
        # antimeridian half-meridian (cross-track asin(cos(lat)*sin(g))
        # for lon gap g<=90, else the pole). Queries near ±180 whose
        # k-th neighbor might live across the wrap fall through to the
        # exact brute-force tail instead of certifying wrongly.
        gap = F.radians(F.lit(180.0) - F.abs(F.col(q_lon)))
        d_anti_deg = F.when(
            gap <= F.lit(1.5707963267948966),
            F.degrees(F.asin(F.cos(F.radians(F.col(q_lat))) * F.sin(gap))),
        ).otherwise(90.0 - F.abs(F.col(q_lat)))
        safe_m = F.least(safe_m, d_anti_deg * 111194.9)
        # polar band: when the covered disk reaches past a pole the
        # planar k-ring misses points on the far side — certification
        # is void there; force escalation/brute force (mirrors the
        # antimeridian fall-through above).
        safe_m = F.when(
            F.abs(F.col(q_lat)) + F.lit(covered_deg) >= F.lit(90.0), F.lit(0.0)
        ).otherwise(safe_m)
        wq = Window.partitionBy(q_id)
        per_q = topk.withColumn(
            "_ok",
            (F.count(F.lit(1)).over(wq) >= k) & (F.max("dist_m").over(wq) <= safe_m),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(per_q)
        if out_cols is None:
            out_cols = [c for c in per_q.columns if c != "_ok"]
        done_parts.append(per_q.where(F.col("_ok")).select(*out_cols))
        # one action per round: count certified queries off the cached
        # verdict. In the common everything-certified round the anti-
        # join of `remaining` is never planned (the round-1 fixed cost
        # is one window job + this count).
        n_sat = per_q.where(F.col("_ok")).select(q_id).distinct().count()
        if n_sat >= n_rem:
            remaining = None
            break
        sat_q = per_q.where(F.col("_ok")).select(q_id).distinct()
        remaining = remaining.join(sat_q, q_id, "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        persisted.append(remaining)
        n_rem = n_rem - n_sat
        kr *= 2
    if remaining is not None:
        bf = knn_join_bruteforce(
            remaining, points, k, q_id, q_lon, q_lat, p_id, p_lon, p_lat
        ).select(*out_cols)
        done_parts.append(bf)
    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part)
    # cut the lineage (eager localCheckpoint) then release every
    # per-round cache — a long-lived session must not accumulate round
    # state.
    out = out.localCheckpoint(eager=True)
    for p in persisted:
        p.unpersist()
    return out


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    l_lon: str = "q_lon",
    l_lat: str = "q_lat",
    r_lon: str = "lon_c",
    r_lat: str = "lat_c",
    res: int | str = "auto",
) -> DataFrame:
    """Distance join: every (left, right) pair within ``radius_m``
    meters (haversine), plus a ``dist_m`` column — the
    find-everything-nearby join (e.g. geotagged near-dup candidates).

    Shape: hex-bucket equi-join. Each LEFT row explodes over the hex
    cells covering its own latitude-aware radius bbox (dlat =
    radius/deg_per_m; dlon = dlat/cos(|lat|+dlat)) via the same
    superset range columns as the polygon cover — per-row adaptive, so
    equatorial rows explode a handful of cells while polar rows get
    the wider fan they actually need. Exact haversine refine. Pure JVM.

    Antimeridian: the lattice is planar lon/lat, so right-side points
    within the wrap margin get a ±360°-shifted copy (the refine is
    periodic-exact; a pair can't match through both images). Pole
    caps have no planar image at all — the join raises when the
    radius could bridge the cap above the data's max |lat|.
    """
    import math

    from gfp_gdal_spark.kernels.cells import _hex_size, hex_res_for_size

    st_r = right.agg(F.max(F.abs(F.col(r_lat))).alias("mx")).first()
    st_l = left.agg(F.max(F.abs(F.col(l_lat))).alias("mx")).first()
    max_lat = min(max(float(st_r.mx or 0.0), float(st_l.mx or 0.0)), 89.0)
    deg_per_m = 180.0 / (math.pi * 6_371_008.8)  # same sphere R as haversine_m
    dlat_deg = radius_m * deg_per_m * 1.0001
    if dlat_deg >= (90.0 - max_lat):
        raise ValueError(
            f"a {radius_m} m disk around |lat|={max_lat} reaches the pole "
            f"(covers every longitude) — the lon/lat lattice cover cannot "
            f"express that; reproject or filter the polar band separately"
        )
    # exact bounding box of a spherical circle: max |dlon| =
    # asin(sin(r) / cos(lat)) — stays < 90 deg under the pole guard
    sin_r = math.sin(math.radians(dlat_deg))

    def _dlon_deg(lat_abs_deg):
        return F.degrees(
            F.asin(
                F.least(F.lit(sin_r) / F.cos(F.radians(lat_abs_deg)), F.lit(1.0))
            )
        ) * 1.0001

    if res == "auto":
        # size cells to the MID-latitude lon extent; polar rows just
        # cover more cells of the same grid (per-row adaptive anyway)
        typ = dlat_deg / max(math.cos(math.radians(min(max_lat, 60.0))), 0.2)
        res = hex_res_for_size(max(typ, 1e-12))
    max_dlon = math.degrees(
        math.asin(min(sin_r / math.cos(math.radians(max_lat)), 1.0))
    ) * 1.0001
    wrap = float(max_dlon + 4.0 * _hex_size(res))
    hi = right.where(F.col(r_lon) > 180.0 - wrap).withColumn(r_lon, F.col(r_lon) - 360.0)
    lo = right.where(F.col(r_lon) < -180.0 + wrap).withColumn(r_lon, F.col(r_lon) + 360.0)
    r_all = right.unionByName(hi).unionByName(lo)
    rc = r_all.withColumn("cell", hex_cell(F.col(r_lon), F.col(r_lat), res))
    dlon = _dlon_deg(F.abs(F.col(l_lat)))
    q0, q1, r0, r1 = hex_cover_range_cols(
        F.col(l_lon) - dlon, F.col(l_lat) - dlat_deg,
        F.col(l_lon) + dlon, F.col(l_lat) + dlat_deg, res,
    )
    lc = left.withColumn("_q", F.explode(F.sequence(q0, q1)))
    lc = lc.withColumn("_r", F.explode(F.sequence(r0, r1)))
    lc = lc.withColumn("cell", hex_pack_cols(res, F.col("_q"), F.col("_r"))).drop("_q", "_r")
    cand = lc.join(rc, "cell").drop("cell")
    cand = cand.withColumn(
        "dist_m", haversine_m(F.col(l_lon), F.col(l_lat), F.col(r_lon), F.col(r_lat))
    )
    return cand.where(F.col("dist_m") <= radius_m)


def knn_join_bruteforce(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    q_id: str,
    q_lon: str,
    q_lat: str,
    p_id: str,
    p_lon: str,
    p_lat: str,
    dist: Column | None = None,
) -> DataFrame:
    """Exact kNN by broadcast nested-loop: correct for ANY geometry,
    right strategy when |queries| is small (the small-dim broadcast
    case); also the parity oracle for knn_join.

    Top-k is two-phase: a per-input-partition partial top-k first
    (window keyed on (query, spark_partition_id) — |queries| x
    n_partitions keys, so the big sort runs at cluster width), then
    the global top-k over the k x n_partitions survivors. One window
    over |queries| keys would sort ALL candidates in |queries| tasks —
    measured 5x slower at bench scale. Output is identical (global
    top-k is a subset of the union of partition top-ks; ties broken
    by point id in both phases)."""
    from pyspark.sql import Window

    # a narrow scan (one parquet split) would run the whole nested loop
    # + haversine in ONE task — fan out first (measured 10x at bench
    # scale; no-op when the scan already carries cluster-width splits)
    cand = _fan_out(points).crossJoin(F.broadcast(queries))
    d = dist if dist is not None else haversine_m(
        F.col(q_lon), F.col(q_lat), F.col(p_lon), F.col(p_lat)
    )
    cand = cand.withColumn("dist_m", d).withColumn("_pp", F.spark_partition_id())
    w1 = Window.partitionBy(q_id, "_pp").orderBy(F.col("dist_m").asc(), F.col(p_id).asc())
    local = (
        cand.withColumn("rank", F.row_number().over(w1))
        .where(F.col("rank") <= k)
        .drop("rank", "_pp")
    )
    w = Window.partitionBy(q_id).orderBy(F.col("dist_m").asc(), F.col(p_id).asc())
    return local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
