"""Per-feature geometry transform operators — the GEOS-node analogs.

DataFrame-level wrappers over the vectorized geometry UDFs, with the
reference's parameter semantics preserved:

- simplify_polygons <-> PolygonSimplifyGEOS (geos_nodes.cpp:133-185):
  tolerance, output_failures (keep original vs drop), orient after.
- buffer_polygons   <-> PolygonBufferGEOS (geos_nodes.cpp:187-213):
  offset may be negative; invalid result passes original through.
- orient_polygons   <-> orientation canon (geos_nodes.cpp:31-67).
- enrich_geometry   <-> OGRLoader derived columns `area`, `is_valid`,
  `wkt` (ogr_reader_node.cpp:245,265,275).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gfp_gdal_spark.functions.geometry import (
    buffer_ring,
    orient_ring,
    ring_area,
    ring_is_valid,
    ring_wkt,
    simplify_ring,
)

__all__ = [
    "clip_polygons",
    "segmentize_polygons",
    "simplify_polygons",
    "buffer_polygons",
    "orient_polygons",
    "enrich_geometry",
    "set_base_elevation",
    "crs_transform",
]


def simplify_polygons(
    df: DataFrame,
    tolerance: float,
    ring: str = "ring",
    output_failures: bool = True,
) -> DataFrame:
    """Douglas-Peucker simplify each polygon's exterior ring.

    output_failures=True keeps failed rows with the ORIGINAL ring and
    simplify_ok=False (the pass-through arm of geos_nodes.cpp:146,
    155,164,176); False drops them.
    """
    out = df.withColumn("_s", simplify_ring(F.col(ring), tolerance))
    out = out.withColumn(ring, F.col("_s.ring")).withColumn(
        "simplify_ok", F.col("_s.ok")
    ).drop("_s")
    if not output_failures:
        out = out.where(F.col("simplify_ok")).drop("simplify_ok")
    return out


def buffer_polygons(
    df: DataFrame,
    offset: float,
    ring: str = "ring",
    method: str = "round",
    quad_segs: int = 8,
) -> DataFrame:
    """Buffer each polygon by ``offset`` (negative shrinks). Invalid
    results pass the original through with buffer_ok=False
    (geos_nodes.cpp:202-207).

    method="round" (default): Minkowski round-join buffer for convex
    rings — the GEOSBuffer parameter semantics incl. quadrantSegments
    and inward (negative) offsets. method="bbox": axis-aligned bbox
    expand, exact for footprint quads."""
    out = df.withColumn("_b", buffer_ring(F.col(ring), offset, method=method, quad_segs=quad_segs))
    return (
        out.withColumn(ring, F.col("_b.ring"))
        .withColumn("buffer_ok", F.col("_b.ok"))
        .drop("_b")
    )


def set_base_elevation(df: DataFrame, z, ring: str = "ring") -> DataFrame:
    """Override/set every ring vertex's z (the reference's
    base_elevation knob, ogr_reader_node.cpp:93-97). ``z`` may be a
    float or a Column. Pure JVM."""
    from gfp_gdal_spark.functions.geometry import ring_set_z

    zc = z if isinstance(z, Column) else F.lit(float(z))
    return df.withColumn(ring, ring_set_z(F.col(ring), zc))


def crs_transform(
    df: DataFrame,
    src: str,
    dst: str,
    x: str | None = "lon_c",
    y: str | None = "lat_c",
    ring: str | None = None,
) -> DataFrame:
    """Transform coordinate columns and/or a ring column between CRSs —
    the pipeline-level SRS transform of the reference
    (ogr_reader_node.cpp:220-224 on read; ogr_writer_node.cpp:179
    reversed on write). lonlat<->WebMercator legs are pure JVM."""
    from gfp_gdal_spark.functions.crs import transform_cols, transform_ring_col

    if x and y and x in df.columns and y in df.columns:
        nx, ny = transform_cols(F.col(x), F.col(y), src, dst)
        df = df.withColumns({x: nx, y: ny})
    if ring and ring in df.columns:
        df = df.withColumn(ring, transform_ring_col(F.col(ring), src, dst))
    return df


def orient_polygons(df: DataFrame, ring: str = "ring", ccw: bool = True) -> DataFrame:
    return df.withColumn(ring, orient_ring(F.col(ring), ccw=ccw))


def enrich_geometry(df: DataFrame, ring: str = "ring", holes: str | None = None) -> DataFrame:
    """Add the OGRLoader-derived columns: area, is_valid, wkt."""
    hole_col = F.col(holes) if holes and holes in df.columns else None
    df = df.withColumn("area", ring_area(F.col(ring)))
    df = df.withColumn("is_valid", ring_is_valid(F.col(ring)))
    if hole_col is not None:
        df = df.withColumn("wkt", ring_wkt(F.col(ring), hole_col))
    else:
        df = df.withColumn("wkt", ring_wkt(F.col(ring)))
    return df


def convex_hull_per_key(
    df: DataFrame,
    key: str,
    lon: str = "lon_c",
    lat: str = "lat_c",
    shards: int | None = None,
) -> DataFrame:
    """Per-key convex hull of a point set (scene footprint from its
    pixel/fix cloud, coverage outline per region) -> one row per key
    with the canonical hull ring (CCW, unclosed, lexicographic-min
    start), vertex count, and shoelace area — the GEOS convex-hull
    node's per-group analog, built on functions.geometry.points_hull.

    Plain path: groupBy(key) + collect_list + the hull kernel — one
    shuffle carrying the raw points of each key.

    Hot-key execution (``shards=k``): hull(A ∪ B) =
    hull(hull(A) ∪ hull(B)), so per-(key, point-hash-shard) PARTIAL
    hulls are computed first and the final hull runs over the
    concatenated partial-hull vertices — the per-key shuffle payload
    drops from all points to <= k * |partial hull| vertices
    (EXPECTED O(log n) each for points in general position), and the
    widest collect is divided by k. Bit-identical to the plain path
    (parity-tested), because the canonicalization lives entirely in
    the final chain pass.
    """
    from gfp_gdal_spark.functions.geometry import points_hull

    pt = F.array(F.col(lon).cast("double"), F.col(lat).cast("double"))
    if shards is None:
        pts = df.groupBy(key).agg(F.collect_list(pt).alias("_pts"))
    else:
        if shards < 1:
            raise ValueError(f"shards must be >= 1, got {shards}")
        sh = F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(shards))
        partial = (
            df.withColumn("_sh", sh)
            .groupBy(key, "_sh")
            .agg(F.collect_list(pt).alias("_pp"))
            .withColumn("_h", points_hull(F.col("_pp")))
        )
        pts = (
            partial.select(key, F.col("_h.ring").alias("_r"))
            .groupBy(key)
            .agg(F.flatten(F.collect_list("_r")).alias("_pts"))
        )
    out = pts.withColumn("_h", points_hull(F.col("_pts")))
    return out.select(
        key,
        F.col("_h.ring").alias("hull_ring"),
        F.col("_h.n_hull").alias("n_hull"),
        F.col("_h.hull_area").alias("hull_area"),
    )


def segmentize_polygons(
    df: DataFrame,
    max_len: float,
    ring: str = "ring",
    closed: bool = True,
) -> DataFrame:
    """Densify each feature's ring so no segment exceeds ``max_len``
    — the `ogr2ogr -segmentize <max_len>` analog (the reference's OGR
    ingest applies it before CRS warps so long edges stay faithful to
    the source geometry under nonlinear reprojection; pair with
    `crs_transform` here the same way). Original vertices are
    preserved bit-exactly; `simplify_polygons` is the inverse
    direction. ``closed=False`` treats rows as open polylines.

    Scale: one vectorized repeat/arange Arrow UDF — shuffle-free,
    batch-sized state; output size is input_len/max_len-bounded, the
    same fan-out the caller asked for.
    """
    from gfp_gdal_spark.functions.geometry import segmentize_ring

    return df.withColumn(
        ring, segmentize_ring(F.col(ring), float(max_len), closed=closed)
    )


def clip_polygons(
    df: DataFrame,
    bbox: tuple[float, float, float, float],
    ring: str = "ring",
    drop_empty: bool = True,
) -> DataFrame:
    """Clip each polygon's exterior ring to the axis-aligned bbox —
    the `ogr2ogr -clipsrc xmin ymin xmax ymax` analog (the reference
    pipes OGR layers through exactly such extent cuts before loading).
    Adds ``clip_area`` (absolute area of the clipped ring; exact for
    axis-aligned inputs by the kernel's exact-bound contract).
    ``drop_empty=True`` drops features that fall entirely outside
    (ogr2ogr semantics); ``False`` keeps them with an empty ring.

    Scale: one vectorized Sutherland-Hodgman Arrow UDF — narrow,
    shuffle-free, batch-sized state.
    """
    from gfp_gdal_spark.functions.geometry import clip_ring_bbox

    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    if not (xmin < xmax and ymin < ymax):
        raise ValueError(f"degenerate clip bbox: {bbox!r}")
    out = df.withColumn("_c", clip_ring_bbox(F.col(ring), xmin, ymin, xmax, ymax))
    out = (
        out.withColumn(ring, F.col("_c.ring"))
        .withColumn("clip_area", F.col("_c.area"))
        .drop("_c")
    )
    if drop_empty:
        out = out.where(F.size(F.col(ring)) >= 3)
    return out
