"""Map algebra — Tomlin's raster-analytics taxonomy on the gridded
table representation (``raster_to_points`` output / any (key, r, c,
val) pixel table):

- FOCAL: neighborhood statistics (``focal_stats``) and Horn terrain
  derivatives (``slope_hillshade``) — the 3x3 kernels GDAL ships as
  `gdaldem` over the rasters the reference's GDALReader scans
  (gdal_nodes.cpp:344-424 reads the band; these are the standard
  downstream analytics of that band).
- ZONAL: per-zone aggregation of pixel/point values over a vector
  layer (``zonal_stats``) — the raster<->vector bridge of the
  north_rule, composed on the certified ``pip_join``.

Execution shape (the part that matters at 10^12 pixels): every focal
op here is ONE explode + ONE hash aggregate — each pixel SCATTERS its
value to the (2r+1)^2 windows it participates in, and the groupBy's
map-side combine collapses the fan-out before the single shuffle
(identical shape to ``tile_rollup``; no self-join, no 8-way join, no
window function, no per-pixel Python). Zonal is the certified
bucketed pip_join plus one aggregate. Grids are keyed, so partition
count scales with images x pixels, never with one global raster.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "focal_stats",
    "slope_hillshade",
    "terrain_ruggedness",
    "zonal_stats",
    "zonal_mode",
    "color_relief",
    "band_index_stats",
    "idw_grid",
]


def _scatter(grid: DataFrame, key: str, row: str, col: str, val: str, radius: int) -> DataFrame:
    """Explode each pixel into its (2r+1)^2 scatter targets: the row
    (key, r+dr, c+dc, val, dr, dc) means "this pixel participates in
    the window centered at (r+dr, c+dc)". From the TARGET's viewpoint
    the source sits at gather offset (-dr, -dc) — weight lookups below
    use that sign flip."""
    offs = [
        (dr, dc)
        for dr in range(-radius, radius + 1)
        for dc in range(-radius, radius + 1)
    ]
    arr = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr, dc in offs
        ]
    )
    d = grid.select(key, row, col, val).withColumn("_o", F.explode(arr))
    return d.select(
        F.col(key),
        (F.col(row) + F.col("_o.dr")).alias(row),
        (F.col(col) + F.col("_o.dc")).alias(col),
        F.col(val),
        F.col("_o.dr").alias("_dr"),
        F.col("_o.dc").alias("_dc"),
    )


def focal_stats(
    grid: DataFrame,
    key: str = "image_id",
    row: str = "r",
    col: str = "c",
    val: str = "z",
    radius: int = 1,
    interior_only: bool = True,
) -> DataFrame:
    """Focal (moving-window) statistics over a gridded raster table:
    per pixel, the count/mean/min/max/sum of the (2*radius+1)^2 window
    centered on it — `gdaldem`/`r.neighbors`-class smoothing, noise
    scoring, and local-contrast features for image-quality filtering.

    Scatter form: one explode + one groupBy (map-side combine), see
    module docstring. A marker aggregate (did the CENTER pixel itself
    contribute?) distinguishes real cells from phantom border targets,
    so no join back to the grid is needed. ``interior_only=True``
    keeps only full windows (the clean-semantics default for
    rectangular grids without nodata); ``False`` keeps edge cells with
    their partial-window stats and the honest ``n_nbrs`` count.
    """
    n_full = (2 * radius + 1) ** 2
    d = _scatter(grid, key, row, col, val, radius)
    out = d.groupBy(key, row, col).agg(
        F.count(val).alias("n_nbrs"),
        F.avg(val).alias("focal_mean"),
        F.min(val).alias("focal_min"),
        F.max(val).alias("focal_max"),
        F.sum(val).alias("focal_sum"),
        F.max(
            F.when((F.col("_dr") == 0) & (F.col("_dc") == 0), 1).otherwise(0)
        ).alias("_is_cell"),
    )
    out = out.where(F.col("_is_cell") == 1).drop("_is_cell")
    if interior_only:
        out = out.where(F.col("n_nbrs") == n_full)
    return out


def slope_hillshade(
    grid: DataFrame,
    key: str = "image_id",
    row: str = "r",
    col: str = "c",
    val: str = "z",
    cellsize: float = 1.0,
    z_factor: float = 1.0,
    azimuth: float = 315.0,
    altitude: float = 45.0,
) -> DataFrame:
    """Horn (1981) terrain derivatives — the `gdaldem slope/aspect/
    hillshade` triple — over a gridded elevation table. Interior
    pixels only (full 3x3 window); convention (row-major, row index
    increasing SOUTHWARD, the raster norm):

    - dz/dx = (sum of east column, weights 1-2-1) - (west column),
      all over 8*cellsize -> weight oc*(2-|or|) at gather offset
      (or, oc)
    - dz/dy = (south row) - (north row), same shape -> or*(2-|oc|)
    - slope_rad  = atan(z_factor * hypot(dz/dx, dz/dy))
    - aspect_rad = atan2(dz/dy, -dz/dx), wrapped to [0, 2*pi)
      (0 = east, counterclockwise — the math convention `gdaldem`
      converts from; we emit the raw math angle, documented here)
    - hillshade  = 255 * (cos(zen)*cos(slope)
                   + sin(zen)*sin(slope)*cos(az_math - aspect)),
      clamped at 0, with zen = (90-altitude) deg and
      az_math = (360 - azimuth + 90) deg wrapped — the standard
      illumination formula.

    Same single-shuffle scatter plan as ``focal_stats``; the gradient
    sums are weighted aggregates, everything after the groupBy is
    closed-form JVM column math (no Python anywhere).
    """
    d = _scatter(grid, key, row, col, val, 1)
    # gather offset = (-_dr, -_dc); weights on the gather offset
    g_or = -F.col("_dr")
    g_oc = -F.col("_dc")
    wx = g_oc.cast("double") * (F.lit(2.0) - F.abs(g_or).cast("double"))
    wy = g_or.cast("double") * (F.lit(2.0) - F.abs(g_oc).cast("double"))
    agg = d.groupBy(key, row, col).agg(
        F.count(val).alias("_n"),
        F.sum(F.col(val) * wx).alias("_sx"),
        F.sum(F.col(val) * wy).alias("_sy"),
        F.max(
            F.when((F.col("_dr") == 0) & (F.col("_dc") == 0), 1).otherwise(0)
        ).alias("_is_cell"),
    )
    agg = agg.where((F.col("_is_cell") == 1) & (F.col("_n") == 9))
    gx = F.col("_sx") / F.lit(8.0 * cellsize)
    gy = F.col("_sy") / F.lit(8.0 * cellsize)
    slope = F.atan(F.lit(float(z_factor)) * F.sqrt(gx * gx + gy * gy))
    two_pi = 2.0 * math.pi
    aspect_raw = F.atan2(gy, -gx)
    aspect = F.when(aspect_raw < 0, aspect_raw + F.lit(two_pi)).otherwise(aspect_raw)
    zen = math.radians(90.0 - altitude)
    az_math = math.radians((360.0 - azimuth + 90.0) % 360.0)
    shade = F.lit(255.0) * (
        F.lit(math.cos(zen)) * F.cos(slope)
        + F.lit(math.sin(zen)) * F.sin(slope) * F.cos(F.lit(az_math) - aspect)
    )
    return agg.select(
        key,
        row,
        col,
        F.round(gx, 9).alias("dzdx"),
        F.round(gy, 9).alias("dzdy"),
        slope.alias("slope_rad"),
        aspect.alias("aspect_rad"),
        F.greatest(shade, F.lit(0.0)).alias("hillshade"),
    )


def terrain_ruggedness(
    grid: DataFrame,
    key: str = "image_id",
    row: str = "r",
    col: str = "c",
    val: str = "z",
    interior_only: bool = True,
) -> DataFrame:
    """The remaining `gdaldem` terrain-index triple — TRI, TPI and
    roughness — over a gridded elevation table (with
    ``slope_hillshade`` this completes the gdaldem analytic suite):

    - ``tri``       — Riley (1999) Terrain Ruggedness Index, gdaldem's
      default: sqrt(sum over the 8 neighbors of (z_n - z_c)^2).
      Decomposed as Sq - 2*z_c*S + k*z_c^2 with S = neighbor sum and
      Sq = neighbor square-sum, so it needs NO per-pair difference —
      plain sum / sum-of-squares aggregates (exact for integral z up
      to 2^53; the sqrt is one deterministic IEEE op on an exact
      integer).
    - ``tpi``       — Topographic Position Index: z_c - mean(8
      neighbors); the /8 of a full window is a power-of-two division,
      so interior TPI is exact too.
    - ``roughness`` — max - min of the full 3x3 window INCLUDING the
      center (the gdaldem convention), exact.

    Same single-shuffle scatter plan as ``focal_stats`` (one explode +
    ONE map-side-combined hash aggregate; the center's own value rides
    the self row, so no join back to the grid). ``interior_only=False``
    keeps edge cells with their honest partial-window indices and
    ``n_nbrs`` count."""
    d = _scatter(grid, key, row, col, val, 1)
    is_self = (F.col("_dr") == 0) & (F.col("_dc") == 0)
    agg = (
        d.groupBy(key, row, col)
        .agg(
            F.count(val).alias("_n"),
            F.sum(val).alias("_s"),
            F.sum(F.col(val) * F.col(val)).alias("_ss"),
            F.min(val).alias("_mn"),
            F.max(val).alias("_mx"),
            F.max(F.when(is_self, F.col(val))).alias("_z"),
            F.max(F.when(is_self, 1).otherwise(0)).alias("_is_cell"),
        )
        .where(F.col("_is_cell") == 1)
    )
    if interior_only:
        agg = agg.where(F.col("_n") == 9)
    z = F.col("_z")
    k = (F.col("_n") - 1).cast("double")
    ns = F.col("_s") - z
    nq = F.col("_ss") - z * z
    return agg.select(
        key,
        row,
        col,
        (F.col("_n") - 1).alias("n_nbrs"),
        F.sqrt(nq - F.lit(2.0) * z * ns + k * z * z).alias("tri"),
        (z - ns / k).alias("tpi"),
        (F.col("_mx") - F.col("_mn")).alias("roughness"),
    )


def zonal_stats(
    points: DataFrame,
    zones: DataFrame,
    zone_id: str,
    val: str = "z",
    lon: str = "lon_c",
    lat: str = "lat_c",
    **pip_kwargs,
) -> DataFrame:
    """Zonal statistics: aggregate a point/pixel value per vector
    zone — per-parcel mean elevation, per-admin-cell image coverage,
    per-AOI pixel histograms. The raster->vector leg of the
    north_rule: feed it ``raster_to_points`` output (or any point
    table) and a polygon layer shaped like ``pip_join``'s ``polys``
    side (ring/holes columns).

    Plan: the certified cell-bucketed ``pip_join`` (broadcast or
    shuffle, salting knob passes through via ``pip_kwargs``) + ONE
    hash aggregate on the zone key. Zones that match no point are
    absent (inner-join semantics; left-join the zone table back if
    you need empty zones)."""
    from gfp_gdal_spark.operators.joins import pip_join

    j = pip_join(points, zones, lon=lon, lat=lat, **pip_kwargs)
    return j.groupBy(zone_id).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg(val).alias("zonal_mean"),
        F.min(val).alias("zonal_min"),
        F.max(val).alias("zonal_max"),
        F.sum(val).alias("zonal_sum"),
    )


def color_relief(
    grid: DataFrame,
    ramp: list[tuple[int, int, int, int]],
    key: str = "image_id",
    row: str = "r",
    col: str = "c",
    val: str = "z",
) -> DataFrame:
    """`gdaldem color-relief` — elevation -> RGB via a piecewise-linear
    color ramp (with hillshade/slope/aspect + TRI/TPI/roughness this
    closes out every gdaldem mode). ``ramp`` is the color file:
    ascending [(elev, r, g, b)] integer breakpoints; values below the
    first / above the last breakpoint clamp to the end colors (GDAL's
    default behavior).

    Exactness contract: for integral elevations each channel is
    round-half-up(c0 + (c1-c0)*(v-x0)/(x1-x0)) computed as
    floor((2*c0*den + 2*dc*(v-x0) + den) / (2*den)) — one exact
    rational whose double quotient is >= 1/(2*den) away from any
    half-integer crossing, so the floor is bit-reproducible across
    engines (the equalize_images trick).

    Execution: a pure JVM Column CASE ladder, shuffle-free, zero
    Python — at 10^12 pixels this is a map-only stage fused into
    whatever scan precedes it. Compose with rasterize/encode legs to
    materialize RGB frames."""
    if len(ramp) < 2:
        raise ValueError("ramp needs >= 2 breakpoints")
    if any(a[0] >= b[0] for a, b in zip(ramp[:-1], ramp[1:])):
        raise ValueError("ramp elevations must be strictly ascending")
    v = F.col(val)
    names = ("relief_r", "relief_g", "relief_b")
    exprs = []
    for ci in range(3):
        # NULL z (the engine's nodata convention) must yield NULL
        # color, not fall through every not-true WHEN into the
        # top-of-ramp otherwise() clamp
        e = F.when(v.isNull(), F.lit(None))
        e = e.when(v <= F.lit(ramp[0][0]), F.lit(ramp[0][ci + 1]))
        for (x0, *c0), (x1, *c1) in zip(ramp[:-1], ramp[1:]):
            den = x1 - x0
            dc = c1[ci] - c0[ci]
            e = e.when(
                v <= F.lit(x1),
                F.floor(
                    (
                        F.lit(float(2 * c0[ci] * den))
                        + F.lit(float(2 * dc)) * (v - F.lit(float(x0)))
                        + F.lit(float(den))
                    )
                    / F.lit(float(2 * den))
                ),
            )
        e = e.otherwise(F.lit(ramp[-1][ci + 1]))
        exprs.append(e.cast("int").alias(names[ci]))
    return grid.select(key, row, col, val, *exprs)


def zonal_mode(
    points: DataFrame,
    zones: DataFrame,
    zone_id: str,
    val: str = "z",
    lon: str = "lon_c",
    lat: str = "lat_c",
    **pip_kwargs,
) -> DataFrame:
    """Zonal MAJORITY — the mode/majority zonal statistic (`gdaldem`-
    era zonal "majority"/label-transfer: dominant land-cover class per
    parcel, majority label per AOI). Complements ``zonal_stats``'
    moment aggregates for CATEGORICAL values, where a mean is
    meaningless.

    Deterministic tie rule: highest count wins, ties -> smallest
    value (engine-replayable; no hash or arrival-order dependence).
    Emits (zone_id, mode value, its count, n_points, n_distinct).

    Plan: the certified cell-bucketed ``pip_join``, then ONE hash
    aggregate on the COMPOSITE (zone, value) key — the heavy reduction
    happens at (zone, value) granularity where map-side combine
    collapses per-partition duplicates, so a billion-point zone with
    k classes ships k rows per partition, never raw points — followed
    by one tiny (zone)-keyed argmax aggregate over struct ordering
    ((count, -value) lexicographic max via (count, negated value)).
    For integral-valued categories the negation is exact; the final
    per-zone state is O(1)."""
    from gfp_gdal_spark.operators.joins import pip_join

    j = pip_join(points, zones, lon=lon, lat=lat, **pip_kwargs)
    per_val = j.groupBy(zone_id, val).agg(F.count(F.lit(1)).alias("_cnt"))
    pick = F.struct(
        F.col("_cnt").alias("_c"), (-F.col(val)).alias("_nv")
    )
    return (
        per_val.groupBy(zone_id)
        .agg(
            F.max(pick).alias("_m"),
            F.sum("_cnt").alias("n_points"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            zone_id,
            (-F.col("_m._nv")).alias("mode_val"),
            F.col("_m._c").alias("mode_count"),
            "n_points",
            "n_distinct",
        )
    )


def band_index_stats(
    images: DataFrame,
    band_a: int = 1,
    band_b: int = 0,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    id_col: str = "image_id",
) -> DataFrame:
    """LOCAL map algebra — the per-pixel normalized-difference band
    index family (NDVI/NDWI/NDSI: (a - b) / (a + b), index 0 where
    a + b == 0), reduced to per-image statistics: mean, min, max, and
    the fraction of positive-index pixels (the "vegetation fraction"
    readout). Completes Tomlin's triad beside ``focal_stats`` (FOCAL)
    and ``zonal_stats`` (ZONAL).

    Determinism contract: the per-pixel index is quantized to integer
    MICRO-units via floor(idx * 1e6) before any reduction, so every
    aggregate is a sum of integers — order-independent across Arrow
    batch boundaries, partial-agg orders, and engines (same contract
    as track_stats' millimeter legs). floor, not round: IEEE
    round-half-even (numpy) and round-half-away (SQL) disagree on
    exact .5 micro-values, which REAL channel ratios do hit
    (e.g. (129-127)/(129+127) * 1e6 = 7812.5); floor is identical
    everywhere.

    Whole-batch execution: rows group by (fmt, w, h) inside each
    Arrow batch, one ``decode_group`` + one vectorized index/floor
    pass per group — no per-image Python."""
    import pyarrow as pa

    from gfp_gdal_spark.functions.worker_tuning import tune_worker
    from gfp_gdal_spark.kernels import codec as _codec

    schema = (
        f"{id_col} string, n_px long, idx_mean double, idx_min double, "
        f"idx_max double, frac_pos double"
    )

    def op(batches):
        tune_worker()
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            npx = np.zeros(n, dtype=np.int64)
            mean = np.zeros(n)
            mn = np.zeros(n)
            mx = np.zeros(n)
            fp = np.zeros(n)
            for f, w, h, idxs, pix in _codec.image_groups(b):
                if pix.ndim != 4:
                    raise ValueError(
                        f"band_index_stats needs multi-channel images; got {f}"
                    )
                a = pix[..., band_a].astype(np.float64)
                c = pix[..., band_b].astype(np.float64)
                s = a + c
                idx = np.where(s == 0, 0.0, (a - c) / np.where(s == 0, 1.0, s))
                u = np.floor(idx * 1e6)  # integer micro-units
                m = len(idxs)
                uf = u.reshape(m, -1)
                npx[idxs] = uf.shape[1]
                mean[idxs] = uf.mean(axis=1) / 1e6
                mn[idxs] = uf.min(axis=1) / 1e6
                mx[idxs] = uf.max(axis=1) / 1e6
                fp[idxs] = (uf > 0).mean(axis=1)
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), pa.array(npx), pa.array(mean), pa.array(mn),
                 pa.array(mx), pa.array(fp)],
                names=[id_col, "n_px", "idx_mean", "idx_min", "idx_max", "frac_pos"],
            )

    src = images.select(
        id_col, F.col(bytes_col).alias("bytes"), F.col(fmt_col).alias("fmt"), "w", "h"
    )
    return src.mapInArrow(op, schema)


def idw_grid(
    points: DataFrame,
    bbox: tuple[float, float, float, float],
    w: int,
    h: int,
    value_col: str,
    x_col: str = "lon",
    y_col: str = "lat",
    radius_px: int = 2,
    frame_col: str | None = None,
    exact: bool = True,
) -> DataFrame:
    """Inverse-distance-weighted gridding (the `gdal_grid
    -a invdist:power=2:radius=R` analog): scatter every point to the
    grid nodes within ``radius_px`` pixels of its cell and aggregate
    ``sum(v/d2)/sum(1/d2)`` per node; a point landing ON a node
    (d2 = 0) short-circuits to the exact-hit mean, GDAL's rule.
    Points snap to their pixel center first, so d2 is the INTEGER
    dr^2+dc^2 — the documented scale variant of GDAL's exact-offset
    IDW (at 10^12 points the sub-pixel offset is noise; snapping is
    what makes the result deterministic, see below).

    Determinism contract: weights are the exact integers
    L // d2 (L = lcm of the achievable d2 values), so every aggregate
    is an int64 sum — order-independent across partial aggregations
    and bit-identical in any engine; the only division is one
    long/long -> double per emitted node. ``value_col`` must be
    integral (micro-quantize floats upstream, the band_index rule).

    Output: one row per grid node with >= 1 contributor —
    (``frame_col``?, px_r, px_c, idw, n_pts); px_r counts from the
    TOP row (GDAL geotransform convention).

    Scale: ONE explode (fan-out = the circular-mask offsets,
    |{d2 <= R^2}| ~ pi R^2) + ONE map-side-combined hash aggregate —
    the focal_stats / tile_rollup shape; no self-join, no window, no
    Python. Hot cells spread over (frame, r, c) keys.
    """
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    if not (xmin < xmax and ymin < ymax) or w <= 0 or h <= 0:
        raise ValueError(f"degenerate grid: bbox={bbox!r} w={w} h={h}")
    R = int(radius_px)
    if R < 0:
        raise ValueError(f"radius_px must be >= 0: {radius_px!r}")
    dx = (xmax - xmin) / w
    dy = (ymax - ymin) / h

    offs = [
        (dr, dc, dr * dr + dc * dc)
        for dr in range(-R, R + 1)
        for dc in range(-R, R + 1)
        if dr * dr + dc * dc <= R * R
    ]
    d2s = sorted({d2 for _, _, d2 in offs if d2 > 0})
    L = math.lcm(*d2s) if d2s else 1
    if exact and L.bit_length() > 40:
        # lcm(d2) grows super-exponentially with the radius (26 bits
        # at R=6, 42 at R=7, 55 at R=8): past ~40 bits the int64 terms
        # wq*v and their sums overflow SILENTLY (ANSI off). Fail loud;
        # exact=False switches to double 1/d2 weights — the scale path
        # for wide radii, deterministic up to fp summation order.
        raise ValueError(
            f"radius_px={R} needs {L.bit_length()}-bit exact weights; "
            f"the int64 contract holds to radius_px <= 6 — pass "
            f"exact=False for the double-weight path"
        )

    vt = dict(points.dtypes).get(value_col)
    if vt not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{value_col} must be integral for the exact-weight contract, got {vt}"
        )

    keys = ([frame_col] if frame_col else [])
    pc = F.floor((F.col(x_col) - F.lit(xmin)) / F.lit(dx)).cast("long")
    pr = F.floor((F.lit(ymax) - F.col(y_col)) / F.lit(dy)).cast("long")
    base = points.select(
        *keys,
        pr.alias("_pr"),
        pc.alias("_pc"),
        F.col(value_col).cast("long").alias("_v"),
    ).where(
        (F.col("_pr") >= 0) & (F.col("_pr") < h)
        & (F.col("_pc") >= 0) & (F.col("_pc") < w)
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(dr).alias("dr"),
                F.lit(dc).alias("dc"),
                F.lit(d2).alias("d2"),
                (
                    F.lit(L // d2 if d2 > 0 else 0)
                    if exact
                    else F.lit(1.0 / d2 if d2 > 0 else 0.0)
                ).alias("wq"),
            )
            for dr, dc, d2 in offs
        ]
    )
    sc = base.withColumn("_o", F.explode(arr)).select(
        *keys,
        (F.col("_pr") + F.col("_o.dr")).alias("px_r"),
        (F.col("_pc") + F.col("_o.dc")).alias("px_c"),
        F.col("_o.d2").alias("_d2"),
        F.col("_o.wq").alias("_wq"),
        F.col("_v"),
    ).where(
        (F.col("px_r") >= 0) & (F.col("px_r") < h)
        & (F.col("px_c") >= 0) & (F.col("px_c") < w)
    )
    hit = F.col("_d2") == 0
    agg = sc.groupBy(*keys, "px_r", "px_c").agg(
        F.count(F.when(hit, 1)).alias("_n0"),
        F.sum(F.when(hit, F.col("_v"))).alias("_s0"),
        F.sum(F.when(~hit, F.col("_wq") * F.col("_v"))).alias("_sv"),
        F.sum(F.when(~hit, F.col("_wq"))).alias("_sw"),
        F.count(F.lit(1)).alias("n_pts"),
    )
    return agg.select(
        *keys,
        "px_r",
        "px_c",
        F.when(F.col("_n0") > 0, F.col("_s0") / F.col("_n0"))
        .otherwise(F.col("_sv") / F.col("_sw"))
        .alias("idw"),
        "n_pts",
    )
