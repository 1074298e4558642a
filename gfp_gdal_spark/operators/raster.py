"""Raster operators — the GDALReader/GDALWriter analogs.

Reference semantics (gdal_nodes.cpp):
- GDALReader (:344-424): open raster, read band N as float32, report
  min/max stats (:385-389), and emit a gridded POINTCLOUD: one point
  per pixel at (x, y) from the geotransform with the pixel value as z
  (:409-417).
- GDALWriter (:274-342): write N single-band float32 images as one
  N-band raster; filename optionally from a string attribute
  (:289-293); geotransform from image metadata; nodata harmonized
  (:327-329).

Engine shape: an image row (input_hint schema) + footprint IS the
georeferenced raster; the geotransform is derived from the footprint
bbox and (w, h). Pixel explosion is a mapInArrow fan-out (the
multi-row flatten pattern); tile-keyed writes are partitionBy.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gfp_gdal_spark.functions.worker_tuning import tune_worker
from gfp_gdal_spark.kernels import codec as _codec
from gfp_gdal_spark.kernels.geom import arrow_list_level

__all__ = [
    "raster_stats",
    "raster_to_points",
    "stack_bands",
    "write_tiles",
    "flatten_multipolygon",
    "downsample_tiles",
    "tile_pyramid_images",
    "mosaic_composite",
    "rasterize_zones",
    "reproject_webmercator",
    "sample_raster",
]


def stack_bands(
    images: DataFrame,
    band_cols: list[str],
    fmt: str = "ppm",
    nodata: float | None = None,
    nodata_fill: float = 0.0,
    out_col: str = "bytes",
) -> DataFrame:
    """GDALWriter multiband analog (gdal_nodes.cpp:274-342): N aligned
    single-band pixel buffers per row -> ONE encoded N-band image.

    ``band_cols`` name array<double> columns of length w*h (row-major),
    all same shape — the reference's \"N single-band float32 images as
    one N-band raster\". ``nodata`` samples are replaced with the
    harmonized ``nodata_fill`` in every band (the std::replace of
    gdal_nodes.cpp:327-329). Values are clipped to 0..255 uint8 for
    the sandbox codecs (a real GTiff sink would keep float32 — format
    boundary, not engine semantics). One mapInArrow pass: rows group by
    (w, h) (``codec.shape_groups``), each group's bands are gathered
    off the list value buffers by offset and encoded with one
    ``encode_group``. A NULL band or one whose length is not w*h
    raises, naming the column.
    """
    if fmt == "ppm" and len(band_cols) != 3:
        raise ValueError("ppm encodes exactly 3 bands; use pgm for 1")
    if fmt == "pgm" and len(band_cols) != 1:
        raise ValueError("pgm encodes exactly 1 band")

    kept = [f for f in images.schema.fields if f.name not in (out_col, "fmt")]
    keep = [f.name for f in kept]
    schema = T.StructType(kept + [T.StructField(out_col, T.BinaryType()), T.StructField("fmt", T.StringType())])

    def op(batches):
        tune_worker()
        for b in batches:
            bands = []
            for c in band_cols:
                if b.column(c).null_count:
                    raise ValueError(f"NULL band {c!r} in batch")
                off, vals, _ = arrow_list_level(b.column(c))
                bands.append((c, off, vals.to_numpy(zero_copy_only=False)))
            parts = []
            for (w, h), rows in _codec.shape_groups(b, ("w", "h")):
                span = np.arange(w * h)
                stack = np.empty((len(rows), w * h, len(bands)))
                for k, (c, off, vals) in enumerate(bands):
                    if (np.diff(off)[rows] != w * h).any():
                        raise ValueError(f"band {c!r} length is not w*h = {w * h}")
                    stack[:, :, k] = vals[off[rows][:, None] + span]
                if nodata is not None:
                    stack[stack == nodata] = nodata_fill
                pix = np.clip(stack, 0, 255).astype(np.uint8).reshape(len(rows), h, w, -1)
                parts.append((rows, _codec.encode_group(pix[..., 0] if len(bands) == 1 else pix, fmt)))
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in keep]
                + [_codec.blobs_by_row(parts), pa.array([fmt] * b.num_rows, pa.string())],
                keep + [out_col, "fmt"],
            )

    return images.mapInArrow(op, schema)


def _stats_batch(b: pa.RecordBatch, band: int) -> pa.RecordBatch:
    """raster_stats over one batch, in row order: min/max/mean of
    ``band`` once per uniform group tensor."""
    n = b.num_rows
    mn, mx, me = np.zeros(n), np.zeros(n), np.zeros(n)
    for _f, _w, _h, rows, pix in _codec.image_groups(b):
        ch = pix[..., band] if pix.ndim == 4 else pix
        mn[rows], mx[rows], me[rows] = ch.min(axis=(1, 2)), ch.max(axis=(1, 2)), ch.mean(axis=(1, 2))
    return pa.RecordBatch.from_arrays(
        [b.column("image_id"), pa.array(np.full(n, band, np.int32)),
         pa.array(mn), pa.array(mx), pa.array(me)],
        ["image_id", "band", "px_min", "px_max", "px_mean"],
    )


def raster_stats(images: DataFrame, band: int = 0) -> DataFrame:
    """Per-image band min/max/mean — the GDALReader stats report
    (gdal_nodes.cpp:385-389) as a DataFrame instead of stdout. A gray
    image reports its one channel for every ``band``. Image dims come
    from the ``w``/``h`` columns; a blob whose header disagrees raises
    (``codec.image_keys``)."""
    schema = "image_id string, band int, px_min double, px_max double, px_mean double"

    def op(batches):
        tune_worker()
        for b in batches:
            yield _stats_batch(b, band)

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInArrow(op, schema)


def _points_batch(b: pa.RecordBatch, band: int, thin_nth: int):
    """raster_to_points over one batch: the pixel grid of each uniform
    group tensor with the footprint geotransform applied to the whole
    group at once. Rows leave grouped, in group order."""
    lon_c, lat_c, dlon, dlat = (
        b.column(c).to_numpy(zero_copy_only=False) for c in ("lon_c", "lat_c", "dlon", "dlat")
    )
    for _f, w, h, rows, pix in _codec.image_groups(b):
        m = len(rows)
        ch = (pix[..., band] if pix.ndim == 4 else pix).astype(np.float64)
        # pixel (r, c) center -> lon/lat inside the footprint bbox
        # (north-up, like a GDAL geotransform)
        xs = (lon_c[rows] - dlon[rows])[:, None] + (np.arange(w) + 0.5) * (2 * dlon[rows] / w)[:, None]
        ys = (lat_c[rows] + dlat[rows])[:, None] - (np.arange(h) + 0.5) * (2 * dlat[rows] / h)[:, None]
        keep = np.arange(0, h * w, thin_nth)
        x = np.broadcast_to(xs[:, None, :], (m, h, w)).reshape(m, -1)[:, keep]
        y = np.broadcast_to(ys[:, :, None], (m, h, w)).reshape(m, -1)[:, keep]
        yield pa.RecordBatch.from_arrays(
            [b.column("image_id").take(pa.array(np.repeat(rows, len(keep)))),
             pa.array(x.ravel()), pa.array(y.ravel()), pa.array(ch.reshape(m, -1)[:, keep].ravel())],
            ["image_id", "x", "y", "z"],
        )


def raster_to_points(
    images: DataFrame,
    band: int = 0,
    thin_nth: int = 1,
) -> DataFrame:
    """Image -> gridded pointcloud: one row per (sampled) pixel with
    georeferenced (x, y) from the footprint-derived geotransform and
    z = pixel value (GDALReader pointcloud, gdal_nodes.cpp:409-417).

    ``thin_nth`` keeps every nth pixel (the CSVPointLoader thinning
    knob applied at the raster source — pushdown-friendly, the fan-out
    never materializes skipped pixels).

    Requires footprint columns (lon_c/lat_c/dlon/dlat) — apply
    functions.spatial.with_footprint first. The pixel grid is the
    ``w``/``h`` columns'; a blob whose header disagrees raises
    (``codec.image_keys``). Fan-out is h*w/thin_nth
    rows per image: at scale, partition the input so
    rows_out-per-task stays bounded.
    """
    schema = "image_id string, x double, y double, z double"

    def op(batches):
        tune_worker()
        for b in batches:
            yield from _points_batch(b, band, thin_nth)

    cols = ["image_id", "bytes", "fmt", "w", "h", "lon_c", "lat_c", "dlon", "dlat"]
    return images.select(*cols).mapInArrow(op, schema)


def write_tiles(
    df: DataFrame,
    path: str,
    z: int = 12,
    lon: str = "lon_c",
    lat: str = "lat_c",
    mode: str = "overwrite",
) -> None:
    """Tile-keyed sink: route every row to its WebMercator z/x/y
    partition directory — the engine analog of GDALWriter's
    filename-from-attribute routing (gdal_nodes.cpp:289-293). With
    dynamic partition overwrite (session default) a re-run of one tile
    is idempotent, which is what plans.lineage leans on."""
    from gfp_gdal_spark.operators.joins import tile_assign

    out = tile_assign(df, lon=lon, lat=lat, z=z)
    (
        out.write.mode(mode)
        .partitionBy("tile_z", "tile_x", "tile_y")
        .parquet(path)
    )


def flatten_multipolygon(df: DataFrame, parts: str = "parts") -> DataFrame:
    """MultiPolygon flatten (S7, ogr_reader_node.cpp:281-291): one input
    row with an array of polygon rings -> N rows with a scalar `ring`
    column and all other attributes replicated, plus the part index
    (`part_seq`) for provenance."""
    exploded = df.select(
        "*", F.posexplode(F.col(parts)).alias("part_seq", "ring")
    ).drop(parts)
    return exploded


def _children(b: pa.RecordBatch, col: str) -> tuple[np.ndarray, pa.RecordBatch]:
    """The ``collect_list<struct>`` column ``col`` of a batch as (the
    parent row of every child, one flat child batch of the struct
    fields)."""
    lst = b.column(col)
    return pc.list_parent_indices(lst).to_numpy(), pa.RecordBatch.from_struct_array(pc.list_flatten(lst))


def _parent_groups(parent: np.ndarray, kids: pa.RecordBatch, n: int, what: str):
    """``codec.image_groups`` over a child batch of ``n`` parent rows:
    yield ``(fmt, w, h, rows, pix, ps, pos)`` per group, ``ps`` the
    group's parents (ascending) and ``pos`` each child's index into
    ``ps``. A parent whose children fall in two groups raises
    ``what``."""
    owner, keys = np.full(n, -1), []
    for f, w, h, rows, pix in _codec.image_groups(kids):
        ps, pos = np.unique(parent[rows], return_inverse=True)
        key = (f, w, h, 1 if pix.ndim == 3 else pix.shape[3])
        seen = owner[ps][owner[ps] >= 0]
        if seen.size:
            raise ValueError(f"{what}: {keys[seen[0]]} vs {key}")
        owner[ps] = len(keys)
        keys.append(key)
        yield f, w, h, rows, pix, ps, pos


def downsample_tiles(
    tiles: DataFrame,
    fill: int = 0,
    tile_z: str = "tile_z",
    tile_x: str = "tile_x",
    tile_y: str = "tile_y",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """ONE image-pyramid level: tiles at zoom z -> parent tiles at
    z-1, with actual pixel content (the serving-pyramid builder that
    `tile_rollup` does for counts). Each parent assembles its <=4
    children into a 2w x 2h mosaic (slippy quadrant (x&1, y&1); y&1=1
    is the SOUTH row, matching WebMercator y-down), missing quadrants
    filled with ``fill``, then 2x2 mean-pools back to w x h
    (np.rint half-to-even, clipped to uint8).

    Plan: children shuffle ONCE to their parent key
    (groupBy + collect_list of <=4 blobs — bounded fan-in, so the agg
    state per key is 4 tiles no matter the corpus size), then a
    mapInArrow pass does ALL pixel work whole-batch: the collected
    children are flattened into one child batch read by
    ``codec.image_groups``; per uniform group one decode, ONE
    quadrant-placement assignment, one reshape-mean pool, one
    encode_group. Rows leave grouped, in group order.

    Fail-loud: negative tile coordinates, duplicate quadrant
    (duplicate child coords), mixed (fmt, w, h) or channel count
    within a parent, or odd tile dims raise. Tile shape comes from the
    input_hint ``w``/``h`` columns (no header probing). Iterate levels
    with ``tile_pyramid_images``.
    """
    child = tiles.select(
        (F.col(tile_z) - 1).cast("int").alias("_pz"),
        F.shiftright(F.col(tile_x).cast("long"), 1).alias("_px"),
        F.shiftright(F.col(tile_y).cast("long"), 1).alias("_py"),
        (F.col(tile_x).cast("long") % 2).cast("int").alias("_qx"),
        (F.col(tile_y).cast("long") % 2).cast("int").alias("_qy"),
        F.col("w").cast("int").alias("w"),
        F.col("h").cast("int").alias("h"),
        F.col(bytes_col).alias("bytes"),
        F.col(fmt_col).alias("fmt"),
    )
    g = child.groupBy("_pz", "_px", "_py").agg(
        F.collect_list(F.struct("_qx", "_qy", "w", "h", "bytes", "fmt")).alias("_ch")
    )
    names = [tile_z, tile_x, tile_y, "w", "h", bytes_col, fmt_col]
    schema = (
        f"{tile_z} int, {tile_x} long, {tile_y} long, "
        f"w int, h int, {bytes_col} binary, {fmt_col} string"
    )

    def op(batches):
        tune_worker()
        for b in batches:
            z, x, y = (b.column(c) for c in ("_pz", "_px", "_py"))
            # Spark % keeps the sign, so an EVEN negative x would give
            # quadrant 0 under a wrong (negative) parent; shiftright of
            # ANY negative long is negative, so the parent coords catch
            # every case — slippy z/x/y tiles are non-negative.
            if (x.to_numpy(zero_copy_only=False) < 0).any() or (y.to_numpy(zero_copy_only=False) < 0).any():
                raise ValueError(
                    "negative tile coordinates — slippy z/x/y tiles "
                    "must be non-negative"
                )
            parent, kids = _children(b, "_ch")
            qx, qy = kids.column("_qx").to_numpy(), kids.column("_qy").to_numpy()
            u, cnt = np.unique(parent * 4 + qy * 2 + qx, return_counts=True)
            if (cnt > 1).any():
                d = int(u[cnt > 1][0])
                i = d // 4
                raise ValueError(
                    f"duplicate child quadrant {(d % 2, d // 2 % 2)} under parent "
                    f"{tuple(c[i].as_py() for c in (z, x, y))}"
                )
            what = "mixed child (fmt, w, h, channels) under one parent"
            for f, w, h, rows, pix, ps, pos in _parent_groups(parent, kids, b.num_rows, what):
                if w % 2 or h % 2:
                    raise ValueError(f"tile dims must be even, got {(w, h)}")
                # (parent, qy, row, qx, col) is the 2h x 2w canvas
                canvas = np.full((len(ps), 2, h, 2, w) + pix.shape[3:], fill, np.float64)
                canvas[pos, qy[rows], :, qx[rows]] = pix
                pooled = canvas.reshape((len(ps), h, 2, w, 2) + pix.shape[3:]).mean(axis=(2, 4))
                take, m = pa.array(ps), len(ps)
                yield pa.RecordBatch.from_arrays(
                    [z.take(take), x.take(take), y.take(take),
                     pa.array(np.full(m, w, np.int32)), pa.array(np.full(m, h, np.int32)),
                     pa.array(_codec.encode_group(np.clip(np.rint(pooled), 0, 255).astype(np.uint8), f), pa.binary()),
                     pa.array([f] * m, pa.string())],
                    names,
                )

    return g.mapInArrow(op, schema)


def tile_pyramid_images(tiles: DataFrame, z_from: int, z_to: int, **kw) -> DataFrame:
    """Full image pyramid z_from -> z_to (exclusive of the input
    level): repeatedly ``downsample_tiles`` and union the levels.
    Each level is one shuffle over an input 4x smaller than the last —
    total cost ~4/3 of the base level, the standard pyramid bound."""
    if z_to >= z_from:
        raise ValueError(f"z_to must be < z_from, got {z_from} -> {z_to}")
    levels = []
    cur = tiles
    for _ in range(z_from - z_to):
        cur = downsample_tiles(cur, **kw)
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def mosaic_composite(
    tiles: DataFrame,
    priority: str,
    nodata: int = 0,
    max_layers: int = 8,
    tile_x: str = "tile_x",
    tile_y: str = "tile_y",
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Per-tile mosaic compositing: N overlapping images of the SAME
    tile -> one image, each pixel taken from the highest-``priority``
    layer whose pixel != ``nodata`` (the cloud-mask / freshest-scene
    composite every imagery pipeline runs after tiling). Pixels nodata
    in EVERY kept layer stay nodata.

    Scale shape: a per-tile window ranks layers by (priority DESC,
    id ASC) and keeps only ``max_layers`` BEFORE anything heavy —  the
    per-tile shuffle and Python-side state are bounded by max_layers
    regardless of how many scenes pile on a hot tile (the same
    bounded-fan-in idea as downsample_tiles' 4 quadrants). Then one
    groupBy collects the kept layers and a mapInArrow pass does all
    pixel work whole-batch: the layers are flattened into one child
    batch read by ``codec.image_groups``; per uniform group one
    decode, one vectorized first-valid-layer argmax over a
    rank-ordered padded tensor, one encode_group. Rows leave grouped,
    in group order. Fail-loud on mixed (fmt, w, h) or channel count
    within a tile.
    """
    from pyspark.sql import Window

    if not 0 <= int(nodata) <= 255:
        # the decoded pixel dtype is uint8 — an out-of-range nodata
        # would wrap in the np.full fill AND in the != comparison,
        # silently corrupting the valid-pixel mask
        raise ValueError(f"nodata must be a uint8 value (0..255): {nodata!r}")
    d = (
        tiles.select(
            F.col(tile_x).cast("long").alias("_tx"),
            F.col(tile_y).cast("long").alias("_ty"),
            F.col(priority).alias("_p"),
            F.col(id_col).alias("_iid"),
            F.col("w").cast("int").alias("w"),
            F.col("h").cast("int").alias("h"),
            F.col(bytes_col).alias("bytes"),
            F.col(fmt_col).alias("fmt"),
        )
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_tx", "_ty").orderBy(
                F.col("_p").desc(), F.col("_iid").asc()
            )
        ))
        .where(F.col("_rn") <= max_layers)
    )
    g = d.groupBy("_tx", "_ty").agg(
        F.collect_list(F.struct("_rn", "w", "h", "bytes", "fmt")).alias("_ly"),
        F.count(F.lit(1)).cast("int").alias("_nl"),
    )
    names = [tile_x, tile_y, "n_layers", "w", "h", bytes_col, fmt_col]
    schema = (
        f"{tile_x} long, {tile_y} long, n_layers int, "
        f"w int, h int, {bytes_col} binary, {fmt_col} string"
    )
    nd = nodata

    def op(batches):
        tune_worker()
        for b in batches:
            parent, kids = _children(b, "_ly")
            rn = kids.column("_rn").to_numpy()
            what = "mixed layer (fmt, w, h, channels) within one tile"
            for f, w, h, rows, pix, ps, pos in _parent_groups(parent, kids, b.num_rows, what):
                # (tile, rank) padded with all-nodata layers
                tensor = np.full((len(ps), int(rn[rows].max())) + pix.shape[1:], nd, pix.dtype)
                tensor[pos, rn[rows] - 1] = pix
                valid = (tensor != nd).any(axis=-1) if pix.ndim == 4 else tensor != nd
                first = valid.argmax(axis=1)[:, None]  # first valid layer (0 if none)
                if pix.ndim == 4:
                    first = first[..., None]
                comp = np.take_along_axis(tensor, first, axis=1)[:, 0]
                take, m = pa.array(ps), len(ps)
                yield pa.RecordBatch.from_arrays(
                    [b.column(c).take(take) for c in ("_tx", "_ty", "_nl")]
                    + [pa.array(np.full(m, w, np.int32)), pa.array(np.full(m, h, np.int32)),
                       pa.array(_codec.encode_group(comp, f), pa.binary()),
                       pa.array([f] * m, pa.string())],
                    names,
                )

    return g.mapInArrow(op, schema)


def rasterize_zones(
    frames: DataFrame,
    zones: DataFrame,
    value: str,
    key: str = "image_id",
    bbox_cols: tuple[str, str, str, str] = ("min_lon", "min_lat", "max_lon", "max_lat"),
    nodata: int = 0,
    fmt: str = "pgm",
    **pip_kwargs,
) -> DataFrame:
    """Vector -> raster burning (the `gdal_rasterize` analog, beside
    map_algebra.zonal_stats): for each output frame (a georeferenced
    w x h grid over its bbox, north-up), every pixel whose CENTER falls
    strictly inside a zone polygon is burned with that zone's ``value``
    cast to long (overlapping zones -> the MINIMUM value, a
    deterministic painter's rule); other pixels stay ``nodata``. Zones
    whose ``value`` is NULL or NaN are skipped: they burn nothing.

    Plan (Raptor-style scanline, no per-pixel rows): a broadcast
    bbox-overlap LEFT join attaches every zone whose exterior bbox
    meets a frame's (a frame with no zone still emits an all-nodata
    raster); one group per frame collects its zones; one mapInArrow
    pass reads the rings from the Arrow buffers, burns each frame with
    ``kernels.geom.scanline_burn`` (bit-identical to the pixel-centre
    PiP rule) and encodes it. Of ``pip_kwargs`` only the ``ring`` and
    ``holes`` column names are read; the pip_join bucketing knobs
    (``z``, ``broadcast``, ...) are accepted and have nothing to tune.
    Returns (key, w, h, n_burned, val_sum, bytes, fmt), counts exact.
    """
    from gfp_gdal_spark.kernels.geom import ragged_from_arrow, scanline_burn
    from gfp_gdal_spark.operators.joins import ring_bbox_cols

    ring, holes = pip_kwargs.get("ring", "ring"), pip_kwargs.get("holes", "holes")
    hole_c = F.col(holes) if holes in zones.columns else F.lit(None)
    z = ring_bbox_cols(zones.where(F.col(value).isNotNull() & ~F.isnan(value)).select(
        F.col(ring).alias("r"),
        hole_c.cast("array<array<array<double>>>").alias("h"),
        F.col(value).cast("long").alias("v"),
    ), "r")
    x0, y0, x1, y1 = (F.col(c).cast("double") for c in bbox_cols)
    fr = frames.select(
        F.monotonically_increasing_id().alias("_fid"), F.col(key).cast("string").alias("_k"),
        x0.alias("_x0"), y0.alias("_y0"), x1.alias("_x1"), y1.alias("_y1"),
        F.col("w").cast("int").alias("_w"), F.col("h").cast("int").alias("_h"),
    )
    overlap = (
        (F.col("min_lon") <= F.greatest("_x0", "_x1")) & (F.col("max_lon") >= F.least("_x0", "_x1"))
        & (F.col("min_lat") <= F.greatest("_y0", "_y1")) & (F.col("max_lat") >= F.least("_y0", "_y1"))
    )
    grouped = (
        fr.join(F.broadcast(z), overlap, "left")
        .groupBy("_fid", "_k", "_x0", "_y0", "_x1", "_y1", "_w", "_h")
        .agg(F.collect_list(F.when(F.col("v").isNotNull(), F.struct("r", "h", "v"))).alias("_z"))
    )
    names = [key, "w", "h", "n_burned", "val_sum", "bytes", "fmt"]
    types = ["string", "int", "int", "long", "long", "binary", "string"]
    nd, out_fmt = nodata, fmt

    def op(batches):
        tune_worker()
        for b in batches:
            col = {c: b.column(c) for c in b.schema.names}
            zo, zs, _ = arrow_list_level(col["_z"])
            r, h, v = zs.flatten()
            ho, h, _ = arrow_list_level(h)
            (ro, rv, _), (hro, hv, _), v = ragged_from_arrow(r), ragged_from_arrow(h), v.to_numpy()
            rv, hv = rv[:, :2], hv[:, :2]
            x0, y0, x1, y1, w, hh = (col[c].to_numpy() for c in ("_x0", "_y0", "_x1", "_y1", "_w", "_h"))
            n, s, enc = [], [], []
            for f in range(b.num_rows):
                a, e = zo[f], zo[f + 1]
                px = x0[f] + ((np.arange(w[f]) + 0.5) * (x1[f] - x0[f])) / w[f]
                py = y1[f] - ((np.arange(hh[f]) + 0.5) * (y1[f] - y0[f])) / hh[f]
                eo, hs = ro[a : e + 1] - ro[a], hro[ho[a] : ho[e] + 1] - hro[ho[a]]
                canvas, burned = scanline_burn(
                    px, py, np.concatenate([rv[ro[a] : ro[e]], hv[hro[ho[a]] : hro[ho[e]]]]),
                    np.concatenate([eo, hs[1:] + eo[-1]]),
                    v[a:e], np.repeat(np.arange(e - a), np.diff(ho[a : e + 1])),
                )
                pix = np.clip(np.where(burned, canvas, nd), 0, 255).astype(np.uint8)
                n.append(int(burned.sum()))
                s.append(int(canvas[burned].sum()))
                enc.append(_codec.encode_group(pix.reshape(1, hh[f], w[f]), out_fmt)[0])
            yield pa.RecordBatch.from_arrays([
                col["_k"], col["_w"], col["_h"], pa.array(n, pa.int64()), pa.array(s, pa.int64()),
                pa.array(enc, pa.binary()), pa.array([out_fmt] * b.num_rows, pa.string()),
            ], names=names)

    return grouped.mapInArrow(op, ", ".join(f"{c} {t}" for c, t in zip(names, types)))


def reproject_webmercator(
    images: DataFrame,
    h_out: int | None = None,
) -> DataFrame:
    """Raster warp (the `gdalwarp` analog, nearest-neighbor): each
    footprint raster — a grid REGULAR IN LON/LAT over its bbox (the
    raster_to_points geotransform) — is resampled onto a grid regular
    in WEBMERCATOR METERS over the same bbox.

    Geometry: WebMercator x is LINEAR in longitude, so columns map
    1:1 and the warp reduces to a pure ROW remap — target row j sits
    at y = y_top - (j+0.5)*(y_top-y_bot)/h_out meters, inverted to
    phi = 2*atan(exp(y/R)) - pi/2 (Snyder 1987 eq. 7-4), then to the
    nearest source row. Wholly vectorized: one (n, h_out) index
    matrix per uniform (fmt, w, h) group, one fancy-gather, one
    encode_group — no per-image Python.

    Requires footprint columns (lon_c/lat_c/dlon/dlat — apply
    functions.spatial.with_footprint). ``h_out`` defaults to the
    source height. Latitudes must be Mercator-valid (|lat| < 85.05);
    out-of-range footprints raise.
    """
    schema = "image_id string, w int, h int, bytes binary, fmt string"
    R = 6378137.0

    def op(batches):
        tune_worker()
        for b in batches:
            lat_c = b.column("lat_c").to_numpy(zero_copy_only=False)
            dlat = b.column("dlat").to_numpy(zero_copy_only=False)
            # gate the whole batch before any decode
            if np.any(np.abs(lat_c) + np.abs(dlat) >= 85.06):
                raise ValueError(
                    "footprint latitude outside WebMercator validity "
                    "(|lat| < 85.05)"
                )
            rows, out_h, out_b = [], [], []
            for f, w, h, idxs, pix in _codec.image_groups(b):
                ho = h_out or h
                m = len(idxs)
                dl = dlat[idxs]
                top = lat_c[idxs] + dl
                bot = lat_c[idxs] - dl
                ytop = R * np.log(np.tan(np.pi / 4 + np.radians(top) / 2))
                ybot = R * np.log(np.tan(np.pi / 4 + np.radians(bot) / 2))
                j = np.arange(ho) + 0.5
                y = ytop[:, None] - j[None, :] * (ytop - ybot)[:, None] / ho
                phi = np.degrees(2 * np.arctan(np.exp(y / R)) - np.pi / 2)
                # source row from the lon/lat geotransform (north-up)
                src = np.floor(
                    (top[:, None] - phi) / (2 * dl)[:, None] * h
                ).astype(np.int64)
                src = np.clip(src, 0, h - 1)
                warped = pix[np.arange(m)[:, None], src]
                rows.append(idxs)
                out_h.append(np.full(m, ho, np.int32))
                out_b += _codec.encode_group(np.ascontiguousarray(warped), f)
            if not rows:
                continue
            # rows leave grouped, in group order; id, w and fmt carry over
            take = pa.array(np.concatenate(rows))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("image_id").take(take),
                    b.column("w").take(take),
                    pa.array(np.concatenate(out_h)),
                    pa.array(out_b, pa.binary()),
                    b.column("fmt").take(take),
                ],
                ["image_id", "w", "h", "bytes", "fmt"],
            )

    cols = ["image_id", "bytes", "fmt", "w", "h", "lon_c", "lat_c", "dlon", "dlat"]
    return images.select(*cols).mapInArrow(op, schema)


def sample_raster(
    requests: DataFrame,
    images: DataFrame,
    band: int = 0,
    pid_col: str = "pid",
) -> DataFrame:
    """Point queries against the raster table (the `gdallocationinfo`
    analog, the point-probe complement of raster_to_points' full
    fan-out): ``requests`` rows (``pid_col``, image_id, px_r, px_c)
    name the pixels to read; each image is decoded ONCE no matter how
    many probes land on it and only the requested pixels materialize.
    Locate stage (lon/lat -> image_id, px_r, px_c) is the certified
    footprint-join machinery (`pip_join`/`bbox_join` + the inverse
    geotransform) — this operator is the decode+gather leg.

    Out-of-bounds probes fail loud (input gating, the K9 rule), they
    do not clamp.

    Scale: ONE shuffle (requests groupBy image_id, map-side-combined
    collect_list) + an image_id equi-join that AQE broadcasts when
    the probed-image set is small; inside one mapInArrow, decode is
    whole-batch per uniform (fmt, w, h) group (codec.image_groups) and
    the probe lists are read off their list<struct> buffers, so the
    gather is one fancy-index — no per-probe Python. Probe lists are
    bounded per image by construction (a probe set ~ the image's pixel
    count should use raster_to_points instead).
    """
    reqs = requests.groupBy("image_id").agg(
        F.collect_list(
            F.struct(
                F.col(pid_col).cast("long").alias("pid"),
                F.col("px_r").cast("int").alias("r"),
                F.col("px_c").cast("int").alias("c"),
            )
        ).alias("_reqs")
    )
    joined = images.select("image_id", "bytes", "fmt", "w", "h").join(
        reqs, "image_id"
    )
    schema = f"{pid_col} long, image_id string, px_r int, px_c int, val double"

    def op(batches):
        tune_worker()
        for b in batches:
            # the probe lists straight off the list<struct> buffers
            reqs = b.column("_reqs")
            counts = pc.list_value_length(reqs).to_numpy(zero_copy_only=False)
            pids, prs, pcs = (a.to_numpy() for a in reqs.flatten().flatten())
            first = np.cumsum(counts) - counts  # each row's first probe
            for _fmt, w, h, rows, pix in _codec.image_groups(b):
                ch = pix[..., band] if pix.ndim == 4 else pix
                cnt = counts[rows]
                if cnt.sum() == 0:
                    continue
                # the group's probes, row by row: k = first[row] + j
                img_ix = np.repeat(np.arange(len(rows)), cnt)
                j = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                k = first[rows][img_ix] + j
                pid, rr, cc = pids[k], prs[k], pcs[k]
                oob = (rr < 0) | (rr >= h) | (cc < 0) | (cc >= w)
                if oob.any():
                    i = np.flatnonzero(oob)[0]
                    raise ValueError(
                        f"probe out of bounds: pid={pid[i]} (r={rr[i]}, "
                        f"c={cc[i]}) vs {h}x{w}"
                    )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(pid, pa.int64()),
                        b.column("image_id").take(pa.array(rows[img_ix])),
                        pa.array(rr, pa.int32()),
                        pa.array(cc, pa.int32()),
                        pa.array(ch[img_ix, rr, cc].astype(np.float64)),
                    ],
                    [pid_col, "image_id", "px_r", "px_c", "val"],
                )

    return joined.mapInArrow(op, schema)
