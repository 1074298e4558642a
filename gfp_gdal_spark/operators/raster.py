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

from gfp_gdal_spark.functions.worker_tuning import tune_worker
from gfp_gdal_spark.kernels import codec as _codec

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
    boundary, not engine semantics). mapInPandas; numpy stack + encode.
    """
    if fmt == "ppm" and len(band_cols) != 3:
        raise ValueError("ppm encodes exactly 3 bands; use pgm for 1")
    if fmt == "pgm" and len(band_cols) != 1:
        raise ValueError("pgm encodes exactly 1 band")

    out_fields = [f for f in images.schema.fields if f.name != out_col]
    schema_str = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema_str += f", {out_col} binary, fmt string"
    keep = [f.name for f in out_fields]

    nb = len(band_cols)

    def op(batches):
        # whole-batch shape: rows group by (w, h) — one numpy stack /
        # nodata pass / clip and ONE codec.encode_group per uniform
        # group, mirroring operators/audio._grouped; per-row Python is
        # just the band-array gather and the blob scatter (memcpy-level)
        for pdf in batches:
            blobs: list = [None] * len(pdf)
            for (w, h), idx in pdf.groupby(["w", "h"], sort=False).indices.items():
                w, h = int(w), int(h)
                stack = np.stack(
                    [
                        np.stack(
                            [np.asarray(v, dtype=np.float64) for v in pdf[c].iloc[idx]]
                        )
                        for c in band_cols
                    ],
                    axis=-1,
                ).reshape(len(idx), h, w, nb)
                if nodata is not None:
                    stack[stack == nodata] = nodata_fill
                pix = np.clip(stack, 0, 255).astype(np.uint8)
                if nb == 1:
                    pix = pix[..., 0]
                enc = _codec.encode_group(pix, fmt)
                for j, i in enumerate(idx):
                    blobs[i] = enc[j]
            out = pdf[keep].copy()
            out[out_col] = blobs
            out["fmt"] = fmt
            yield out

    return images.mapInPandas(op, schema_str)


def raster_stats(images: DataFrame, band: int = 0) -> DataFrame:
    """Per-image band min/max/mean — the GDALReader stats report
    (gdal_nodes.cpp:385-389) as a DataFrame instead of stdout."""
    schema = "image_id string, band int, px_min double, px_max double, px_mean double"

    def op(batches):
        tune_worker()
        for b in batches:
            names = b.schema.names
            blobs = b.column(names.index("bytes"))
            fmts = b.column(names.index("fmt")).to_pylist()
            n = b.num_rows
            mn, mx, me = np.zeros(n), np.zeros(n), np.zeros(n)
            for i in range(n):
                pix = _codec.decode_image(blobs[i].as_py(), fmts[i])
                ch = pix[..., band] if pix.ndim == 3 else pix
                mn[i], mx[i], me[i] = float(ch.min()), float(ch.max()), float(ch.mean())
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(names.index("image_id")),
                    pa.array(np.full(n, band, dtype=np.int32)),
                    pa.array(mn),
                    pa.array(mx),
                    pa.array(me),
                ],
                names=["image_id", "band", "px_min", "px_max", "px_mean"],
            )

    return images.mapInArrow(op, schema)


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
    functions.spatial.with_footprint first. Fan-out is h*w/thin_nth
    rows per image: at scale, partition the input so
    rows_out-per-task stays bounded.
    """
    schema = "image_id string, x double, y double, z double"

    def op(batches):
        tune_worker()
        for b in batches:
            names = b.schema.names
            blobs = b.column(names.index("bytes"))
            fmts = b.column(names.index("fmt")).to_pylist()
            ids = b.column(names.index("image_id")).to_pylist()
            lon_c = b.column(names.index("lon_c")).to_numpy(zero_copy_only=False)
            lat_c = b.column(names.index("lat_c")).to_numpy(zero_copy_only=False)
            dlon = b.column(names.index("dlon")).to_numpy(zero_copy_only=False)
            dlat = b.column(names.index("dlat")).to_numpy(zero_copy_only=False)
            out_id, out_x, out_y, out_z = [], [], [], []
            for i in range(b.num_rows):
                pix = _codec.decode_image(blobs[i].as_py(), fmts[i])
                ch = (pix[..., band] if pix.ndim == 3 else pix).astype(np.float64)
                h, w = ch.shape
                # geotransform: pixel (r, c) center -> lon/lat inside the
                # footprint bbox (north-up, like a GDAL geotransform)
                xs = lon_c[i] - dlon[i] + (np.arange(w) + 0.5) * (2 * dlon[i] / w)
                ys = lat_c[i] + dlat[i] - (np.arange(h) + 0.5) * (2 * dlat[i] / h)
                gx, gy = np.meshgrid(xs, ys)
                flat_x, flat_y, flat_z = gx.ravel(), gy.ravel(), ch.ravel()
                if thin_nth > 1:
                    flat_x = flat_x[::thin_nth]
                    flat_y = flat_y[::thin_nth]
                    flat_z = flat_z[::thin_nth]
                out_id.append(np.full(len(flat_x), i, dtype=np.int64))
                out_x.append(flat_x)
                out_y.append(flat_y)
                out_z.append(flat_z)
            if not out_id:
                continue
            idx = np.concatenate(out_id)
            id_arr = pa.array(np.asarray(ids, dtype=object)[idx])
            yield pa.RecordBatch.from_arrays(
                [
                    id_arr,
                    pa.array(np.concatenate(out_x)),
                    pa.array(np.concatenate(out_y)),
                    pa.array(np.concatenate(out_z)),
                ],
                names=["image_id", "x", "y", "z"],
            )

    cols = ["image_id", "bytes", "fmt", "lon_c", "lat_c", "dlon", "dlat"]
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
    mapInPandas pass does ALL pixel work whole-batch: per uniform
    (fmt, w, h) group one decode_group, FOUR vectorized quadrant
    placements (children of the same quadrant land in one fancy-index
    assignment), one reshape-mean pool, one encode_group. Per-child
    Python is only the dict gather off the collect_list structs
    (memcpy-level, same as stack_bands' band gather).

    Fail-loud: mixed (fmt, w, h) within a parent, duplicate quadrant
    (duplicate child coords), or odd tile dims raise. Tile shape comes
    from the input_hint ``w``/``h`` columns (no header probing).
    Iterate levels with ``tile_pyramid_images``.
    """
    child = tiles.select(
        (F.col(tile_z) - 1).cast("int").alias("_pz"),
        F.shiftright(F.col(tile_x).cast("long"), 1).alias("_px"),
        F.shiftright(F.col(tile_y).cast("long"), 1).alias("_py"),
        (F.col(tile_x).cast("long") % 2).cast("int").alias("_qx"),
        (F.col(tile_y).cast("long") % 2).cast("int").alias("_qy"),
        F.col("w").cast("int").alias("_w"),
        F.col("h").cast("int").alias("_h"),
        F.col(bytes_col).alias("_b"),
        F.col(fmt_col).alias("_f"),
    )
    g = child.groupBy("_pz", "_px", "_py").agg(
        F.collect_list(F.struct("_qx", "_qy", "_w", "_h", "_b", "_f")).alias("_ch")
    )
    schema = (
        f"{tile_z} int, {tile_x} long, {tile_y} long, "
        f"w int, h int, {bytes_col} binary, {fmt_col} string"
    )

    def op(batches):
        tune_worker()
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # gather children flat: parent idx, quadrant, blob, fmt
            p_idx: list[int] = []
            qxs: list[int] = []
            qys: list[int] = []
            blobs: list[bytes] = []
            fmts: list[str] = []
            shapes: list[tuple] = []
            # negative tile coords: Spark % keeps the sign, so an ODD
            # negative x gives quadrant -1, but an EVEN negative x
            # gives quadrant 0 and would silently place pixels under a
            # wrong (negative) parent. shiftright of ANY negative long
            # is negative, so the parent coords catch every case —
            # slippy z/x/y tiles are non-negative by definition.
            if (pdf["_px"].to_numpy() < 0).any() or (
                pdf["_py"].to_numpy() < 0
            ).any():
                raise ValueError(
                    "negative tile coordinates — slippy z/x/y tiles "
                    "must be non-negative"
                )
            for i, ch in enumerate(pdf["_ch"]):
                seen = set()
                for c in ch:
                    # the parent-coordinate sign guard above already
                    # rejected every negative input, so quadrants here
                    # are always in {0,1}x{0,1}
                    q = (c["_qx"], c["_qy"])
                    if q in seen:
                        raise ValueError(
                            f"duplicate child quadrant {q} under parent "
                            f"{(pdf['_pz'].iat[i], pdf['_px'].iat[i], pdf['_py'].iat[i])}"
                        )
                    seen.add(q)
                    p_idx.append(i)
                    qxs.append(c["_qx"])
                    qys.append(c["_qy"])
                    blobs.append(c["_b"])
                    fmts.append(c["_f"])
                    shapes.append((c["_w"], c["_h"]))
            # uniform (fmt, w, h) groups; parent shape = child shape
            par_shape: dict[int, tuple] = {}
            for i, f, (w, h) in zip(p_idx, fmts, shapes):
                key = (f, int(w), int(h))
                if par_shape.setdefault(i, key) != key:
                    raise ValueError(
                        f"mixed child (fmt, w, h) under one parent: "
                        f"{par_shape[i]} vs {key}"
                    )
            import collections

            groups: dict[tuple, list[int]] = collections.defaultdict(list)
            for i, key in par_shape.items():
                groups[key].append(i)
            out_w = np.zeros(n, dtype=np.int32)
            out_h = np.zeros(n, dtype=np.int32)
            out_b: list = [None] * n
            out_f: list = [None] * n
            child_of = collections.defaultdict(list)
            for ci, i in enumerate(p_idx):
                child_of[i].append(ci)
            for (f, w, h), parents in groups.items():
                if w % 2 or h % 2:
                    raise ValueError(f"tile dims must be even, got {(w, h)}")
                cis = [ci for i in parents for ci in child_of[i]]
                pix = _codec.decode_group([blobs[ci] for ci in cis], f, w, h)
                nch = 3 if pix.ndim == 4 else 1
                m = len(parents)
                pos = {i: j for j, i in enumerate(parents)}
                canvas = np.full(
                    (m, 2 * h, 2 * w) + ((3,) if nch == 3 else ()),
                    fill,
                    dtype=np.float64,
                )
                cq = np.array([[qys[ci], qxs[ci], pos[p_idx[ci]]] for ci in cis])
                for qy in (0, 1):
                    for qx in (0, 1):
                        sel = (cq[:, 0] == qy) & (cq[:, 1] == qx)
                        if not sel.any():
                            continue
                        canvas[
                            cq[sel, 2],
                            qy * h : (qy + 1) * h,
                            qx * w : (qx + 1) * w,
                        ] = pix[np.flatnonzero(sel)]
                pooled = canvas.reshape(
                    (m, h, 2, w, 2) + ((3,) if nch == 3 else ())
                ).mean(axis=(2, 4))
                enc = _codec.encode_group(
                    np.clip(np.rint(pooled), 0, 255).astype(np.uint8), f
                )
                for j, i in enumerate(parents):
                    out_b[i] = enc[j]
                    out_f[i] = f
                    out_w[i] = w
                    out_h[i] = h
            import pandas as pd

            yield pd.DataFrame(
                {
                    tile_z: pdf["_pz"].astype("int32"),
                    tile_x: pdf["_px"].astype("int64"),
                    tile_y: pdf["_py"].astype("int64"),
                    "w": out_w,
                    "h": out_h,
                    bytes_col: out_b,
                    fmt_col: out_f,
                }
            )

    return g.mapInPandas(op, schema)


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
    groupBy collects the kept layers and a mapInPandas pass does all
    pixel work whole-batch per uniform (fmt, w, h) group: one
    decode_group over every layer in the batch, one vectorized
    first-valid-layer argmax over a rank-ordered padded tensor, one
    encode_group. Fail-loud on mixed child (fmt, w, h) within a tile.
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
            F.col("w").cast("int").alias("_w"),
            F.col("h").cast("int").alias("_h"),
            F.col(bytes_col).alias("_b"),
            F.col(fmt_col).alias("_f"),
        )
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_tx", "_ty").orderBy(
                F.col("_p").desc(), F.col("_iid").asc()
            )
        ))
        .where(F.col("_rn") <= max_layers)
    )
    g = d.groupBy("_tx", "_ty").agg(
        F.collect_list(F.struct("_rn", "_w", "_h", "_b", "_f")).alias("_ly"),
        F.count(F.lit(1)).alias("_nl"),
    )
    schema = (
        f"{tile_x} long, {tile_y} long, n_layers int, "
        f"w int, h int, {bytes_col} binary, {fmt_col} string"
    )
    nd = nodata

    def op(batches):
        import collections

        import pandas as pd

        tune_worker()
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            tile_shape: dict[int, tuple] = {}
            flat = []  # (tile_idx, rank, blob)
            for i, ly in enumerate(pdf["_ly"]):
                for c in ly:
                    key = (c["_f"], int(c["_w"]), int(c["_h"]))
                    if tile_shape.setdefault(i, key) != key:
                        raise ValueError(
                            f"mixed layer (fmt, w, h) within one tile: "
                            f"{tile_shape[i]} vs {key}"
                        )
                    flat.append((i, int(c["_rn"]), c["_b"]))
            groups: dict[tuple, list[int]] = collections.defaultdict(list)
            for i, key in tile_shape.items():
                groups[key].append(i)
            lay_of = collections.defaultdict(list)
            for j, (i, rn, b) in enumerate(flat):
                lay_of[i].append(j)
            out_b: list = [None] * n
            out_f: list = [None] * n
            out_w = np.zeros(n, dtype=np.int32)
            out_h = np.zeros(n, dtype=np.int32)
            for (f, w, h), tidx in groups.items():
                js = [j for i in tidx for j in lay_of[i]]
                pix = _codec.decode_group([flat[j][2] for j in js], f, w, h)
                nch = 3 if pix.ndim == 4 else 1
                L = max(len(lay_of[i]) for i in tidx)
                m = len(tidx)
                pos = {i: t for t, i in enumerate(tidx)}
                tensor = np.full(
                    (m, L, h, w) + ((3,) if nch == 3 else ()), nd, dtype=pix.dtype
                )
                for jj, j in enumerate(js):
                    i, rn, _ = flat[j]
                    tensor[pos[i], rn - 1] = pix[jj]
                valid = (
                    (tensor != nd).any(axis=-1) if nch == 3 else (tensor != nd)
                )  # (m, L, h, w)
                first = valid.argmax(axis=1)  # first valid layer (0 if none)
                idx = first[:, None, :, :]
                if nch == 3:
                    comp = np.take_along_axis(
                        tensor, idx[..., None], axis=1
                    )[:, 0]
                else:
                    comp = np.take_along_axis(tensor, idx, axis=1)[:, 0]
                enc = _codec.encode_group(comp.astype(np.uint8), f)
                for t, i in enumerate(tidx):
                    out_b[i] = enc[t]
                    out_f[i] = f
                    out_w[i] = w
                    out_h[i] = h
            yield pd.DataFrame(
                {
                    tile_x: pdf["_tx"].astype("int64"),
                    tile_y: pdf["_ty"].astype("int64"),
                    "n_layers": pdf["_nl"].astype("int32"),
                    "w": out_w,
                    "h": out_h,
                    bytes_col: out_b,
                    fmt_col: out_f,
                }
            )

    return g.mapInPandas(op, schema)


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
    from gfp_gdal_spark.kernels.geom import arrow_list_level, ragged_from_arrow, scanline_burn
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
