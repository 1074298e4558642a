"""Raster->vector utilities — the `gdal_polygonize` / `gdal_proximity`
/ `gdal_contour` / `gdal_sieve` / `gdal_viewshed` analogs over the image-row table
(input_hint schema), completing the GDAL utility family beside
``rasterize_zones`` (gdal_rasterize), ``reproject_webmercator``
(gdalwarp), ``mosaic_composite`` (gdal_merge) and ``map_algebra``
(gdaldem). Reference anchor: the reference reads rasters as gridded
bands (gdal_nodes.cpp:344-424); these are the standard GDAL-utility
analytics downstream of that band.

Execution shape (the 100 TB story): every operator is per-frame
independent — one ``mapInArrow`` pass, rows grouped by uniform
(fmt, w, h) inside each Arrow batch, the whole group decoded into ONE
(n, h, w) tensor (`kernels/codec.image_groups`) and processed with
whole-group vectorized numpy; no per-image Python loops, no shuffle
at all (narrow plan — partition count scales with images, state per
task bounded by batch x frame size). Cross-frame region stitching,
when tiles cut regions, composes with ``plans.graph.
connected_components`` over the emitted per-frame regions.

Determinism: region ids are the region's MINIMUM linear pixel index
(r*w + c), proximity ties break lexicographically on
(dist^2, near_r, near_c), all in exact integer arithmetic — any
partitioning produces identical rows.
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
    "label_regions",
    "region_borders",
    "stitch_regions",
    "proximity_raster",
    "contour_segments",
    "sieve_filter",
    "fill_nodata",
    "viewshed",
]

_BIG = np.int64(1) << np.int64(62)


def _gray_group(pix: np.ndarray) -> np.ndarray:
    """A decoded (n, h, w[, 3]) group as a single-band (n, h, w) int64
    tensor (color inputs use the round-half-up BT.601 luma already
    used by the ahash kernel, so 'value' is well-defined for every
    fmt)."""
    p = pix.astype(np.int64)
    if p.ndim == 4:
        p = (299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2] + 500) // 1000
    return p


def _gray_batch(b: pa.RecordBatch, parts) -> pa.RecordBatch:
    """The (image_id, w, h, bytes, fmt) batch of a gray repaint op:
    ``parts`` are per-group ``(rows, fmt, values)``, values clipped to
    uint8 and encoded whole-group (ppm collapses to its one-band pgm);
    ids and dims pass through as ``b``'s own arrays."""
    blobs = []
    for rows, f, v in parts:
        painted = np.clip(v, 0, 255).astype(np.uint8)
        blobs.append((rows, _codec.encode_group(painted, "pgm" if f == "ppm" else f)))
    fmt = b.column("fmt")
    return pa.RecordBatch.from_arrays(
        [
            b.column("image_id"),
            b.column("w"),
            b.column("h"),
            _codec.blobs_by_row(blobs),
            pc.if_else(pc.equal(fmt, "ppm"), "pgm", fmt),
        ],
        ["image_id", "w", "h", "bytes", "fmt"],
    )


def _label_group(pix: np.ndarray, connectivity: int) -> np.ndarray:
    """Connected-component labels of a (m, h, w) value tensor: pixels
    join a region iff adjacent (4- or 8-connectivity) AND equal-valued.
    Returns (m, h, w) int64 labels = the region's min linear index.

    Vectorized label propagation with pointer jumping: each round is
    (a) one whole-tensor gather L[i] <- L[L[i]] (path halving — label
    chains collapse geometrically, so serpentine regions converge in
    O(log(h*w)) rounds, not O(h*w)), then (b) one neighbor-min sweep
    gated on value equality. Labels are non-increasing and bounded by
    the region minimum, so the fixpoint is exact."""
    m, h, w = pix.shape
    lab = np.broadcast_to(
        np.arange(h * w, dtype=np.int64).reshape(h, w), (m, h, w)
    ).copy()
    pairs = [
        ((slice(None), slice(1, None), slice(None)), (slice(None), slice(None, -1), slice(None))),
        ((slice(None), slice(None), slice(1, None)), (slice(None), slice(None), slice(None, -1))),
    ]
    if connectivity == 8:
        pairs += [
            ((slice(None), slice(1, None), slice(1, None)), (slice(None), slice(None, -1), slice(None, -1))),
            ((slice(None), slice(1, None), slice(None, -1)), (slice(None), slice(None, -1), slice(1, None))),
        ]
    elif connectivity != 4:
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    eqs = [pix[a] == pix[b] for a, b in pairs]
    while True:
        flat = lab.reshape(m, -1)
        lab = np.take_along_axis(flat, flat, axis=1).reshape(m, h, w)
        new = lab.copy()
        for (a, b), eq in zip(pairs, eqs):
            np.minimum(new[a], np.where(eq, lab[b], _BIG), out=new[a])
            np.minimum(new[b], np.where(eq, lab[a], _BIG), out=new[b])
        if np.array_equal(new, lab):
            return new
        lab = new


def _region_rows(pix: np.ndarray, lab: np.ndarray):
    """(frame_idx, region, val, n_pixels, r0, c0, r1, c1) arrays from a
    labeled group — sort + reduceat, no per-region Python."""
    m, h, w = pix.shape
    fid = np.repeat(np.arange(m, dtype=np.int64), h * w)
    key = fid * (h * w) + lab.reshape(-1)
    order = np.argsort(key, kind="stable")
    sk = key[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    uniq = sk[starts]
    counts = np.diff(np.r_[starts, sk.size])
    rr = np.broadcast_to(np.arange(h).reshape(1, h, 1), (m, h, w)).reshape(-1)[order]
    cc = np.broadcast_to(np.arange(w).reshape(1, 1, w), (m, h, w)).reshape(-1)[order]
    region = uniq % (h * w)
    frame = uniq // (h * w)
    val = pix.reshape(-1)[frame * (h * w) + region]
    return (
        frame,
        region,
        val,
        counts.astype(np.int64),
        np.minimum.reduceat(rr, starts).astype(np.int32),
        np.minimum.reduceat(cc, starts).astype(np.int32),
        np.maximum.reduceat(rr, starts).astype(np.int32),
        np.maximum.reduceat(cc, starts).astype(np.int32),
    )


def label_regions(
    images: DataFrame,
    connectivity: int = 4,
    nodata: int | None = None,
) -> DataFrame:
    """Raster -> vector region extraction (the `gdal_polygonize`
    analog): per frame, every maximal connected run of equal-valued
    pixels becomes one output row with its deterministic region id
    (min linear pixel index), value, pixel count and bbox — the
    polygon-carrier form (exact rectilinear rings are recoverable
    from the labels; the bbox + count is what zonal/dedup/sieve
    pipelines actually consume). ``nodata`` regions are dropped.

    Scale: per-frame independent, one mapInArrow pass, whole-group
    vectorized labeling (see `_label_group`); regions cut by tile
    borders stitch with connected_components on (frame, bbox) rows.
    """
    schema = (
        "image_id string, region long, val long, n_pixels long, "
        "r0 int, c0 int, r1 int, c1 int"
    )

    def op(batches):
        tune_worker()
        for b in batches:
            ids = b.column("image_id")
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                lab = _label_group(pix, connectivity)
                frame, region, val, cnt, r0, c0, r1, c1 = _region_rows(pix, lab)
                if nodata is not None:
                    keep = val != nodata
                    frame, region, val, cnt = frame[keep], region[keep], val[keep], cnt[keep]
                    r0, c0, r1, c1 = r0[keep], c0[keep], r1[keep], c1[keep]
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(idxs[frame])),
                        pa.array(region, pa.int64()),
                        pa.array(val, pa.int64()),
                        pa.array(cnt, pa.int64()),
                        pa.array(r0, pa.int32()),
                        pa.array(c0, pa.int32()),
                        pa.array(r1, pa.int32()),
                        pa.array(c1, pa.int32()),
                    ],
                    ["image_id", "region", "val", "n_pixels", "r0", "c0", "r1", "c1"],
                )

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


def region_borders(
    images: DataFrame,
    connectivity: int = 4,
    nodata: int | None = None,
) -> DataFrame:
    """Per-tile region labels along the four tile EDGES — the stitch
    feed for ``stitch_regions``: one row per border pixel with
    (image_id, side 'L'/'R'/'T'/'B', pos, region, val), where region is
    the same deterministic per-tile label ``label_regions`` emits (min
    linear pixel index) and pos is the row index for L/R, the column
    index for T/B. ``nodata`` border pixels are dropped (they never
    stitch). Output volume is 2*(h+w) rows per tile — the perimeter,
    not the area, so the stitch shuffle moves O(sqrt(pixels))."""
    schema = "image_id string, side string, pos int, region long, val long"

    def op(batches):
        tune_worker()
        for b in batches:
            ids = b.column("image_id")
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                lab = _label_group(pix, connectivity)
                m = pix.shape[0]
                frames, sides, poss, regs, vals = [], [], [], [], []
                for side, lsl, psz in (
                    ("L", (slice(None), slice(None), 0), h),
                    ("R", (slice(None), slice(None), w - 1), h),
                    ("T", (slice(None), 0, slice(None)), w),
                    ("B", (slice(None), h - 1, slice(None)), w),
                ):
                    lg, vg = lab[lsl], pix[lsl]  # (m, psz)
                    fr = np.repeat(np.arange(m, dtype=np.int64), psz)
                    po = np.tile(np.arange(psz, dtype=np.int64), m)
                    rg = lg.reshape(-1)
                    vv = vg.reshape(-1)
                    if nodata is not None:
                        keep = vv != nodata
                        fr, po, rg, vv = fr[keep], po[keep], rg[keep], vv[keep]
                    frames.append(fr)
                    poss.append(po)
                    regs.append(rg)
                    vals.append(vv)
                    sides.append(np.full(fr.size, side, dtype=object))
                fr = np.concatenate(frames)
                if fr.size == 0:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(idxs[fr])),
                        pa.array(np.concatenate(sides)),
                        pa.array(np.concatenate(poss).astype(np.int32)),
                        pa.array(np.concatenate(regs), pa.int64()),
                        pa.array(np.concatenate(vals), pa.int64()),
                    ],
                    ["image_id", "side", "pos", "region", "val"],
                )

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


def _labels_and_borders(
    images: DataFrame,
    connectivity: int = 4,
    nodata: int | None = None,
) -> DataFrame:
    """Fused single-decode pass emitting BOTH ``label_regions`` rows
    (kind='G') and ``region_borders`` rows (kind='L'/'R'/'T'/'B') from
    one decode + one labeling per tile — the stitch_regions feed.
    Decode is the area-proportional dominant cost at scale, and the
    unfused shape paid it twice (label_regions + region_borders each
    decoded every tile independently). Region rows carry
    (n_pixels, r0..c1) with pos NULL; border rows carry pos with the
    region-row fields NULL. Same kernels, same per-kind values as the
    standalone operators, bit for bit."""
    schema = (
        "image_id string, kind string, region long, val long, n_pixels long, "
        "r0 int, c0 int, r1 int, c1 int, pos int"
    )
    names = ["image_id", "kind", "region", "val", "n_pixels", "r0", "c0", "r1", "c1", "pos"]

    def op(batches):
        tune_worker()
        for b in batches:
            ids = b.column("image_id")
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                lab = _label_group(pix, connectivity)
                # region rows (label_regions twin)
                frame, region, val, cnt, r0, c0, r1, c1 = _region_rows(pix, lab)
                if nodata is not None:
                    keep = val != nodata
                    frame, region, val, cnt = frame[keep], region[keep], val[keep], cnt[keep]
                    r0, c0, r1, c1 = r0[keep], c0[keep], r1[keep], c1[keep]
                if frame.size:
                    npos = pa.nulls(frame.size, pa.int32())
                    yield pa.RecordBatch.from_arrays(
                        [
                            ids.take(pa.array(idxs[frame])),
                            pa.array(np.full(frame.size, "G", dtype=object)),
                            pa.array(region, pa.int64()),
                            pa.array(val, pa.int64()),
                            pa.array(cnt, pa.int64()),
                            pa.array(r0, pa.int32()),
                            pa.array(c0, pa.int32()),
                            pa.array(r1, pa.int32()),
                            pa.array(c1, pa.int32()),
                            npos,
                        ],
                        names,
                    )
                # border rows (region_borders twin)
                m = pix.shape[0]
                frames, sides, poss, regs, vals = [], [], [], [], []
                for side, lsl, psz in (
                    ("L", (slice(None), slice(None), 0), h),
                    ("R", (slice(None), slice(None), w - 1), h),
                    ("T", (slice(None), 0, slice(None)), w),
                    ("B", (slice(None), h - 1, slice(None)), w),
                ):
                    lg, vg = lab[lsl], pix[lsl]
                    fr = np.repeat(np.arange(m, dtype=np.int64), psz)
                    po = np.tile(np.arange(psz, dtype=np.int64), m)
                    rg = lg.reshape(-1)
                    vv = vg.reshape(-1)
                    if nodata is not None:
                        keep = vv != nodata
                        fr, po, rg, vv = fr[keep], po[keep], rg[keep], vv[keep]
                    frames.append(fr)
                    poss.append(po)
                    regs.append(rg)
                    vals.append(vv)
                    sides.append(np.full(fr.size, side, dtype=object))
                fr = np.concatenate(frames)
                if fr.size:
                    nn = fr.size
                    yield pa.RecordBatch.from_arrays(
                        [
                            ids.take(pa.array(idxs[fr])),
                            pa.array(np.concatenate(sides)),
                            pa.array(np.concatenate(regs), pa.int64()),
                            pa.array(np.concatenate(vals), pa.int64()),
                            pa.nulls(nn, pa.int64()),
                            pa.nulls(nn, pa.int32()),
                            pa.nulls(nn, pa.int32()),
                            pa.nulls(nn, pa.int32()),
                            pa.nulls(nn, pa.int32()),
                            pa.array(np.concatenate(poss).astype(np.int32)),
                        ],
                        names,
                    )

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


_VID_BITS = 20


def stitch_regions(
    images: DataFrame,
    tile_x: str = "tile_x",
    tile_y: str = "tile_y",
    connectivity: int = 4,
    nodata: int | None = None,
) -> DataFrame:
    """Cross-tile region stitching — the step every tiled
    `gdal_polygonize` needs: per-tile ``label_regions`` labels are
    merged into GLOBAL components wherever equal-valued regions touch
    across a shared tile border (right edge of (x, y) against left
    edge of (x+1, y) at the same row; bottom against top at the same
    column). ``images`` must carry integer tile-grid coordinates in
    ``tile_x``/``tile_y`` (adjacent tiles differ by exactly 1).

    Output: the ``label_regions`` rows plus ``component`` — a global
    long id, deterministically the MINIMUM member vertex id where
    vid = ((tile_y << 20 | tile_x) << 20) + region (fail-loud if any
    tile coord or region exceeds 20 bits, i.e. tiles past 2^20 per
    axis or tiles larger than 2^20 pixels).

    Plan shape at 10^12 pixels: the area-proportional work is ONE
    fused per-tile mapInArrow pass (``_labels_and_borders``: one
    decode + one labeling emits both the region rows and the border
    rows; the pass is cut with an eager localCheckpoint so the label
    leg and the border leg both read the same blocks instead of
    re-decoding, and no cache outlives the call); the stitch itself
    joins only PERIMETER rows (O(sqrt(pixels)) per tile) via two
    equi-joins, then runs connected_components over the resulting
    region-adjacency edge list, whose size is bounded by total border length, not area.
    4-connectivity only (diagonal stitching would need pos+-1
    matches; fail-loud).
    """
    from gfp_gdal_spark.plans.graph import connected_components

    if connectivity != 4:
        raise ValueError("stitch_regions supports connectivity=4 only")
    tiles = images.select(
        F.col("image_id"),
        F.col(tile_x).cast("long").alias("_tx"),
        F.col(tile_y).cast("long").alias("_ty"),
    )
    lim = 1 << _VID_BITS
    # ONE validation action over the metadata columns (note: if the
    # images DataFrame is itself computed — e.g. a stack_bands
    # pipeline — this re-runs that upstream compute once; persist
    # upstream to avoid it): vid packing bounds (region ids are < w*h
    # by construction, so the tile-size bound needs no decode) AND
    # tile-shape uniformity — border pos is a raw row/column index, so
    # mixed tile dimensions would equi-join border pixels at different
    # world positions and mis-stitch silently.
    g = images.agg(
        F.min(F.col(tile_x).cast("long")).alias("tx0"),
        F.max(F.col(tile_x).cast("long")).alias("tx1"),
        F.min(F.col(tile_y).cast("long")).alias("ty0"),
        F.max(F.col(tile_y).cast("long")).alias("ty1"),
        F.max(F.col("w").cast("long") * F.col("h")).alias("pxmax"),
        F.count_distinct(F.struct("w", "h")).alias("ndims"),
    ).first()
    if g["ndims"] and g["ndims"] > 1:
        raise ValueError(
            "stitch_regions requires uniform tile dimensions (border "
            "positions are raw pixel indices); got mixed (w, h)"
        )
    if g["tx0"] is not None and (
        g["tx0"] < 0 or g["tx1"] >= lim or g["ty0"] < 0 or g["ty1"] >= lim
        or g["pxmax"] > lim
    ):
        raise ValueError(
            f"tile coords must be in [0, 2^{_VID_BITS}) and tiles at most "
            f"2^{_VID_BITS} pixels (vid packing bounds)"
        )

    def vid(tx, ty, region):
        return (
            F.shiftleft(F.shiftleft(ty, _VID_BITS) + tx, _VID_BITS) + region
        )

    # ONE decode for both legs: the fused pass (regions + perimeters,
    # O(sqrt(pixels)) per tile, never the raster area) is computed once
    # by an eager localCheckpoint, and the edge/CC leg and the label leg
    # read its blocks, so the unfused shape's second full decode is
    # gone. The blocks live as long as the returned DataFrame, whose
    # plan reads them; the ContextCleaner reclaims them after that, so
    # no persist() is left to release.
    fused = _labels_and_borders(
        images, connectivity=connectivity, nodata=nodata
    ).localCheckpoint(eager=True)
    borders = (
        fused.where(F.col("kind") != "G")
        .select(F.col("kind").alias("side"), "pos", "region", "val", "image_id")
        .join(tiles, "image_id")
        .select(
            "side", "pos", "val",
            F.col("_tx"), F.col("_ty"),
            vid(F.col("_tx"), F.col("_ty"), F.col("region")).alias("_vid"),
        )
    )
    r = borders.where(F.col("side") == "R").select(
        F.col("_tx").alias("_jx"), F.col("_ty").alias("_jy"),
        "pos", "val", F.col("_vid").alias("_va"),
    )
    l = borders.where(F.col("side") == "L").select(
        (F.col("_tx") - 1).alias("_jx"), F.col("_ty").alias("_jy"),
        "pos", "val", F.col("_vid").alias("_vb"),
    )
    b_ = borders.where(F.col("side") == "B").select(
        F.col("_tx").alias("_jx"), F.col("_ty").alias("_jy"),
        "pos", "val", F.col("_vid").alias("_va"),
    )
    t = borders.where(F.col("side") == "T").select(
        F.col("_tx").alias("_jx"), (F.col("_ty") - 1).alias("_jy"),
        "pos", "val", F.col("_vid").alias("_vb"),
    )
    keys = ["_jx", "_jy", "pos", "val"]
    edges = (
        r.join(l, keys)
        .select(F.col("_va").alias("src"), F.col("_vb").alias("dst"))
        .unionByName(
            b_.join(t, keys).select(
                F.col("_va").alias("src"), F.col("_vb").alias("dst")
            )
        )
        .distinct()
    )
    labels = fused.where(F.col("kind") == "G").select(
        "image_id", "region", "val", "n_pixels", "r0", "c0", "r1", "c1"
    )
    labeled = labels.join(tiles, "image_id").withColumn(
        "_vid", vid(F.col("_tx"), F.col("_ty"), F.col("region"))
    )
    comp = connected_components(edges)
    out = labeled.join(
        comp.withColumnRenamed("vertex", "_vid"), "_vid", "left"
    ).select(
        "image_id", "region", "val", "n_pixels", "r0", "c0", "r1", "c1",
        F.coalesce("component", F.col("_vid")).alias("component"),
    )
    return out


def _proximity_group(pix: np.ndarray, mask: np.ndarray):
    """Exact Euclidean distance transform of a (m, h, w) seed mask:
    returns (dist2, near_r, near_c) int64/int32 tensors; seedless
    frames get the (-1, -1, -1) sentinel. Two-pass separable form:

    1. per column, the nearest seed ROW via one forward + one backward
       running scan (h steps of (m, w) vector ops; |dr| ties keep the
       smaller row);
    2. per target column j, dist2 = min_k (dr(i,k)^2 + (j-k)^2) — the
       classic row/column decomposition of the exact EDT, w steps of
       (m, h, w) vector ops, exact int64 arithmetic throughout.

    Ties break lexicographically on (dist2, near_r, near_c): pass 1's
    (|dr|, row) winner IS the per-column (dist2, near_r) winner, and
    pass 2 compares (dist2, near_r) keeping the earliest column.
    """
    m, h, w = mask.shape
    nr_f = np.full((m, h, w), -1, np.int64)
    nr_b = np.full((m, h, w), -1, np.int64)
    cur = np.full((m, w), -1, np.int64)
    for i in range(h):
        cur = np.where(mask[:, i, :], i, cur)
        nr_f[:, i, :] = cur
    cur = np.full((m, w), -1, np.int64)
    for i in range(h - 1, -1, -1):
        cur = np.where(mask[:, i, :], i, cur)
        nr_b[:, i, :] = cur
    ii = np.arange(h, dtype=np.int64).reshape(1, h, 1)
    df = np.where(nr_f >= 0, ii - nr_f, _BIG)
    db = np.where(nr_b >= 0, nr_b - ii, _BIG)
    nr = np.where(df <= db, nr_f, nr_b)  # tie -> forward = smaller row
    dr = np.minimum(df, db)
    dcol2 = np.where(nr >= 0, dr * dr, _BIG)

    jj = np.arange(w, dtype=np.int64)
    d2 = np.full((m, h, w), _BIG, np.int64)
    nrb = np.full((m, h, w), -1, np.int64)
    ncb = np.full((m, h, w), -1, np.int64)
    for k in range(w):
        cand = dcol2[:, :, k : k + 1] + (jj - k) ** 2
        rk = np.broadcast_to(nr[:, :, k : k + 1], (m, h, w))
        better = (cand < d2) | ((cand == d2) & (rk < nrb))
        d2 = np.where(better, cand, d2)
        nrb = np.where(better, rk, nrb)
        ncb = np.where(better, k, ncb)
    none = d2 >= _BIG
    d2 = np.where(none, -1, d2)
    nrb = np.where(none, -1, nrb)
    ncb = np.where(none, -1, ncb)
    return d2, nrb.astype(np.int32), ncb.astype(np.int32)


def proximity_raster(
    images: DataFrame,
    targets: int | list[int],
) -> DataFrame:
    """Distance-to-target raster (the `gdal_proximity` analog): per
    frame, for EVERY pixel, the exact squared Euclidean distance to
    the nearest pixel whose value is in ``targets``, plus that
    nearest pixel's coordinates — all exact integers, so buffers /
    masks / nearest-feature fills derive downstream in pure SQL
    (`fill = join the value at (near_r, near_c)`; `within d` =
    `dist2 <= d*d`). Frames with no target pixel emit the
    (-1, -1, -1) sentinel. Determinism: see `_proximity_group`.

    Scale: per-frame independent mapInArrow (no shuffle); output is
    the pixel-table form the map_algebra operators consume.
    """
    tset = [targets] if isinstance(targets, int) else list(targets)
    schema = (
        "image_id string, r int, c int, dist2 long, near_r int, near_c int"
    )

    def op(batches):
        tune_worker()
        for b in batches:
            ids = b.column("image_id")
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                mask = np.isin(pix, tset)
                d2, nr, nc = _proximity_group(pix, mask)
                m = len(idxs)
                fid = np.repeat(np.arange(m), h * w)
                rr = np.broadcast_to(
                    np.arange(h, dtype=np.int32).reshape(1, h, 1), (m, h, w)
                ).reshape(-1)
                cc = np.broadcast_to(
                    np.arange(w, dtype=np.int32).reshape(1, 1, w), (m, h, w)
                ).reshape(-1)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(idxs[fid])),
                        pa.array(rr, pa.int32()),
                        pa.array(cc, pa.int32()),
                        pa.array(d2.reshape(-1), pa.int64()),
                        pa.array(nr.reshape(-1), pa.int32()),
                        pa.array(nc.reshape(-1), pa.int32()),
                    ],
                    ["image_id", "r", "c", "dist2", "near_r", "near_c"],
                )

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


# marching-squares case table: corners TL,TR,BR,BL -> case bit 8,4,2,1;
# edges 0=top 1=right 2=bottom 3=left; saddles (5, 10) resolved below.
_MS_SEGS: dict[int, list[tuple[int, int]]] = {
    1: [(3, 2)], 2: [(2, 1)], 3: [(3, 1)], 4: [(0, 1)],
    6: [(0, 2)], 7: [(0, 3)], 8: [(0, 3)], 9: [(0, 2)],
    11: [(0, 1)], 12: [(3, 1)], 13: [(2, 1)], 14: [(3, 2)],
}
_MS_SADDLE = {  # case -> (segments if center >= level, segments otherwise)
    5: ([(0, 3), (1, 2)], [(0, 1), (3, 2)]),
    10: ([(0, 1), (3, 2)], [(0, 3), (1, 2)]),
}


def _contour_group(pix: np.ndarray, level: float):
    """Marching squares over a (m, h, w) tensor at one level: grid
    nodes are pixel centers (x=col, y=row); a node is inside iff
    value >= level; crossing points linearly interpolated. Returns
    (frame_idx, x0, y0, x1, y1) arrays. Segment ORIENTATION is
    unspecified (standard for contour extraction; consumers sort)."""
    v = float(level)
    p = pix.astype(np.float64)
    a = p[:, :-1, :-1]  # TL
    b = p[:, :-1, 1:]   # TR
    c_ = p[:, 1:, 1:]   # BR
    d = p[:, 1:, :-1]   # BL
    case = (
        (a >= v).astype(np.uint8) * 8
        + (b >= v).astype(np.uint8) * 4
        + (c_ >= v).astype(np.uint8) * 2
        + (d >= v).astype(np.uint8)
    )
    m, hh, ww = case.shape
    rr = np.broadcast_to(np.arange(hh).reshape(1, hh, 1), case.shape)
    cc = np.broadcast_to(np.arange(ww).reshape(1, 1, ww), case.shape)

    def _t(p0, p1):
        den = p1 - p0
        den = np.where(den == 0.0, 1.0, den)
        return (v - p0) / den

    # edge -> (x, y) interp arrays, computed lazily per needed cells
    def _pt(edge, sel):
        r, c, fa, fb, fc, fd = rr[sel], cc[sel], a[sel], b[sel], c_[sel], d[sel]
        if edge == 0:
            return c + _t(fa, fb), r.astype(np.float64)
        if edge == 1:
            return (c + 1).astype(np.float64), r + _t(fb, fc)
        if edge == 2:
            return c + _t(fd, fc), (r + 1).astype(np.float64)
        return c.astype(np.float64), r + _t(fa, fd)

    out_f, out = [], []
    fidx = np.broadcast_to(np.arange(m).reshape(m, 1, 1), case.shape)
    for cs, segs in _MS_SEGS.items():
        sel = case == cs
        if not sel.any():
            continue
        for e0, e1 in segs:
            x0, y0 = _pt(e0, sel)
            x1, y1 = _pt(e1, sel)
            out_f.append(fidx[sel])
            out.append((x0, y0, x1, y1))
    for cs, (hi, lo) in _MS_SADDLE.items():
        base = case == cs
        if not base.any():
            continue
        center = (a + b + c_ + d) * 0.25 >= v
        for segs, sel in ((hi, base & center), (lo, base & ~center)):
            if not sel.any():
                continue
            for e0, e1 in segs:
                x0, y0 = _pt(e0, sel)
                x1, y1 = _pt(e1, sel)
                out_f.append(fidx[sel])
                out.append((x0, y0, x1, y1))
    if not out:
        z = np.zeros(0)
        return np.zeros(0, np.int64), z, z, z, z
    return (
        np.concatenate(out_f),
        np.concatenate([o[0] for o in out]),
        np.concatenate([o[1] for o in out]),
        np.concatenate([o[2] for o in out]),
        np.concatenate([o[3] for o in out]),
    )


def contour_segments(
    images: DataFrame,
    levels: list[float],
) -> DataFrame:
    """Iso-contour extraction (the `gdal_contour` analog): marching
    squares per frame at each requested level, emitting one row per
    line segment in pixel coordinates (grid nodes at pixel centers,
    x=col, y=row, linear interpolation along crossed edges; saddle
    cells resolved by the 4-corner mean — the standard disambiguation).
    Joining segments into polylines is ``merge_lines``'s job; this
    emits the segment soup that feeds it.

    Scale: per-frame independent mapInArrow; one vectorized
    case-classification + fancy-gather per (group, level), no
    per-cell Python.
    """
    lv = [float(x) for x in levels]
    schema = (
        "image_id string, level double, x0 double, y0 double, "
        "x1 double, y1 double"
    )

    def op(batches):
        tune_worker()
        for b in batches:
            ids = b.column("image_id")
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                for v in lv:
                    fidx, x0, y0, x1, y1 = _contour_group(pix, v)
                    if fidx.size == 0:
                        continue
                    yield pa.RecordBatch.from_arrays(
                        [
                            ids.take(pa.array(idxs[fidx])),
                            pa.array(np.full(fidx.size, v), pa.float64()),
                            pa.array(x0, pa.float64()),
                            pa.array(y0, pa.float64()),
                            pa.array(x1, pa.float64()),
                            pa.array(y1, pa.float64()),
                        ],
                        ["image_id", "level", "x0", "y0", "x1", "y1"],
                    )

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


def sieve_filter(
    images: DataFrame,
    min_pixels: int,
    connectivity: int = 4,
) -> DataFrame:
    """Small-region removal (the `gdal_sieve` analog): per frame,
    every connected region smaller than ``min_pixels`` is repainted
    with the value of its LARGEST adjacent region (pixel count; ties
    -> smaller region id), in ONE pass over the ORIGINAL labeling —
    the documented deterministic variant of GDAL's size-ordered merge
    (a small region whose chosen neighbor is itself small takes that
    neighbor's original value; isolated small frames with no neighbor
    keep theirs). Returns the input schema with repainted ``bytes``.

    Scale: per-frame independent mapInArrow; labeling + adjacency +
    repaint are whole-group vectorized (adjacency from the 2/4
    neighbor-shift label pairs, winner via one lexicographic sort +
    reduceat — no per-region Python).
    """
    if min_pixels < 1:
        raise ValueError("min_pixels must be >= 1")
    schema = "image_id string, w int, h int, bytes binary, fmt string"

    def op(batches):
        tune_worker()
        for b in batches:
            parts = []
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                lab = _label_group(pix, connectivity)
                m = pix.shape[0]
                hw = h * w
                glab = lab + (np.arange(m, dtype=np.int64) * hw).reshape(m, 1, 1)
                sizes = np.bincount(glab.reshape(-1), minlength=m * hw)
                # adjacency pairs across the 4-neighborhood (8-conn
                # merging still uses edge adjacency, as GDAL does)
                pa_, pb_ = [], []
                for axa, axb in (
                    ((slice(None), slice(1, None), slice(None)), (slice(None), slice(None, -1), slice(None))),
                    ((slice(None), slice(None), slice(1, None)), (slice(None), slice(None), slice(None, -1))),
                ):
                    la, lb_ = glab[axa].reshape(-1), glab[axb].reshape(-1)
                    dif = la != lb_
                    pa_ += [la[dif], lb_[dif]]
                    pb_ += [lb_[dif], la[dif]]
                remap = np.arange(m * hw, dtype=np.int64)
                src = np.concatenate(pa_) if pa_ else np.zeros(0, np.int64)
                nbr = np.concatenate(pb_) if pb_ else np.zeros(0, np.int64)
                if src.size:
                    # winner per src: max neighbor size, tie -> min id
                    order = np.lexsort((nbr, -sizes[nbr], src))
                    src_s, nbr_s = src[order], nbr[order]
                    first = np.flatnonzero(np.r_[True, src_s[1:] != src_s[:-1]])
                    small = sizes[src_s[first]] < min_pixels
                    remap[src_s[first[small]]] = nbr_s[first[small]]
                vals = pix.reshape(-1)[remap[glab.reshape(-1)]]
                parts.append((idxs, f, vals.reshape(m, h, w)))
            yield _gray_batch(b, parts)

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


def fill_nodata(
    images: DataFrame,
    nodata: int = 0,
) -> DataFrame:
    """Nodata infill (the `gdal_fillnodata` analog, nearest-value
    variant): every ``nodata`` pixel takes the value of its NEAREST
    valid pixel — exact Euclidean metric, ties lexicographic on
    (dist2, r, c) like ``proximity_raster`` (whose EDT kernel this
    reuses with the valid pixels as seeds). Frames that are entirely
    nodata pass through unchanged (no seed to fill from — documented,
    not an error: empty tiles are normal in a sparse mosaic).

    Scale: per-frame independent mapInArrow, whole-group vectorized;
    the gather of fill values is one fancy-index per group.
    """
    schema = "image_id string, w int, h int, bytes binary, fmt string"

    def op(batches):
        tune_worker()
        for b in batches:
            parts = []
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                mask = pix != nodata
                _, nr, nc = _proximity_group(pix, mask)
                m = pix.shape[0]
                fgrid = np.broadcast_to(
                    np.arange(m).reshape(m, 1, 1), (m, h, w)
                )
                valid = nr >= 0
                filled = np.where(
                    valid,
                    pix[fgrid, np.where(valid, nr, 0), np.where(valid, nc, 0)],
                    pix,
                )
                parts.append((idxs, f, filled))
            yield _gray_batch(b, parts)

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)


def _viewshed_sweep(Zv: np.ndarray, auxv: np.ndarray, r0: int, c0: int) -> None:
    """One EAST-quadrant Wang propagation (|dr| <= dc, diagonals
    included) over (m, H, W) views, writing the required-LOS-height
    surface into ``auxv`` in place. The four quadrants are this same
    routine on flipped/transposed views; both quadrants adjacent to a
    diagonal recompute the diagonal chain with the identical op
    sequence (wA = 1 exactly), so their overlapping writes coincide
    bitwise.

    Heights are relative to the eye (Z = z - z_eye). For a cell at
    offset (dr, d), d >= 2, the ray from the observer crosses column
    d-1 between the inner neighbor A = (sign(dr)*(|dr|-1), d-1) and
    the aligned neighbor B = (dr, d-1) with weights |dr|/d and
    1-|dr|/d; the effective blocking height there (max of terrain and
    its own required height) prorates by d/(d-1) along the ray. Ring
    d=1 sees no intervening terrain: aux = -inf, always visible.
    """
    m, H, W = Zv.shape
    Eprev: np.ndarray | None = None
    for d in range(1, W - c0):
        c = c0 + d
        lo = max(r0 - d, 0)
        hi = min(r0 + d, H - 1)
        rows = np.arange(lo, hi + 1)
        if d == 1:
            a = np.full((m, rows.size), -np.inf)
        else:
            dr = rows - r0
            absdr = np.abs(dr)
            rA = r0 + np.sign(dr) * (absdr - 1)
            wA = absdr / float(d)
            wB = 1.0 - wA
            EA = Eprev[:, rA]
            # |dr| == d rows have wB == 0.0 exactly and an uncomputed
            # (NaN) B slot in Eprev — mask BEFORE multiplying
            EB = np.where(wB > 0.0, Eprev[:, rows], 0.0)
            a = (wA * EA + wB * EB) * (d / (d - 1.0))
        auxv[:, lo : hi + 1, c] = a
        Ecur = np.full((m, H), np.nan)
        Ecur[:, lo : hi + 1] = np.maximum(Zv[:, lo : hi + 1, c], a)
        Eprev = Ecur


def _viewshed_group(
    pix: np.ndarray,
    r0: int,
    c0: int,
    observer_height: float,
    target_height: float,
) -> tuple[np.ndarray, np.ndarray]:
    """(visible bool, Z float) tensors for a uniform (m, h, w) group:
    Wang, Robinson & White (2000) reference-plane viewshed (the
    algorithm `gdal_viewshed` implements), whole-group vectorized —
    the ring loop is h+w-2 steps of (m, ring) vector ops, O(m*h*w)
    total, no per-frame Python."""
    m, h, w = pix.shape
    z_eye = pix[:, r0, c0].astype(np.float64) + observer_height
    Z = pix.astype(np.float64) - z_eye[:, None, None]
    aux = np.full((m, h, w), np.nan)
    aux[:, r0, c0] = -np.inf
    _viewshed_sweep(Z, aux, r0, c0)  # east
    _viewshed_sweep(Z[:, :, ::-1], aux[:, :, ::-1], r0, w - 1 - c0)  # west
    Zt, auxt = Z.swapaxes(1, 2), aux.swapaxes(1, 2)
    _viewshed_sweep(Zt, auxt, c0, r0)  # south
    _viewshed_sweep(Zt[:, :, ::-1], auxt[:, :, ::-1], c0, h - 1 - r0)  # north
    return (Z + target_height) >= aux, Z


def viewshed(
    images: DataFrame,
    observer_r: int,
    observer_c: int,
    observer_height: float = 2.0,
    target_height: float = 0.0,
) -> DataFrame:
    """Line-of-sight visibility raster (the `gdal_viewshed` analog,
    completing the gdaldem/terrain suite): per frame, every pixel is
    flagged visible iff the sight line from an observer standing
    ``observer_height`` above the terrain at pixel (observer_r,
    observer_c) clears the Wang-interpolated intervening terrain
    (``target_height`` is added at the target, gdal_viewshed's -tz).
    Emits one row per pixel: (image_id, r, c, z, visible) — z is the
    terrain value, so coverage/masking aggregates derive downstream in
    pure SQL. The observer's own pixel and its 8 neighbors are always
    visible (no intervening cell).

    Observer coordinates are frame coordinates shared by every row
    (tower placement on gridded DEM tiles); frames whose (w, h) do not
    contain the observer fail loud (K9 input gating) rather than
    silently clamping. 1-row frames reduce to the exact 1-D
    running-max-slope LOS — the driver oracle replays that closed
    form; 2-D semantics are pinned by the scalar-reference parity and
    wall/flat property tests in tests/test_round5.py.

    Scale: per-frame independent mapInArrow (no shuffle), whole-group
    vectorized ring propagation (see `_viewshed_group`); cross-tile
    viewsheds compose by mosaicking tiles around the observer first
    (`mosaic_composite`), as with any finite-support focal operator.
    """
    if observer_r < 0 or observer_c < 0:
        raise ValueError(
            f"observer must be non-negative, got ({observer_r}, {observer_c})"
        )
    schema = "image_id string, r int, c int, z long, visible boolean"

    def op(batches):
        tune_worker()
        for b in batches:
            ids = b.column("image_id")
            for f, w, h, idxs, pix in _codec.image_groups(b):
                if observer_r >= h or observer_c >= w:
                    raise ValueError(
                        f"observer ({observer_r}, {observer_c}) outside "
                        f"{h}x{w} frame (K9: no silent clamping)"
                    )
                pix = _gray_group(pix)
                vis, _ = _viewshed_group(
                    pix, observer_r, observer_c, observer_height, target_height
                )
                m = len(idxs)
                fid = np.repeat(np.arange(m), h * w)
                rr = np.broadcast_to(
                    np.arange(h, dtype=np.int32).reshape(1, h, 1), (m, h, w)
                ).reshape(-1)
                cc = np.broadcast_to(
                    np.arange(w, dtype=np.int32).reshape(1, 1, w), (m, h, w)
                ).reshape(-1)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(idxs[fid])),
                        pa.array(rr, pa.int32()),
                        pa.array(cc, pa.int32()),
                        pa.array(pix.reshape(-1), pa.int64()),
                        pa.array(vis.reshape(-1), pa.bool_()),
                    ],
                    ["image_id", "r", "c", "z", "visible"],
                )

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)
