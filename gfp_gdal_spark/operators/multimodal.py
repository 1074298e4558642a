"""Multimodal (image bytes) operators over the input_hint table.

The raster boundary of the reference (GDALReader band->float32 buffer,
gdal_nodes.cpp:396-403; GDALWriter re-encode, :296-341) becomes: a
binary `bytes` column read per Arrow batch inside mapInArrow through
the one image-batch reader (`kernels.codec.image_groups`: whole-group
decode per uniform (fmt, w, h)), numpy transforms, whole-group
re-encode; pass-through columns stay the batch's own Arrow arrays.
The image libraries that aren't in this container (JPEG etc.) are
stubbed behind NotImplementedError with the Spark-side plumbing
(schema, batching, partitioning) real and tested.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gfp_gdal_spark.kernels import codec as _codec

__all__ = [
    "augment_images",
    "image_histogram",
    "equalize_images",
    "image_stats",
    "reencode_images",
    "resize_images",
    "crop_images",
    "rescale_images",
    "image_ahash",
    "decode_ahash_stage",
    "decode_frame_sample",
    "verify_pairs",
]

_PNM_FMTS = ("ppm", "pgm")


def _replace(b: pa.RecordBatch, **cols) -> pa.RecordBatch:
    """``b`` with the named columns replaced — by an Arrow array, or by
    one value for every row — cast to ``b``'s own field types; every
    other column passes through as ``b``'s own array."""

    def col(f):
        v = cols.get(f.name)
        if v is None:
            return b.column(f.name)
        if not isinstance(v, pa.Array):
            v = pa.repeat(pa.scalar(v), b.num_rows)
        return v.cast(f.type)

    return pa.RecordBatch.from_arrays([col(f) for f in b.schema], names=b.schema.names)


def _ahash_arrow_op(meta_cols: list[str]):
    """mapInArrow op: per batch, group rows by ``codec.image_keys`` and
    compute the ahash for each group straight off the Arrow buffers
    (kernels/codec.ahash_group_from_buffers) — the batched scale path
    for the zlib formats."""

    def op(batches):
        from gfp_gdal_spark.functions.worker_tuning import tune_worker

        tune_worker()
        for b in batches:
            starts, ends, data = _codec.binary_buffers(b.column("bytes"))
            out = np.zeros(b.num_rows, dtype=np.int64)
            for fmt, w, h, rows in _codec.image_keys(b):
                out[rows] = _codec.ahash_group_from_buffers(
                    data, starts[rows], ends[rows], fmt, w, h
                )
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in meta_cols] + [pa.array(out)],
                names=meta_cols + ["ahash"],
            )

    return op

_STATS_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, "
    "mean_r double, mean_g double, mean_b double, px_min int, px_max int, psnr_roundtrip double"
)


def image_stats(images: DataFrame) -> DataFrame:
    """Decode every image, emit per-image pixel stats + round-trip PSNR
    (decode -> re-encode -> decode). The engine analog of GDALReader's
    band min/max report (gdal_nodes.cpp:385-389), plus the
    PSNR>=40dB invariant of BASELINE.json input_hint."""
    keep = ["image_id", "w", "h", "fmt", "caption"]

    def op(batches):
        for b in batches:
            n = b.num_rows
            means = np.zeros((n, 3))
            px_min, px_max = np.zeros(n, np.int32), np.zeros(n, np.int32)
            ps = np.zeros(n)
            # stats are vectorized reductions over each group tensor
            # (reduction order per image matches the per-image path
            # bitwise — numpy flattens the reduced axes in C order);
            # gray frames report their one band as r = g = b
            for fmt, w, h, idx, pix in _codec.image_groups(b):
                ng = pix.shape[0]
                means[idx] = pix.astype(np.float64).mean(axis=(1, 2)).reshape(ng, -1)
                flat = pix.reshape(ng, -1)
                px_min[idx] = flat.min(axis=1)
                px_max[idx] = flat.max(axis=1)
                rt = _codec.decode_group(_codec.encode_group(pix, fmt), fmt, w, h)
                mse = ((pix.astype(np.float64) - rt.astype(np.float64)) ** 2).reshape(
                    ng, -1
                ).mean(axis=1)
                with np.errstate(divide="ignore"):
                    ps[idx] = np.minimum(10.0 * np.log10(255.0**2 / mse), 999.0)
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in keep]
                + [pa.array(means[:, k]) for k in range(3)]
                + [pa.array(px_min), pa.array(px_max), pa.array(ps)],
                names=keep + [
                    "mean_r", "mean_g", "mean_b", "px_min", "px_max", "psnr_roundtrip"
                ],
            )

    return images.select(*keep, "bytes").mapInArrow(op, _STATS_SCHEMA)


def reencode_images(images: DataFrame, to_fmt: str) -> DataFrame:
    """Transcode bytes to ``to_fmt`` (GDALWriter analog): decode with
    the row's fmt, encode with the target, preserving metadata."""

    def op(batches):
        for b in batches:
            parts = [
                (idx, _codec.encode_group(pix, to_fmt))
                for _, _, _, idx, pix in _codec.image_groups(b)
            ]
            yield _replace(b, bytes=_codec.blobs_by_row(parts), fmt=to_fmt)

    return images.mapInArrow(op, images.schema)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (pure numpy index sampling) + re-encode.
    Lossless formats stay pixel-exact under identity resize."""

    def op(batches):
        for b in batches:
            parts = []
            for fmt, w, h, idx, pix in _codec.image_groups(b):
                yi = np.minimum((np.arange(out_h) * h // out_h), h - 1)
                xi = np.minimum((np.arange(out_w) * w // out_w), w - 1)
                res = pix[:, yi][:, :, xi]  # (ng, out_h, out_w[, 3])
                parts.append((idx, _codec.encode_group(res, fmt)))
            yield _replace(b, bytes=_codec.blobs_by_row(parts), w=out_w, h=out_h)

    return images.mapInArrow(op, images.schema)


def crop_images(
    images: DataFrame, r0: int, c0: int, out_h: int, out_w: int
) -> DataFrame:
    """Pixel-window crop (the `gdal_translate -srcwin c0 r0 w h`
    analog): every image keeps the [r0:r0+out_h, c0:c0+out_w] window
    and re-encodes. Windows that do not fit an image fail loud (K9
    input gating) — they do not clamp. Footprint georeferencing, when
    carried, must be re-derived by the caller from the window (the
    geotransform shift is a pure column expression).

    Scale: whole-batch decode_group + ONE numpy slice view +
    encode_group per uniform (fmt, w, h) group — shuffle-free, no
    per-image Python."""
    if min(r0, c0) < 0 or min(out_h, out_w) <= 0:
        raise ValueError(f"bad crop window: r0={r0} c0={c0} {out_h}x{out_w}")

    def op(batches):
        for b in batches:
            parts = []
            for fmt, w, h, idx, pix in _codec.image_groups(b):
                if r0 + out_h > h or c0 + out_w > w:
                    raise ValueError(
                        f"crop window {out_h}x{out_w}@({r0},{c0}) exceeds "
                        f"{h}x{w} image"
                    )
                res = pix[:, r0 : r0 + out_h, c0 : c0 + out_w]
                parts.append((idx, _codec.encode_group(np.ascontiguousarray(res), fmt)))
            yield _replace(b, bytes=_codec.blobs_by_row(parts), w=out_w, h=out_h)

    return images.mapInArrow(op, images.schema)


def rescale_images(
    images: DataFrame,
    src_min: int | None = None,
    src_max: int | None = None,
    dst_min: int = 0,
    dst_max: int = 255,
) -> DataFrame:
    """Linear pixel stretch (the `gdal_translate -scale [src_min
    src_max [dst_min dst_max]]` analog): v maps to dst_min +
    (v - src_min) * (dst_max - dst_min) / (src_max - src_min), inputs
    clamped to the source interval first (GDAL's clamp), computed in
    EXACT integer arithmetic with round-half-up —
    ((v - smin) * (dmax - dmin) * 2 + span) // (2 * span) + dmin —
    so the output is bit-identical across engines and partitionings
    (no float rounding drift; the equalize_images contract).

    ``src_min``/``src_max`` = None uses each FRAME's own min/max
    (gdal_translate's argument-less -scale); constant frames (span 0)
    map to ``dst_min``, documented rather than NaN. dst bounds must
    satisfy 0 <= dst_min <= dst_max <= 255 (uint8 sink).

    Scale: whole-batch decode_group -> one vectorized remap ->
    encode_group per uniform (fmt, w, h) group; shuffle-free, no
    per-image Python. Per-frame bounds are whole-group axis
    reductions, not per-image loops.
    """
    if not 0 <= dst_min <= dst_max <= 255:
        raise ValueError(f"bad dst range [{dst_min}, {dst_max}]")
    if (src_min is None) != (src_max is None):
        raise ValueError("src_min and src_max must be set together")
    if src_min is not None and src_min > src_max:
        raise ValueError(f"src_min {src_min} > src_max {src_max}")
    ddelta = dst_max - dst_min

    def op(batches):
        for b in batches:
            parts = []
            for fmt, w, h, idx, pix in _codec.image_groups(b):
                p = pix.astype(np.int64)
                red = tuple(range(1, p.ndim))  # all axes but the frame
                if src_min is None:
                    smin = p.min(axis=red, keepdims=True)
                    smax = p.max(axis=red, keepdims=True)
                else:
                    smin = np.full((len(idx),) + (1,) * (p.ndim - 1), src_min, np.int64)
                    smax = np.full_like(smin, src_max)
                span = smax - smin
                v = np.clip(p, smin, smax)
                safe = np.where(span > 0, span, 1)  # both where-branches evaluate
                out = np.where(
                    span > 0,
                    (2 * (v - smin) * ddelta + safe) // (2 * safe) + dst_min,
                    dst_min,
                ).astype(np.uint8)
                parts.append((idx, _codec.encode_group(out, fmt)))
            yield _replace(b, bytes=_codec.blobs_by_row(parts))

    return images.mapInArrow(op, images.schema)


def _ahash_python(images: DataFrame) -> DataFrame:
    """Batched ahash over Arrow buffers (png/qnt scale path)."""
    return images.select("image_id", "bytes", "fmt", "w", "h").mapInArrow(
        _ahash_arrow_op(["image_id"]), "image_id string, ahash long"
    )


def image_ahash(images: DataFrame, jvm_pnm: bool = True) -> DataFrame:
    """64-bit average-hash (8x8 mean threshold) per image — a real,
    deterministic perceptual hash computed from pixels (vs the table's
    synthetic `phash` fixture column).

    Scale path: binary-PNM rows (fixed layout) are hashed by a pure
    Column expression reading only the 64 sampled pixels off the scan
    (functions/imagecol.py — zero Python nodes); compressed formats
    take the grouped-batch decode. The two branches scan the source
    twice with disjoint pushed fmt-filters; both are columnar scans so
    the extra pass is metadata-cheap next to decode."""
    from gfp_gdal_spark.functions import imagecol as IC

    if not jvm_pnm:
        return _ahash_python(images)
    is_pnm = F.col("fmt").isin(*_PNM_FMTS)
    out_rest = _ahash_python(images.where(~is_pnm))
    pnm = images.where(is_pnm)
    out_pnm = (
        IC.with_ahash_pnm(pnm.where(F.col("fmt") == "ppm"), channels=3)
        .select("image_id", "ahash")
        .unionByName(
            IC.with_ahash_pnm(pnm.where(F.col("fmt") == "pgm"), channels=1).select(
                "image_id", "ahash"
            )
        )
    )
    return out_pnm.unionByName(out_rest)


def decode_ahash_stage(images: DataFrame, jvm_pnm: bool = True) -> DataFrame:
    """The north_star ingest boundary: every image's bytes ->
    perceptual ahash, carrying (image_id, w, h, phash) for footprint
    derivation downstream. Same fmt dispatch as image_ahash: JVM
    column path for binary PNM, grouped-batch Python for zlib formats.
    Used by bench.py / tools/bench_scaling.py as the decode stage of
    the flagship pipeline."""
    keep = ["image_id", "w", "h", "phash"]
    schema = "image_id string, w int, h int, phash long, ahash long"
    op = _ahash_arrow_op(keep)

    from gfp_gdal_spark.functions import imagecol as IC

    cols = ["image_id", "w", "h", "phash", "bytes", "fmt"]
    src = images.select(*cols)
    if not jvm_pnm:
        return src.mapInArrow(op, schema)
    is_pnm = F.col("fmt").isin(*_PNM_FMTS)
    rest = src.where(~is_pnm).mapInArrow(op, schema)
    pnm = src.where(is_pnm)
    out_pnm = (
        IC.with_ahash_pnm(pnm.where(F.col("fmt") == "ppm"), channels=3)
        .select(*keep, "ahash")
        .unionByName(
            IC.with_ahash_pnm(pnm.where(F.col("fmt") == "pgm"), channels=1).select(
                *keep, "ahash"
            )
        )
    )
    return out_pnm.unionByName(rest)


def decode_frame_sample(
    videos: DataFrame, every_nth: int = 30, decode_fn=None
) -> DataFrame:
    """Video frame sampling: binary column in -> one row per sampled
    frame out (video_id, frame_idx, frame_bytes).

    The container has no video codec library, so the DECODER is
    injectable: ``decode_fn(blob: bytes) -> iterable[bytes]`` yields
    raw frames; every ``every_nth``-th one is emitted. The default
    decoder raises NotImplementedError (honest stub) — the Spark-side
    plumbing (schema, mapInPandas batching, frame fan-out) is real and
    tested with a deterministic fake decoder; on a cluster with a
    codec, pass e.g. a PyAV-based generator."""
    schema = "video_id string, frame_idx int, frame_bytes binary"

    def _no_codec(blob: bytes):
        raise NotImplementedError(
            "video decode requires an external codec library (not in sandbox); "
            "pass decode_fn(bytes)->iterable[frame_bytes]"
        )

    fn = decode_fn or _no_codec

    def op(batches):
        for pdf in batches:
            vids, idxs, frames = [], [], []
            for vid, blob in zip(pdf["video_id"], pdf["bytes"]):
                for i, frame in enumerate(fn(bytes(blob))):
                    if i % every_nth == 0:
                        vids.append(vid)
                        idxs.append(i)
                        frames.append(frame)
            yield pd.DataFrame(
                {"video_id": vids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_bytes": frames}
            )

    return videos.mapInPandas(op, schema)


_VERIFY_SCHEMA = (
    "image_id string, shape_match boolean, caption_match boolean, "
    "n_values long, sq_err long, psnr_ok boolean, pixel_exact boolean"
)


def verify_pairs(cand: DataFrame, ref: DataFrame, psnr_db: float = 40.0) -> DataFrame:
    """The north_rule's per-row verification invariant as a first-class
    operator: compare a CANDIDATE image table against a REFERENCE table
    row-by-row — decoded-pixel PSNR >= ``psnr_db`` (the BASELINE.json
    "decoded-pixel allclose, PSNR>=40dB for lossy formats" gate) plus
    caption equality. This is the tool a user runs to certify a
    re-encoded / transcoded / migrated corpus against the original
    pipeline's output (the reference's golden-fixture check,
    gdal_nodes.cpp:296-341 re-encode leg).

    Per matched image_id emits: shape_match (w/h equal), caption_match,
    n_values (pixel-channel count compared), sq_err (EXACT int64 sum of
    squared channel differences), psnr_ok, pixel_exact (sq_err == 0).
    The PSNR gate is evaluated without computing a log: PSNR >= T
    <=> sq_err * 10^(T/10) <= 255^2 * n_values — for integral
    10^(T/10) (every multiple-of-10 dB threshold, incl. the default
    40) both sides are exact int64, so the verdict is bit-reproducible
    across engines. Shape-mismatched pairs skip decode and report
    psnr_ok = false. Gray-vs-color pairs compare in 3-channel space
    (gray broadcast, the GDAL band-expansion convention).

    Scale: ONE image_id equi-join (AQE-broadcast when one side is
    small) then shuffle-free whole-batch decode per uniform
    (fmt_a, fmt_b, w, h) group — no per-image Python."""
    a = cand.select(
        "image_id",
        F.col("bytes").alias("bytes_a"),
        F.col("fmt").alias("fmt_a"),
        F.col("w").alias("w_a"),
        F.col("h").alias("h_a"),
        F.col("caption").alias("caption_a"),
    )
    b = ref.select(
        "image_id",
        F.col("bytes").alias("bytes_b"),
        F.col("fmt").alias("fmt_b"),
        F.col("w").alias("w_b"),
        F.col("h").alias("h_b"),
        F.col("caption").alias("caption_b"),
    )
    factor = 10.0 ** (psnr_db / 10.0)
    int_gate = float(factor).is_integer()
    ifactor = int(factor) if int_gate else 0

    def op(batches):
        for t in batches:
            n = t.num_rows
            wa, ha, wb, hb = (
                t.column(c).to_numpy(zero_copy_only=False) for c in ("w_a", "h_a", "w_b", "h_b")
            )
            sm = (wa == wb) & (ha == hb)
            sq = np.zeros(n, np.int64)
            nv = np.zeros(n, np.int64)
            pos = np.flatnonzero(sm)
            keys = ("fmt_a", "fmt_b", "w_a", "h_a")
            matched = pa.RecordBatch.from_arrays(
                [t.column(k).take(pa.array(pos)) for k in keys], names=list(keys)
            )
            for (fa, fb, w, h), idx in _codec.shape_groups(matched, keys):
                rows = pos[idx]
                da, db = (
                    _codec.decode_group(_codec.blob_views(t.column(c), c, rows), f, w, h)
                    for c, f in (("bytes_a", fa), ("bytes_b", fb))
                )
                if da.ndim != db.ndim:  # gray vs color: broadcast gray
                    if da.ndim == 3:
                        da = np.repeat(da[..., None], 3, axis=-1)
                    else:
                        db = np.repeat(db[..., None], 3, axis=-1)
                d = da.astype(np.int64) - db.astype(np.int64)
                g = d.shape[0]
                sq[rows] = (d * d).reshape(g, -1).sum(axis=1)
                nv[rows] = int(np.prod(d.shape[1:], dtype=np.int64))
            if int_gate:
                ok = sm & (sq * ifactor <= 65025 * nv)
            else:
                ok = sm & (sq.astype(np.float64) * factor <= 65025.0 * nv)
            ca, cb = t.column("caption_a"), t.column("caption_b")
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("image_id").cast(pa.string()),
                    pa.array(sm),
                    # NULL == NULL counts as a match, NULL vs a value not
                    pc.coalesce(pc.equal(ca, cb), pc.and_(pc.is_null(ca), pc.is_null(cb))),
                    pa.array(nv),
                    pa.array(sq),
                    pa.array(ok),
                    pa.array(sm & (sq == 0)),
                ],
                names=[
                    "image_id", "shape_match", "caption_match", "n_values",
                    "sq_err", "psnr_ok", "pixel_exact",
                ],
            )

    return a.join(b, "image_id").mapInArrow(op, _VERIFY_SCHEMA)


_AUG_OPS = ("none", "hflip", "vflip", "rot180", "rot90", "rot270", "transpose")


def augment_images(images: DataFrame, op_col: str = "aug_op") -> DataFrame:
    """Deterministic image augmentation (the training-data pipeline
    primitive): per row, apply the dihedral op named in ``op_col`` —
    none / hflip / vflip / rot180 / rot90 / rot270 / transpose
    (rot90 = 90 deg counter-clockwise, numpy ``rot90`` semantics;
    rot90/rot270/transpose swap the output w/h). The op is a DATA
    column so the assignment policy stays composable with the
    certified deterministic samplers (``hash_split`` and friends) —
    no hidden RNG, resume- and partition-invariant by construction.
    Unknown op names fail loud.

    Scale: per-frame independent mapInArrow; within each uniform
    (fmt, w, h) group every op is ONE whole-subgroup numpy view flip
    plus one ``encode_group`` — no per-image Python.
    """

    def op(batches):
        for b in batches:
            out_w = b.column("w").to_numpy(zero_copy_only=False).astype(np.int32)
            out_h = b.column("h").to_numpy(zero_copy_only=False).astype(np.int32)
            col = b.column(op_col)
            if col.null_count:
                raise ValueError(f"NULL augment op in {op_col!r}")
            enc = pc.dictionary_encode(col)
            names = enc.dictionary.to_pylist()
            bad = set(names) - set(_AUG_OPS)
            if bad:
                raise ValueError(f"unknown augment op(s): {sorted(bad)!r}")
            codes = enc.indices.to_numpy()
            parts = []
            for fmt, w, h, idx, pix in _codec.image_groups(b):
                gops = codes[idx]
                for code, name in enumerate(names):
                    sub = np.flatnonzero(gops == code)
                    if sub.size == 0:
                        continue
                    rows = idx[sub]
                    t = pix[sub]
                    if name == "hflip":
                        t = t[:, :, ::-1]
                    elif name == "vflip":
                        t = t[:, ::-1, :]
                    elif name == "rot180":
                        t = t[:, ::-1, ::-1]
                    elif name == "rot90":
                        t = np.rot90(t, 1, axes=(1, 2))
                    elif name == "rot270":
                        t = np.rot90(t, 3, axes=(1, 2))
                    elif name == "transpose":
                        t = np.swapaxes(t, 1, 2)
                    if name in ("rot90", "rot270", "transpose"):
                        out_w[rows] = h
                        out_h[rows] = w
                    parts.append((rows, _codec.encode_group(np.ascontiguousarray(t), fmt)))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("image_id").cast(pa.string()),
                    pa.array(out_w),
                    pa.array(out_h),
                    _codec.blobs_by_row(parts),
                    b.column("fmt"),
                ],
                names=["image_id", "w", "h", "bytes", "fmt"],
            )

    schema = "image_id string, w int, h int, bytes binary, fmt string"
    cols = ["image_id", "bytes", "fmt", "w", "h", op_col]
    return images.select(*cols).mapInArrow(op, schema)


def image_histogram(images: DataFrame) -> DataFrame:
    """Corpus-level gray-value histogram (the `gdalinfo -hist` analog
    and the exposure-profile step of image-corpus curation): counts of
    each 0-255 value over EVERY pixel of every frame (color via the
    ahash kernel's BT.601 luma).

    Scale shape: each Arrow batch emits <= 256 PARTIAL rows (one
    whole-group bincount — never per-pixel rows), and ONE groupBy sums
    the partials; the shuffle moves O(256 x batches) rows regardless
    of corpus size — the map-side-combine histogram plan you'd want at
    10^12 pixels."""
    from gfp_gdal_spark.operators.vectorize import _gray_group

    def op(batches):
        for b in batches:
            hist = np.zeros(256, np.int64)
            for _, _, _, _, pix in _codec.image_groups(b):
                hist += np.bincount(_gray_group(pix).reshape(-1), minlength=256)[:256]
            nz = np.flatnonzero(hist)
            yield pa.RecordBatch.from_arrays(
                [pa.array(nz.astype(np.int32)), pa.array(hist[nz])],
                ["val", "n_pixels"],
            )

    partial = images.select("bytes", "fmt", "w", "h").mapInArrow(
        op, "val int, n_pixels long"
    )
    return partial.groupBy("val").agg(F.sum("n_pixels").alias("n_pixels"))


def equalize_images(images: DataFrame) -> DataFrame:
    """Per-frame histogram equalization (contrast normalization for
    training-data pipelines), the standard CDF remap in EXACT integer
    arithmetic: out(v) = floor(255*(cdf(v)-cdf_min)/(n-cdf_min) + 1/2)
    computed as (510*(cdf-cdf_min) + den) // (2*den), where cdf_min is
    the CDF at the lowest present value. Constant frames (den = 0)
    pass through unchanged. Grayscale output (BT.601 luma for color
    inputs), ``fmt`` preserved modulo the ppm->pgm band collapse.

    Scale: per-frame independent mapInArrow; per group ONE offset
    bincount -> (m, 256) cumsum -> one fancy-gather remap."""
    from gfp_gdal_spark.operators.vectorize import _gray_batch, _gray_group

    schema = "image_id string, w int, h int, bytes binary, fmt string"

    def op(batches):
        for b in batches:
            parts = []
            for f, w, h, idxs, pix in _codec.image_groups(b):
                pix = _gray_group(pix)
                m = pix.shape[0]
                off = (np.arange(m, dtype=np.int64) * 256).reshape(m, 1, 1)
                hist = np.bincount(
                    (pix + off).reshape(-1), minlength=m * 256
                ).reshape(m, 256)
                cdf = hist.cumsum(axis=1)
                cdfmin = np.where(cdf > 0, cdf, 1 << 62).min(axis=1)
                den = h * w - cdfmin
                num = 510 * (cdf - cdfmin[:, None]) + den[:, None]
                safe = np.maximum(den, 1)
                lut = num // (2 * safe[:, None])
                fgrid = np.broadcast_to(np.arange(m).reshape(m, 1, 1), pix.shape)
                eq = lut[fgrid, pix]
                out = np.where((den > 0).reshape(m, 1, 1), eq, pix)
                parts.append((idxs, f, out))
            yield _gray_batch(b, parts)

    cols = ["image_id", "bytes", "fmt", "w", "h"]
    return images.select(*cols).mapInArrow(op, schema)
