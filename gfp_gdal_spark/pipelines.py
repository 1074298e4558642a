"""The north_star pipeline, end to end [BASELINE.json].

ingest (decode + perceptual hash) -> footprint derivation -> cell
indexes (hex + s2) -> cell-bucketed point-in-polygon join vs a vector
layer -> WebMercator tile assignment -> per-tile aggregation — run
RESUMABLY: work is split into deterministic buckets, each finished
bucket commits a manifest row with metrics, and a killed job picks up
exactly the missing buckets (plans.lineage).

This is the composition a user of the reference would run in geoflow
as a flowchart (OGRLoader -> transforms -> OGRWriter); here it is a
pure function DataFrame -> DataFrame plus a bucketed runner.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfp_gdal_spark.functions.spatial import hex_cell, s2_cell, with_footprint
from gfp_gdal_spark.functions.worker_tuning import tune_worker
from gfp_gdal_spark.kernels import codec as _codec
from gfp_gdal_spark.operators import joins as J
from gfp_gdal_spark.plans import lineage as L

__all__ = ["decode_and_hash", "north_star_pipeline", "run_north_star_resumable"]

_DEC_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, phash long, "
    "ahash long, mean_px double, psnr_ok boolean"
)


def decode_and_hash(images: DataFrame) -> DataFrame:
    """Ingest boundary: decode every image's bytes, compute a
    perceptual average-hash and the round-trip PSNR>=40dB invariant
    flag (BASELINE.json input_hint).

    Per Arrow batch, each uniform (fmt, w, h) group is decoded and
    re-encoded whole (kernels.codec.image_groups / encode_group) and
    hashed and measured by vectorized reductions over the group
    tensor; the carried columns pass through as the batch's own Arrow
    arrays."""
    keep = ["image_id", "w", "h", "fmt", "caption", "phash"]

    def op(batches):
        tune_worker()
        for b in batches:
            n = b.num_rows
            ah = np.zeros(n, dtype=np.int64)
            mp = np.zeros(n)
            ok = np.zeros(n, dtype=bool)
            for fmt, w, h, idx, pix in _codec.image_groups(b):
                ng = pix.shape[0]
                g = (
                    pix.astype(np.float64).mean(axis=3)
                    if pix.ndim == 4
                    else pix.astype(np.float64)
                )
                mp[idx] = g.mean(axis=(1, 2))
                ah[idx] = _codec.ahash_batch(pix)
                rt = _codec.decode_group(_codec.encode_group(pix, fmt), fmt, w, h)
                mse = (
                    (pix.astype(np.float64) - rt.astype(np.float64)) ** 2
                ).reshape(ng, -1).mean(axis=1)
                with np.errstate(divide="ignore"):
                    ok[idx] = 10.0 * np.log10(255.0**2 / np.maximum(mse, 1e-300)) >= 40.0
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in keep] + [pa.array(ah), pa.array(mp), pa.array(ok)],
                names=keep + ["ahash", "mean_px", "psnr_ok"],
            )

    return images.select(*keep, "bytes").mapInArrow(op, _DEC_SCHEMA)


def north_star_pipeline(
    images: DataFrame,
    vector_layer: DataFrame,
    pip_z: int = 8,
    tile_z: int = 12,
    hex_res: int = 8,
    s2_level: int = 14,
    broadcast: bool | None = True,
) -> DataFrame:
    """The full transform: images -> decoded+hashed -> footprints ->
    hex/s2 cell ids -> PiP join vs the layer -> tile assignment.
    Returns one row per (image inside polygon) with tile/cell keys."""
    dec = decode_and_hash(images)
    pts = with_footprint(dec)
    pts = pts.withColumn("hex_cell", hex_cell(F.col("lon_c"), F.col("lat_c"), hex_res))
    pts = pts.withColumn("s2_cell", s2_cell(F.col("lon_c"), F.col("lat_c"), s2_level))
    pts = pts.select(
        "image_id", "caption", "phash", "ahash", "psnr_ok",
        "lon_c", "lat_c", "hex_cell", "s2_cell",
    )
    joined = J.pip_join(pts, vector_layer, z=pip_z, broadcast=broadcast)
    return J.tile_assign(joined, z=tile_z)


def run_north_star_resumable(
    spark: SparkSession,
    images_path: str,
    vector_layer: DataFrame,
    out_path: str,
    manifest_path: str,
    n_buckets: int = 16,
    buckets_per_job: int = 4,
    **pipeline_kw,
) -> dict:
    """Bucketed, resumable execution of the pipeline with per-bucket
    lineage + metrics (north_rule). Buckets = hash(image_id) — stable
    under any partitioning of the input."""
    images = spark.read.parquet(images_path)
    result = north_star_pipeline(images, vector_layer, **pipeline_kw)
    return L.run_bucketed(
        spark,
        result,
        out_path,
        manifest_path,
        id_col="image_id",
        n_buckets=n_buckets,
        buckets_per_job=buckets_per_job,
    )
