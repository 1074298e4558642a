"""End-to-end north_star pipeline: correctness vs brute force, PSNR
invariant, caption preservation, kill/resume at pipeline level."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gfp_gdal_spark import pipelines as P
from gfp_gdal_spark.kernels import geom as G
from gfp_gdal_spark.sources import datagen

N = 800


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ns") / "imgs")
    datagen.images_table(spark, N, with_bytes=True).write.parquet(p)
    return p


@pytest.fixture(scope="module")
def layer(spark):
    return datagen.vector_layer_zones(spark, 120)


def brute_pairs(n, vpdf):
    pdf = datagen.images_pandas(n, with_bytes=False)
    ph = pdf["phash"].to_numpy().view(np.uint64)
    lon = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32 * 360 - 180
    lat = (ph >> np.uint64(32)).astype(np.float64) / 2**32 * 170 - 85
    pairs = set()
    for _, row in vpdf.iterrows():
        flat, off = G.ragged_from_lists([row["ring"]] * len(lon))
        ins = G.point_in_polygon_pairwise(lon, lat, flat, off, [row["holes"]] * len(lon))
        for i in np.flatnonzero(ins):
            pairs.add((f"img{i:08d}", row["polygon_id"]))
    return pairs


def test_pipeline_end_to_end(spark, images_path, layer):
    out = P.north_star_pipeline(spark.read.parquet(images_path), layer, pip_z=6)
    pdf = out.toPandas()
    exp = brute_pairs(N, datagen.vector_layer_zones_pandas(120))
    got = set(map(tuple, pdf[["image_id", "polygon_id"]].values))
    assert got == exp
    assert pdf["psnr_ok"].all()  # PSNR>=40dB invariant holds end to end
    # caption equality: survives the whole pipeline
    caps = {r["image_id"]: r["caption"] for _, r in pdf.iterrows()}
    for iid, cap in list(caps.items())[:20]:
        i = int(iid[3:])
        assert cap == f"synthetic scene {i} tags:{i % 7},{i % 13}"
    assert {"tile_x", "tile_y", "hex_cell", "s2_cell"} <= set(pdf.columns)


def test_pipeline_kill_resume(spark, images_path, layer, tmp_path, kill_at_commit):
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    kill_at_commit(2)
    with pytest.raises(RuntimeError, match="simulated failure"):
        P.run_north_star_resumable(
            spark, images_path, layer, out, man,
            n_buckets=8, buckets_per_job=2, pip_z=6,
        )
    res = P.run_north_star_resumable(
        spark, images_path, layer, out, man, n_buckets=8, buckets_per_job=2, pip_z=6
    )
    assert res["buckets_processed"] == 4
    final = spark.read.parquet(out)
    single = P.north_star_pipeline(spark.read.parquet(images_path), layer, pip_z=6)
    assert final.count() == single.count()
    a = set(map(tuple, final.select("image_id", "polygon_id").toPandas().values))
    b = set(map(tuple, single.select("image_id", "polygon_id").toPandas().values))
    assert a == b  # resumed result == uninterrupted result
