"""Spatial join operators vs brute-force numpy oracles (Spark)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gfp_gdal_spark.functions.spatial import with_footprint
from gfp_gdal_spark.kernels import geom as G
from gfp_gdal_spark.operators import joins as J
from gfp_gdal_spark.plans.salting import salt_join_skewed, salted_count
from gfp_gdal_spark.sources import datagen

N_IMG = 1500
N_POLY = 60


@pytest.fixture(scope="module")
def points(spark):
    return with_footprint(datagen.images_table(spark, N_IMG, with_bytes=False)).select(
        "image_id", "lon_c", "lat_c"
    ).cache()


@pytest.fixture(scope="module")
def brute_lonlat():
    pdf = datagen.images_pandas(N_IMG, with_bytes=False)
    ph = pdf["phash"].to_numpy().view(np.uint64)
    lon = (ph & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32 * 360 - 180
    lat = (ph >> np.uint64(32)).astype(np.float64) / 2**32 * 170 - 85
    return lon, lat


def brute_pip_pairs(lon, lat, vpdf):
    pairs = set()
    for _, row in vpdf.iterrows():
        flat, off = G.ragged_from_lists([row["ring"]] * len(lon))
        ins = G.point_in_polygon_pairwise(lon, lat, flat, off, [row["holes"]] * len(lon))
        for i in np.flatnonzero(ins):
            pairs.add((f"img{i:08d}", row["polygon_id"]))
    return pairs


@pytest.mark.parametrize("broadcast", [True, False, None])
def test_pip_join_matches_brute_force(spark, points, brute_lonlat, broadcast):
    vl = datagen.vector_layer(spark, N_POLY)
    got = J.pip_join(points, vl, z=4, broadcast=broadcast)
    got_pairs = set(map(tuple, got.select("image_id", "polygon_id").toPandas().values))
    lon, lat = brute_lonlat
    assert got_pairs == brute_pip_pairs(lon, lat, datagen.vector_layer_pandas(N_POLY))


def test_pip_join_keeps_caller_pr_columns(spark, points, brute_lonlat):
    """A caller column named like the rect fast path's helper (``_pr``)
    on either side is neither overwritten nor dropped."""
    vl = datagen.vector_layer(spark, N_POLY).withColumn("_pr", F.col("polygon_id") * 10)
    pts = points.withColumn("_pr_", F.lit("p"))
    got = J.pip_join(pts, vl, z=4, broadcast=True)
    assert "_pr" in got.columns and "_pr_" in got.columns
    rows = got.select("image_id", "polygon_id", "_pr", "_pr_").toPandas()
    assert (rows["_pr"] == rows["polygon_id"] * 10).all() and (rows["_pr_"] == "p").all()
    lon, lat = brute_lonlat
    got_pairs = set(map(tuple, rows[["image_id", "polygon_id"]].values))
    assert got_pairs == brute_pip_pairs(lon, lat, datagen.vector_layer_pandas(N_POLY))


@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_join_hex_bucket_matches_brute_force(spark, points, brute_lonlat, broadcast):
    """Hex bucketing (H3-style). Zone-scale polygons: hex cover cost is
    (extent/cell_size)^2 per polygon, so the res must match the layer's
    polygon extent — continent-sized test polygons would explode a
    res>=2 cover (that's a real operating constraint, not a test
    artifact)."""
    vl = datagen.vector_layer_zones(spark, 150)
    got = J.pip_join(points, vl, broadcast=broadcast, bucket="hex", res=2)
    got_pairs = set(map(tuple, got.select("image_id", "polygon_id").toPandas().values))
    lon, lat = brute_lonlat
    assert got_pairs == brute_pip_pairs(lon, lat, datagen.vector_layer_zones_pandas(150))


def test_pip_join_invariant_under_repartition(spark, points, brute_lonlat):
    vl = datagen.vector_layer(spark, N_POLY)
    a = J.pip_join(points.repartition(13), vl, z=5)
    b = J.pip_join(points.repartition(3), vl, z=3)
    pa = set(map(tuple, a.select("image_id", "polygon_id").toPandas().values))
    pb = set(map(tuple, b.select("image_id", "polygon_id").toPandas().values))
    assert pa == pb


def _kgon_rings():
    rings = []
    for i in range(60):
        k, rad = 3 + i % 6, 0.3 + (i % 5) * 0.2
        cx, cy = (i * 37) % 340 - 170.0, (i * 13) % 160 - 80.0
        ang = 0.1 + np.arange(k) * 2 * np.pi / k
        rings.append([[float(cx + rad * np.cos(a)), float(cy + rad * np.sin(a))] for a in ang])
    return rings


def test_auto_grid_picks(spark):
    """The (tile z, hex res, s2 res) pip_join picks for "auto": the zone
    fixture, a k-gon layer, and the 1e-6 extent floor for zero-extent
    rings and for an empty layer (NULL averages)."""
    ring_t = "ring array<array<double>>"
    layers = {
        "zones": (datagen.vector_layer_zones(spark, 200), (8, 1, 6)),
        "kgons": (spark.createDataFrame(pd.DataFrame({"ring": _kgon_rings()}), ring_t), (8, 2, 7)),
        "zero_extent": (
            spark.createDataFrame(pd.DataFrame({"ring": [[[float(i), 2.0 * i]] * 3 for i in range(5)]}), ring_t),
            (14, 9, 17),
        ),
        "empty": (spark.createDataFrame([], ring_t), (14, 9, 17)),
    }
    for name, (layer, want) in layers.items():
        got = tuple(J._auto_grid(layer, "ring", b) for b in ("tile", "hex", "s2"))
        assert got == want, name


def test_pip_join_fixed_grid_runs_no_job(spark, points):
    """Only an "auto" grid pays the sizing aggregate; a fixed z or res
    builds the plan without running a job."""
    sc = spark.sparkContext
    polys = datagen.vector_layer_zones(spark, 20)
    jobs = {}
    try:
        for name, kw in (("z8", {"z": 8}), ("hex4", {"bucket": "hex", "res": 4}),
                         ("auto", {"z": "auto"})):
            sc.setJobGroup(f"pip_grid_{name}", name)
            J.pip_join(points, polys, broadcast=True, **kw)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"pip_grid_{name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs["z8"] == 0 and jobs["hex4"] == 0 and jobs["auto"] >= 1, jobs


def test_knn_exact_matches_brute_force(spark, points, brute_lonlat):
    lon, lat = brute_lonlat
    qpdf = pd.DataFrame(
        {
            "query_id": range(8),
            "q_lon": [4.9, -100.0, 100.0, 0.0, 179.0, -179.0, 10.0, -45.0],
            "q_lat": [52.37, 30.0, -30.0, 0.0, 84.0, -84.0, -70.0, 45.0],
        }
    )
    q = spark.createDataFrame(qpdf)
    pts = points.select(F.col("image_id").alias("point_id"), "lon_c", "lat_c")
    got = (
        J.knn_join(q, pts, k=5, res=3, kring=1)
        .select("query_id", "point_id", "rank")
        .toPandas()
    )
    ids = np.array([f"img{i:08d}" for i in range(len(lon))])
    for qid, qlon, qlat in qpdf.values:
        d = G.haversine(np.full_like(lon, qlon), np.full_like(lat, qlat), lon, lat)
        order = np.lexsort((ids, d))[:5]
        exp = ids[order].tolist()
        sub = got[got.query_id == qid].sort_values("rank")
        assert sub["point_id"].tolist() == exp, qid


def test_tile_assign_invariant_under_repartition(spark, points):
    a = J.tile_assign(points, z=10).select("image_id", "tile_x", "tile_y")
    b = J.tile_assign(points.repartition(17), z=10).select("image_id", "tile_x", "tile_y")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_tile_cover_contains_center_tile(spark, points):
    fp = with_footprint(
        datagen.images_table(spark, 300, with_bytes=False)
    )
    cov = J.tile_cover(J.ring_bbox_cols(fp, "ring"), z=10).select(
        "image_id", "tile_x", "tile_y"
    )
    center = J.tile_assign(fp, z=10).select(
        "image_id", F.col("tile_x").alias("cx"), F.col("tile_y").alias("cy")
    )
    missing = center.join(
        cov,
        (center.image_id == cov.image_id)
        & (center.cx == cov.tile_x)
        & (center.cy == cov.tile_y),
        "left_anti",
    )
    assert missing.isEmpty()


def test_salted_count_identity(spark, points):
    t = J.tile_assign(points, z=4).withColumn(
        "cell", F.col("tile_x") * 32 + F.col("tile_y")
    )
    plain = t.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).toPandas()
    salted = salted_count(t, ["cell"], n_salt=8, salt_src="image_id").toPandas()
    m = plain.merge(salted, on="cell", suffixes=("_p", "_s"))
    assert len(m) == len(plain) == len(salted)
    assert (m["n_p"] == m["n_s"]).all()


def test_salt_join_identity(spark):
    big = spark.range(0, 5000).withColumn("key", F.pmod("id", F.lit(7)))
    small = spark.createDataFrame(
        pd.DataFrame({"key": range(7), "label": [f"k{i}" for i in range(7)]})
    )
    plain = big.join(small, "key").select("id", "label")
    salted = salt_join_skewed(big, small, "key", n_salt=4, salt_src="id").select("id", "label")
    assert plain.exceptAll(salted).isEmpty() and salted.exceptAll(plain).isEmpty()
    hot = salt_join_skewed(big, small, "key", n_salt=4, hot_keys=[0, 3], salt_src="id").select(
        "id", "label"
    )
    assert plain.exceptAll(hot).isEmpty() and hot.exceptAll(plain).isEmpty()


def test_skew_fixture_has_hot_cell(spark, points):
    """FIXTURES.md: 1/97 of images pinned to one location — prove the
    skew exists so salting is load-bearing."""
    t = J.tile_assign(points, z=12)
    top = (
        t.groupBy("tile_x", "tile_y").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    assert top["count"] >= N_IMG // 97
