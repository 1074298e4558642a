"""Physical-plan assertions: the engine's scale claims, checked
against `.explain` output rather than taken on faith.

- parquet filter pushdown reaches the scan (S3 analog);
- column pruning reaches the scan (ReadSchema);
- tile_assign stays entirely JVM-side (no Python eval node);
- pip_join(broadcast=True) plans a BroadcastHashJoin;
- pip_join(broadcast=False) plans a shuffle join (no broadcast);
- every ring, holes and triangle function plans as a scalar Arrow UDF;
- every flat-row image operator plans a MapInArrow, never a MapInPandas.
"""

import re

import pytest
from pyspark.sql import functions as F

from gfp_gdal_spark.functions.spatial import with_footprint
from gfp_gdal_spark.operators import joins as J
from gfp_gdal_spark.sources import datagen

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def simple_plan_of(df) -> str:
    return df._jdf.queryExecution().simpleString()


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "imgs")
    datagen.images_table(spark, 2000, with_bytes=False).write.parquet(p)
    return p


def test_filter_pushdown_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_totalprice") > 100000.0
    ).select("o_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)" in plan


def test_column_pruning_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_tile_assign_is_pure_jvm(spark, images_path):
    df = J.tile_assign(with_footprint(spark.read.parquet(images_path)), z=12)
    plan = plan_of(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonMapInArrow", "MapInArrow"):
        assert marker not in plan, f"tile_assign plan leaked into Python: {marker}"
    assert "*(1)" in plan  # whole-stage-codegen marker in executedPlan.toString()


def test_pip_join_broadcast_plan(spark, images_path):
    pts = with_footprint(spark.read.parquet(images_path)).select("image_id", "lon_c", "lat_c")
    polys = datagen.vector_layer_zones(spark, 200)
    plan = plan_of(J.pip_join(pts, polys, z=6, broadcast=True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pip_join_shuffle_plan(spark, images_path):
    pts = with_footprint(spark.read.parquet(images_path)).select("image_id", "lon_c", "lat_c")
    polys = datagen.vector_layer_zones(spark, 200)
    plan = plan_of(J.pip_join(pts, polys, z=6, broadcast=False))
    assert "BroadcastHashJoin" not in plan
    assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan)


PY_MARKERS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonMapInArrow", "MapInArrow", "FlatMapGroupsInPandas")


def test_pip_join_bbox_prefilter_in_plan(spark, images_path):
    """The bbox prefilter must appear as a JVM Filter ahead of the
    ray-cast refine (min_lon/max_lon comparisons in the plan)."""
    pts = with_footprint(spark.read.parquet(images_path)).select("image_id", "lon_c", "lat_c")
    polys = datagen.vector_layer_zones(spark, 200)
    plan = plan_of(J.pip_join(pts, polys, z=6, broadcast=True))
    assert "min_lon" in plan and "max_lon" in plan  # prefilter condition present


def test_pip_join_default_is_pure_jvm(spark, images_path):
    """The default pip_join (JVM ray-cast refine) must contain ZERO
    Python nodes — tile and hex bucketing both. This is the 8->32-core
    scaling fix: the Python worker path was the non-scaling component."""
    pts = with_footprint(spark.read.parquet(images_path)).select("image_id", "lon_c", "lat_c")
    polys = datagen.vector_layer_zones(spark, 200)
    for kwargs in ({"z": 6, "broadcast": True}, {"z": 6, "broadcast": False},
                   {"bucket": "hex", "res": 4, "broadcast": True},
                   {"z": "auto", "broadcast": True},
                   {"z": "auto", "broadcast": False, "salt": "auto"}):
        plan = plan_of(J.pip_join(pts, polys, **kwargs))
        for marker in PY_MARKERS:
            assert marker not in plan, f"pip_join({kwargs}) leaked into Python: {marker}"


def test_rasterize_zones_scanline_plan(spark):
    """rasterize_zones burns by scanline: no per-pixel explode over
    sequence(0, w-1), no cell equi-join, and exactly one Python node
    (the MapInArrow burn)."""
    from gfp_gdal_spark.operators.raster import rasterize_zones

    frames = spark.createDataFrame(
        [("a", 0.0, 0.0, 10.0, 10.0, 8, 8)],
        "image_id string, min_lon double, min_lat double, max_lon double, max_lat double, w int, h int",
    )
    zones = datagen.vector_layer_zones(spark, 50).withColumn("zval", F.col("polygon_id") % 7)
    plan = plan_of(rasterize_zones(frames, zones, value="zval", z="auto", broadcast=True))
    assert "Generate" not in plan and "sequence" not in plan, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert join not in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight, LeftOuter" in plan, plan
    py_nodes = [ln for ln in plan.splitlines() if any(m in ln for m in PY_MARKERS)]
    assert len(py_nodes) == 1 and "MapInArrow" in py_nodes[0], plan


def test_knn_join_plan_is_pure_jvm(spark):
    """knn_join (hex encode + kring expansion + haversine, all Column
    exprs) must plan zero Python nodes per round."""
    from pyspark.sql import functions as F

    q = spark.range(10).select(
        F.col("id").alias("query_id"),
        (F.col("id") * 1.0).alias("q_lon"),
        (F.col("id") * 0.5).alias("q_lat"),
    )
    p = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 360 - 180.0).alias("lon_c"),
        (F.col("id") % 170 - 85.0).alias("lat_c"),
    )
    df = J.knn_join(q, p, k=2, res=2, kring=1, exact=False)
    plan = plan_of(df)
    for marker in PY_MARKERS:
        assert marker not in plan, f"knn_join plan leaked into Python: {marker}"


def test_read_points_csv_thinning_window_is_partitioned(spark, tmp_path):
    """Thinning must never plan a global (unpartitioned) window — the
    per-file window keeps N-file reads N-way parallel."""
    import gfp_gdal_spark.sources.io as io

    p = tmp_path / "pts"
    p.mkdir()
    for f in range(3):
        (p / f"f{f}.csv").write_text("x y z\n" + "\n".join(f"{i} {i} {i}" for i in range(20)) + "\n")
    df = io.read_points_csv(spark, str(p), thin_nth=4)
    plan = plan_of(df)
    assert "Window" in plan
    # a global window plans as 'Window [...], [mono_id ASC]' with a
    # single-partition exchange; the per-file variant partitions by
    # input_file_name -> 'PartitionBy' shows up as hashpartitioning
    assert "SinglePartition" not in plan, "thinning window is global (single task)"


def test_bucketed_join_plans_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key must equi-join with no
    shuffle exchange (the co-located-join half of the partitioning
    story; at 10^11 rows per side this is the difference between a
    metadata-only join and shuffling both corpora)."""
    from gfp_gdal_spark.sources.io import write_bucketed

    a = spark.range(0, 20000).select(
        (F.col("id") % 512).alias("cell"), F.col("id").alias("pid")
    )
    b = spark.range(0, 3000).select(
        (F.col("id") % 512).alias("cell"), F.col("id").alias("qid")
    )
    write_bucketed(a, "t_pts_b", ["cell"], n_buckets=16,
                   sort_cols=["cell"], path=str(tmp_path / "pts"))
    write_bucketed(b, "t_polys_b", ["cell"], n_buckets=16,
                   sort_cols=["cell"], path=str(tmp_path / "polys"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_pts_b").join(spark.table("t_polys_b"), "cell")
        plan = plan_of(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_pts_b")
        spark.sql("DROP TABLE IF EXISTS t_polys_b")


def test_tile_rollup_stats_single_shuffle_pure_jvm(spark):
    """tile_rollup_stats' scale claim: the WHOLE pyramid (every zoom
    z_to..z_from) comes out of ONE hash aggregation — the plan must
    show exactly one shuffle exchange and zero Python eval nodes
    (explode + shiftright + agg are all codegen'd JVM expressions)."""
    tiles = spark.range(0, 5000).select(
        F.lit(8).alias("tile_z"),
        (F.col("id") % 200).cast("long").alias("tile_x"),
        (F.col("id") % 170).cast("long").alias("tile_y"),
        (F.col("id") % 97).cast("double").alias("val"),
    )
    out = J.tile_rollup_stats(tiles, z_to=4, val_col="val")
    plan = plan_of(out)
    for marker in PY_MARKERS:
        assert marker not in plan, f"{marker} in plan:\n{plan}"
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"expected 1 shuffle, saw {n_shuffles}:\n{plan}"
    assert out.count() > 0


def test_iou_match_join_pure_jvm(spark):
    """iou_match_join's hot path is the equi-join on (image, tile
    bucket) plus an integer IoU gate — all Column expressions, so the
    plan must contain no Python eval node."""
    from gfp_gdal_spark.operators.vision import iou_match_join

    l = spark.range(0, 500).select(
        (F.col("id") % 40).cast("string").alias("image_id"),
        (F.col("id") % 100).cast("int").alias("l_x0"),
        (F.col("id") % 90).cast("int").alias("l_y0"),
        ((F.col("id") % 100) + 20).cast("int").alias("l_x1"),
        ((F.col("id") % 90) + 25).cast("int").alias("l_y1"),
    )
    r = spark.range(0, 400).select(
        (F.col("id") % 40).cast("string").alias("image_id"),
        ((F.col("id") * 3) % 100).cast("int").alias("r_x0"),
        ((F.col("id") * 7) % 90).cast("int").alias("r_y0"),
        (((F.col("id") * 3) % 100) + 22).cast("int").alias("r_x1"),
        (((F.col("id") * 7) % 90) + 18).cast("int").alias("r_y1"),
    )
    out = iou_match_join(l, r, by="image_id")
    plan = plan_of(out)
    for marker in PY_MARKERS:
        assert marker not in plan, f"{marker} in plan:\n{plan}"
    assert out.count() > 0


def test_ring_functions_plan_scalar_arrow_udf(spark):
    """Every ring, holes and triangle function is one ArrowEvalPython
    node of eval type 250 (SQL_SCALAR_ARROW_UDF), never 200
    (SQL_SCALAR_PANDAS_UDF): the batch stays on the Arrow buffers."""
    from gfp_gdal_spark.functions import geometry as GF
    from gfp_gdal_spark.functions.crs import transform_ring_col
    from gfp_gdal_spark.operators import mesh as M

    df = spark.createDataFrame([], "ring array<array<double>>, holes array<array<array<double>>>")
    r, h = F.col("ring"), F.col("holes")
    cols = [
        GF.ring_area(r), GF.ring_is_ccw(r), GF.ring_is_valid(r), GF.orient_ring(r),
        GF.ring_wkt(r), GF.ring_wkt(r, h), GF.simplify_ring(r, 0.1), GF.buffer_ring(r, 0.1),
        GF.buffer_ring(r, 0.1, method="bbox"), GF.points_hull(r), GF.segmentize_ring(r, 0.1),
        GF.simplify_line(r, 0.1), GF.clip_ring_bbox(r, 0.0, 0.0, 1.0, 1.0),
        transform_ring_col(r, "EPSG:4326", "EPSG:32633"), M.triangles_wkt_col(h),
    ]
    for c in cols:
        plan = plan_of(df.select(c))
        assert re.findall(r"ArrowEvalPython \[.*\], \[.*\], (\d+)", plan) == ["250"], plan


def test_image_ops_plan_map_in_arrow(spark):
    """Every flat-row image operator reads its batches through the one
    Arrow image reader (codec.image_groups): each plans a MapInArrow
    node and no MapInPandas."""
    from gfp_gdal_spark import pipelines as P
    from gfp_gdal_spark.operators import multimodal as MM
    from gfp_gdal_spark.operators.raster import sample_raster

    images = spark.createDataFrame(
        [],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, "
        "phash long, aug_op string",
    )
    probes = spark.createDataFrame([], "pid long, image_id string, px_r int, px_c int")
    ops = {
        "decode_and_hash": P.decode_and_hash(images),
        "image_stats": MM.image_stats(images),
        "reencode_images": MM.reencode_images(images, "png"),
        "resize_images": MM.resize_images(images, 4, 4),
        "crop_images": MM.crop_images(images, 0, 0, 2, 2),
        "rescale_images": MM.rescale_images(images),
        "augment_images": MM.augment_images(images),
        "image_histogram": MM.image_histogram(images),
        "equalize_images": MM.equalize_images(images),
        "verify_pairs": MM.verify_pairs(images, images),
        "sample_raster": sample_raster(probes, images),
    }
    for name, df in ops.items():
        plan = plan_of(df)
        assert "MapInArrow" in plan and "MapInPandas" not in plan, f"{name}:\n{plan}"
