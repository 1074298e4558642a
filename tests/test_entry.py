"""Driver-contract smoke: entry() runs, queries()/oracle_sql() are
consistent, transforms operators behave on the fixture layer."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from gfp_gdal_spark.operators import transforms as TR
from gfp_gdal_spark.sources import datagen


def test_entry_runs(spark):
    df = E.entry(spark)
    rows = df.count()
    assert rows > 0
    assert set(df.columns) == {"c_mktsegment", "tile_z", "tile_x", "tile_y", "n"}


def test_oracle_keys_subset_of_queries():
    qs = E.queries()
    for k in E.oracle_sql():
        assert k in qs, f"oracle {k} has no query"


def test_every_query_callable(spark):
    qs = E.queries()
    assert len(qs) >= 25
    # spot-run three cheap ones at sf0.001
    sf = "/root/testdata/sf0.001"
    for name in ["thin_points", "rename_project", "tile_assign"]:
        assert qs[name](spark, sf).count() > 0


def test_simplify_operator_on_layer(spark):
    vl = datagen.vector_layer(spark, 60)
    out = TR.simplify_polygons(vl, tolerance=0.05)
    pdf = out.select("polygon_id", F.size("ring").alias("n"), "simplify_ok").toPandas()
    orig = vl.select("polygon_id", F.size("ring").alias("n0")).toPandas()
    m = pdf.merge(orig, on="polygon_id")
    assert (m["n"] <= m["n0"]).all()
    # drop-failures variant (output_failures=False, geos_nodes.cpp:146)
    kept = TR.simplify_polygons(vl, tolerance=0.05, output_failures=False)
    assert kept.count() == int(pdf["simplify_ok"].sum())


def test_enrich_geometry_matches_loader_semantics(spark):
    vl = datagen.vector_layer(spark, 40)
    out = TR.enrich_geometry(vl, holes="holes").select(
        "polygon_id", "area", "is_valid", "wkt"
    ).toPandas()
    assert (out["area"] > 0).all()
    assert out["is_valid"].all()
    assert out["wkt"].str.startswith("POLYGON").all()


def test_ring_is_ccw_huge_and_tiny_coordinates(spark):
    """The orientation UDF reads the sign at any uniform scale: unscaled
    shoelace cross terms overflow at 1e300 and underflow at 1e-300."""
    from gfp_gdal_spark.functions import ring_is_ccw

    rows = []
    for scale in (1.0, 1e300, 1e-300):
        ccw = [[x * scale, y * scale] for x, y in ((1, 1), (2, 1), (2, 2), (1, 2))]
        rows += [(scale, True, ccw), (scale, False, ccw[:1] + ccw[:0:-1])]
    df = spark.createDataFrame(rows, "scale double, want boolean, ring array<array<double>>")
    got = df.select("scale", "want", ring_is_ccw(F.col("ring")).alias("got")).collect()
    assert [(r.scale, r.got) for r in got] == [(r.scale, r.want) for r in got]
