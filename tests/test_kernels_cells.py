"""Cell-index kernel tests: slippy-map golden values, hexlite spec
invariants, S2-style Hilbert bijectivity."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gfp_gdal_spark.kernels import cells as C


def test_tile_golden_values():
    # public slippy-map examples: (lon, lat, z) -> (x, y)
    x, y = C.lonlat_to_tile([13.37771], [52.51628], 17)  # Berlin, OSM wiki example
    assert (x[0], y[0]) == (70406, 42987)
    x, y = C.lonlat_to_tile([0.0], [0.0], 1)
    assert (x[0], y[0]) == (1, 1)
    x, y = C.lonlat_to_tile([-180.0], [85.05112878], 3)
    assert (x[0], y[0]) == (0, 0)


def test_tile_range_for_bbox_inclusive():
    x0, x1, y0, y1 = C.tile_range_for_bbox([-1.0], [-1.0], [1.0], [1.0], 8)
    assert x0[0] <= x1[0] and y0[0] <= y1[0]
    # center tile of z8 at lon just under 0 is 127, just over is 128
    assert x0[0] == 127 and x1[0] == 128


coords = st.tuples(st.floats(-179.9, 179.9), st.floats(-84.9, 84.9))


@given(st.lists(coords, min_size=1, max_size=50), st.integers(0, 14))
@settings(max_examples=50, deadline=None)
def test_hex_center_reencodes_to_same_cell(pts, res):
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    cell = C.hex_encode(lon, lat, res)
    clon, clat = C.hex_to_center(cell)
    assert np.array_equal(C.hex_encode(clon, clat, res), cell)


@given(st.lists(coords, min_size=1, max_size=30))
@settings(max_examples=30, deadline=None)
def test_hex_center_distance_bounded(pts):
    """Every point is within the hex circumradius of its cell center."""
    res = 8
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    cell = C.hex_encode(lon, lat, res)
    clon, clat = C.hex_to_center(cell)
    size = C.HEX_BASE_SIZE_DEG * 7.0 ** (-res / 2.0)
    d = np.hypot(lon - clon, lat - clat)
    assert (d <= size * 1.0001).all()


def test_hex_res_for_size_inverts_hex_size():
    for r in range(C.HEX_MAX_RES + 1):
        assert C.hex_res_for_size(C._hex_size(r)) == r
    # clamps: coarser than res 0 -> 0, finer than the max res -> max
    assert C.hex_res_for_size(C._hex_size(0) * 50.0) == 0
    assert C.hex_res_for_size(1e9) == 0
    assert C.hex_res_for_size(C._hex_size(C.HEX_MAX_RES) / 50.0) == C.HEX_MAX_RES
    assert C.hex_res_for_size(1e-12) == C.HEX_MAX_RES


def test_hex_disk_counts():
    for k in range(4):
        assert len(C.hex_disk_offsets(k)) == 3 * k * (k + 1) + 1


def test_hex_parent_contains_child_center():
    lon = np.array([4.9, -120.3, 33.0])
    lat = np.array([52.37, -33.0, 70.1])
    child = C.hex_encode(lon, lat, 9)
    parent = C.hex_parent(child, 7)
    clon, clat = C.hex_to_center(child)
    assert np.array_equal(C.hex_encode(clon, clat, 7), parent)


def test_neighbors_include_self_and_are_distinct():
    cell = C.hex_encode(np.array([4.9]), np.array([52.37]), 8)
    disk = C.hex_neighbors_of(cell, 2)[0]
    assert cell[0] in disk
    assert len(set(disk.tolist())) == len(disk)


def test_s2_faces_cover_and_ranges():
    lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    ids = C.s2_encode(lon, lat, 10)
    faces = ids // (1 << 20)
    assert sorted(faces.tolist()) == [0, 1, 2, 3, 4, 5]
    assert ((ids >= 0) & (ids < 6 * (1 << 20))).all()


@given(st.lists(coords, min_size=2, max_size=40))
@settings(max_examples=30, deadline=None)
def test_s2_locality(pts):
    """Identical points -> identical ids; ids deterministic."""
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    a = C.s2_encode(lon, lat, 16)
    b = C.s2_encode(lon, lat, 16)
    assert np.array_equal(a, b)


def test_s2_hilbert_adjacent_cells_near():
    """Walking east in small steps keeps Hilbert ids in a bounded set of
    jumps (locality sanity, not a strict bound)."""
    lon = np.linspace(10.0, 10.5, 100)
    lat = np.full(100, 20.0)
    ids = C.s2_encode(lon, lat, 14)
    # consecutive samples map to equal-or-near cells most of the time
    same_or_close = np.abs(np.diff(ids)) < (1 << 14)
    assert same_or_close.mean() > 0.8


def test_s2_cover_superset_property():
    """Every cell containing a bbox point must be in the cover — 300
    random bboxes incl. face boundaries and poles."""
    import numpy as np

    from gfp_gdal_spark.kernels import cells as C

    rng = np.random.default_rng(17)
    checked = 0
    for _ in range(300):
        lon0 = rng.uniform(-179, 175)
        lat0 = rng.uniform(-84, 80)
        lon1 = min(lon0 + rng.uniform(0.01, 8), 180)
        lat1 = min(lat0 + rng.uniform(0.01, 8), 85)
        level = int(rng.integers(3, 11))
        try:
            cells, rows = C.s2_cover_bbox([lon0], [lat0], [lon1], [lat1], level)
        except ValueError:
            continue  # level too fine for the bbox extent (documented)
        cover = set(cells.tolist())
        plon = rng.uniform(lon0, lon1, 200)
        plat = rng.uniform(lat0, lat1, 200)
        ids = C.s2_encode(plon, plat, level)
        assert not set(ids.tolist()) - cover
        checked += 1
    assert checked > 200


def test_s2_cell_jvm_matches_kernel(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gfp_gdal_spark.functions.spatial import s2_cell
    from gfp_gdal_spark.kernels import cells as C

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(-85, 85, 4000)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for level in (1, 8, 14):
        got = np.array(
            df.select(s2_cell(F.col("lon"), F.col("lat"), level).alias("c")).toPandas()["c"]
        )
        assert (got == C.s2_encode(lon, lat, level)).all()
    plan = (
        df.select(s2_cell(F.col("lon"), F.col("lat"), 12))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pip_join_s2_matches_bruteforce(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gfp_gdal_spark.kernels import geom as G
    from gfp_gdal_spark.operators import joins as J
    from gfp_gdal_spark.sources import datagen

    rng = np.random.default_rng(9)
    pts_pdf = pd.DataFrame(
        {
            "pid": range(3000),
            "lon_c": rng.uniform(-179, 179, 3000),
            "lat_c": rng.uniform(-84, 84, 3000),
        }
    )
    pts = spark.createDataFrame(pts_pdf)
    vl_pdf = datagen.vector_layer_zones_pandas(150)
    vl = datagen.vector_layer_zones(spark, 150)
    got = {
        (r["pid"], r["polygon_id"])
        for r in J.pip_join(pts, vl, bucket="s2", res="auto", broadcast=True).collect()
    }
    # brute force via the numpy kernel
    want = set()
    for _, poly in vl_pdf.iterrows():
        flat, off = G.ragged_from_lists([poly["ring"]] * len(pts_pdf))
        inside = G.point_in_polygon_pairwise(
            pts_pdf["lon_c"].to_numpy(), pts_pdf["lat_c"].to_numpy(),
            flat, off, [poly["holes"]] * len(pts_pdf),
        )
        want |= {(int(pts_pdf["pid"][i]), int(poly["polygon_id"])) for i in np.flatnonzero(inside)}
    assert got == want


# ---------------------------------------------------------------- #
# geohash (pure-Column base32 encode)                               #
# ---------------------------------------------------------------- #


def _ref_geohash(lon: float, lat: float, p: int) -> str:
    """Independent scalar reference (pinned below to the public test
    vectors, so this is an external anchor, not a mirror)."""
    B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    nbits = 5 * p
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    li = min(max(int(np.floor((lon + 180.0) / 360.0 * (1 << nlon))), 0), (1 << nlon) - 1)
    la = min(max(int(np.floor((lat + 90.0) / 180.0 * (1 << nlat))), 0), (1 << nlat) - 1)
    v = 0
    for i in range(nlon):
        v |= ((li >> (nlon - 1 - i)) & 1) << (nbits - 1 - 2 * i)
    for i in range(nlat):
        v |= ((la >> (nlat - 1 - i)) & 1) << (nbits - 2 - 2 * i)
    return "".join(B32[(v >> 5 * (p - 1 - k)) & 31] for k in range(p))


def test_geohash_public_vectors():
    # the canonical examples every geohash implementation publishes
    assert _ref_geohash(10.40744, 57.64911, 11) == "u4pruydqqvj"
    assert _ref_geohash(-5.6, 42.6, 5) == "ezs42"


def test_geohash_column_parity(spark):
    import pandas as pd

    from gfp_gdal_spark.functions.spatial import geohash_cell

    rng = np.random.default_rng(41)
    lons = np.r_[rng.uniform(-180, 180, 60), [-180.0, 179.999999, 0.0, 185.0, -999.0]]
    lats = np.r_[rng.uniform(-90, 90, 60), [90.0, -90.0, 0.0, 95.0, -95.0]]
    pdf = pd.DataFrame({"i": range(len(lons)), "lon": lons, "lat": lats})
    df = spark.createDataFrame(pdf)
    for p in (1, 5, 8, 12):
        out = df.select(
            "i", geohash_cell(F.col("lon"), F.col("lat"), p).alias("gh")
        ).toPandas().set_index("i")["gh"]
        for i in range(len(lons)):
            want = _ref_geohash(lons[i], lats[i], p)
            assert out[i] == want, (p, lons[i], lats[i], out[i], want)


def test_geohash_prefix_containment(spark):
    """Truncation == lower-precision encode (the equal-prefix spatial
    bucket property) — exact, because floor(x*2^a) >> (a-b) ==
    floor(x*2^b)."""
    import pandas as pd

    from gfp_gdal_spark.functions.spatial import geohash_cell

    rng = np.random.default_rng(43)
    pdf = pd.DataFrame(
        {"lon": rng.uniform(-180, 180, 200), "lat": rng.uniform(-90, 90, 200)}
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        geohash_cell(F.col("lon"), F.col("lat"), 4).alias("g4"),
        geohash_cell(F.col("lon"), F.col("lat"), 9).alias("g9"),
    ).toPandas()
    assert (out.g9.str[:4] == out.g4).all()


def test_geohash_args():
    from gfp_gdal_spark.functions.spatial import geohash_cell

    with pytest.raises(ValueError):
        geohash_cell(F.lit(0.0), F.lit(0.0), 0)
    with pytest.raises(ValueError):
        geohash_cell(F.lit(0.0), F.lit(0.0), 13)
