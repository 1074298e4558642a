"""The Arrow ring boundary (``kernels.geom.ragged_from_arrow`` /
``ragged_to_arrow`` / ``arrow_list_level``) and the ring UDFs built on it.

- reader/writer fuzz: NULL rows, slices at offset != 0, chunked input,
  xyz, empty rings, holes, an empty array with no offsets buffer; the
  round trip is bit-identical;
- Spark parity: every ring UDF equals its numpy kernel applied to
  ``ragged_from_lists(rows)``, bit for bit, on the non-NULL rows;
- the NULL rule: a NULL ring gives NULL, an empty ring keeps its result.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gfp_gdal_spark.kernels import geom as G

RING_PA = pa.list_(pa.list_(pa.float64()))
HOLES_PA = pa.list_(RING_PA)
SCHEMA = "id long, ring array<array<double>>, holes array<array<array<double>>>"


def _rows(rng, n, width, specials=False):
    """Random rings: ~10% NULL, ~8% empty, else 1..12 vertices."""
    out = []
    for _ in range(n):
        u = rng.random()
        if u < 0.1:
            out.append(None)
        elif u < 0.18:
            out.append([])
        else:
            k = int(rng.integers(1, 13))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            pts = np.stack([10 + np.cos(ang), 40 + np.sin(ang)], 1) * rng.uniform(0.5, 3.0)
            if rng.random() < 0.3:
                pts = pts[::-1]
            if width == 3:
                pts = np.concatenate([pts, rng.uniform(0, 50, (k, 1))], 1)
            if specials and rng.random() < 0.2:
                pts[0, 0] = rng.choice([np.nan, -0.0, np.inf, 1e-310])
            out.append(pts.tolist())
    return out


def _bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(np.uint64)


def _assert_reads(arr, rows):
    off, flat, valid = G.ragged_from_arrow(arr)
    want_flat, want_off = G.ragged_from_lists(rows)
    assert off.dtype == np.int64 and flat.dtype == np.float64
    assert np.array_equal(off, want_off)
    assert flat.shape == want_flat.shape or flat.shape[0] == 0 == want_flat.shape[0]
    assert np.array_equal(_bits(flat), _bits(want_flat.reshape(flat.shape)))
    assert valid.tolist() == [r is not None for r in rows]
    return off, flat, valid


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("width", [2, 3])
def test_reader_writer_fuzz(seed, width):
    rng = np.random.default_rng(seed)
    rows = _rows(rng, int(rng.integers(1, 60)), width, specials=True)
    arr = pa.array(rows, RING_PA)
    off, flat, valid = _assert_reads(arr, rows)
    back = G.ragged_to_arrow(flat, off, valid)
    assert back.type == arr.type and back.null_count == arr.null_count
    _assert_reads(back, rows)  # NULLs, offsets and value bits
    # slices at offset != 0: offsets do not start at 0
    for _ in range(5):
        a = int(rng.integers(0, len(rows)))
        b = int(rng.integers(a, len(rows) + 1))
        _assert_reads(arr.slice(a, b - a), rows[a:b])
    # chunked input, including an empty chunk
    k = int(rng.integers(0, len(rows) + 1))
    _assert_reads(pa.chunked_array([arr.slice(0, k), arr.slice(k, 0), arr.slice(k)], RING_PA), rows)


@pytest.mark.parametrize("seed", range(4))
def test_reader_holes_level(seed):
    """A holes column is one more offsets level over the same reader."""
    rng = np.random.default_rng(seed)
    holes = [None if rng.random() < 0.2 else [r or [] for r in _rows(rng, int(rng.integers(0, 4)), 2)]
             for _ in range(40)]
    arr = pa.array(holes, HOLES_PA).slice(3)
    holes = holes[3:]
    rows, rings, valid = G.arrow_list_level(arr)
    counts = [0 if h is None else len(h) for h in holes]
    assert rows.tolist() == np.concatenate(([0], np.cumsum(counts))).tolist()
    assert valid.tolist() == [h is not None for h in holes]
    _assert_reads(rings, [r for h in holes if h is not None for r in h])


def test_reader_edge_arrays():
    # an empty list array with no offsets buffer
    empty = pa.Array.from_buffers(RING_PA, 0, [None, None], children=[pa.array([], RING_PA.value_type)])
    off, flat, valid = G.ragged_from_arrow(empty)
    assert off.tolist() == [0] and flat.shape == (0, 2) and valid.shape == (0,)
    assert G.ragged_to_arrow(flat, off, valid).to_pylist() == []
    # a NULL row whose offsets still span values reads as zero extent
    pts = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], pa.list_(pa.float64()))
    arr = pa.ListArray.from_arrays(pa.array([0, 1, 2, 3], pa.int32()), pts, mask=pa.array([False, True, False]))
    off, flat, valid = G.ragged_from_arrow(arr)
    assert off.tolist() == [0, 1, 1, 2] and flat.tolist() == [[1.0, 2.0], [5.0, 6.0]]
    assert valid.tolist() == [True, False, True]
    # all-NULL and all-empty batches
    for rows in ([None, None], [[], []]):
        off, flat, valid = G.ragged_from_arrow(pa.array(rows, RING_PA))
        assert off.tolist() == [0, 0, 0] and flat.shape == (0, 2)
        assert G.ragged_to_arrow(flat, off, valid).to_pylist() == rows
    # mixed 2D/3D in one batch raises, as ragged_from_lists does
    with pytest.raises(ValueError, match="mixed 2D/3D"):
        G.ragged_from_arrow(pa.array([[[0.0, 0.0]], [[0.0, 0.0, 1.0]]], RING_PA))
    with pytest.raises(ValueError, match="mixed 2D/3D"):
        G.ragged_from_lists([[[0.0, 0.0]], [[0.0, 0.0, 1.0]]])


# ---------------------------------------------------------------------------
# Spark parity: each ring UDF vs its numpy kernel over ragged_from_lists
# ---------------------------------------------------------------------------

def _lists(flat, off):
    return [flat[off[i]: off[i + 1]].tolist() for i in range(len(off) - 1)]


def _norm(v):
    """Collected value -> comparable form with floats as their bits."""
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, float):
        return float(v).hex()
    if isinstance(v, (np.floating, np.integer, np.bool_)):
        return _norm(v.item())
    return v


def _oracles(rows, holes):
    """name -> (column function, per-row expected values) from the kernels."""
    from gfp_gdal_spark.functions import geometry as GF
    from gfp_gdal_spark.functions.crs import transform_ring_col
    from gfp_gdal_spark.kernels import crs as KC

    flat, off = G.ragged_from_lists(rows)
    hole_rings = [r for h in holes if h is not None for r in h]
    hrows = np.concatenate(([0], np.cumsum([0 if h is None else len(h) for h in holes])))
    hflat, hoff = G.ragged_from_lists(hole_rings)
    hflat = hflat if hole_rings else np.empty((0, flat.shape[1]))

    def ring_ok(nf, no, ok):
        return [{"ring": r, "ok": bool(o)} for r, o in zip(_lists(nf, no), ok)]

    tm = flat.copy()
    if len(tm):
        tm[:, 0], tm[:, 1] = KC.transform(flat[:, 0], flat[:, 1], "EPSG:4326", "EPSG:32633")
    hf, ho, ha = G.convex_hulls(flat, off)
    cf, co = G.clip_rings_bbox(flat, off, 9.0, 39.0, 11.5, 41.5)
    r = F.col("ring")
    return {
        "area": (GF.ring_area(r), list(np.abs(G.signed_area(flat, off)))),
        "ccw": (GF.ring_is_ccw(r), list(G.signed_area(G._pow2_normalized(flat, off), off) > 0)),
        "valid": (GF.ring_is_valid(r), list(G.rings_valid(flat, off))),
        "orient": (GF.orient_ring(r), _lists(G.orient_rings(flat, off), off)),
        "orient_cw": (GF.orient_ring(r, ccw=False), _lists(G.orient_rings(flat, off, ccw=False), off)),
        "wkt": (GF.ring_wkt(r), G.rings_to_wkt(flat, off)),
        "wkt_holes": (GF.ring_wkt(r, F.col("holes")), G.rings_to_wkt(flat, off, (hrows, hflat, hoff))),
        "simplify": (GF.simplify_ring(r, 0.3), ring_ok(*G.simplify_rings(flat, off, 0.3))),
        "buffer": (GF.buffer_ring(r, 0.2), ring_ok(*G.buffer_convex_rings(flat, off, 0.2, 8))),
        "hull": (GF.points_hull(r), [{"ring": h, "n_hull": len(h), "hull_area": a}
                                     for h, a in zip(_lists(hf, ho), ha)]),
        "segmentize": (GF.segmentize_ring(r, 0.5), _lists(*G.segmentize_rings(flat, off, 0.5))),
        "segmentize_open": (GF.segmentize_ring(r, 0.5, closed=False),
                            _lists(*G.segmentize_rings(flat, off, 0.5, closed=False))),
        "simplify_line": (GF.simplify_line(r, 0.3), _lists(*G.simplify_lines(flat, off, 0.3))),
        "clip": (GF.clip_ring_bbox(r, 9.0, 39.0, 11.5, 41.5),
                 [{"ring": c, "area": a} for c, a in zip(_lists(cf, co), np.abs(G.signed_area(cf, co)))]),
        "transform": (transform_ring_col(r, "EPSG:4326", "EPSG:32633"), _lists(tm, off)),
    }


@pytest.mark.parametrize("width", [2, 3])
def test_ring_udfs_match_kernels(spark, width):
    rng = np.random.default_rng(100 + width)
    rows = _rows(rng, 150, width)
    holes = [None if rng.random() < 0.4 else [r for r in _rows(rng, int(rng.integers(0, 3)), width) if r]
             for _ in rows]
    df = spark.createDataFrame(list(zip(range(len(rows)), rows, holes)), SCHEMA).repartition(3)
    oracles = _oracles(rows, holes)
    got = df.select("id", *[c.alias(k) for k, (c, _) in oracles.items()]).collect()
    assert len(got) == len(rows)
    for row in got:
        i = row["id"]
        for k, (_, want) in oracles.items():
            if rows[i] is None:
                assert row[k] is None, (k, i)
            else:
                assert _norm(row[k]) == _norm(want[i]), (k, i)


def test_null_ring_gives_null(spark):
    """NULL in -> NULL out for every ring function (a NULL struct for the
    struct results); an empty ring keeps its own result."""
    from gfp_gdal_spark.operators import transforms as TR

    sq = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]
    df = spark.createDataFrame([(0, None, None), (1, [], []), (2, sq, None)], SCHEMA).coalesce(1)
    oracles = _oracles([None, [], sq], [None, [], None])
    got = {r["id"]: r for r in df.select("id", *[c.alias(k) for k, (c, _) in oracles.items()]).collect()}
    for k in oracles:
        assert got[0][k] is None, k
    empty = got[1].asDict(recursive=True)
    assert (empty["area"], empty["valid"], empty["ccw"], empty["wkt"]) == (0.0, False, False, "POLYGON EMPTY")
    assert empty["orient"] == empty["segmentize"] == empty["simplify_line"] == empty["transform"] == []
    assert empty["simplify"] == empty["buffer"] == {"ring": [], "ok": False}
    assert empty["clip"] == {"ring": [], "area": 0.0}
    assert got[2]["area"] == 4.0 and got[2]["wkt_holes"] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    # a CRS transform on read keeps a NULL geometry NULL instead of []
    out = TR.crs_transform(df, "EPSG:4326", "EPSG:3857", x=None, y=None, ring="ring")
    assert [r["ring"] for r in out.orderBy("id").collect()][:2] == [None, []]


def test_triangles_wkt_null_empty_xyz(spark):
    from gfp_gdal_spark.operators import mesh as M

    third = 1.0 / 3.0
    rows = [
        (0, None),
        (1, []),
        (2, [[[0.0, 0.0, 10.0], [2.0, 0.0, 10.0], [0.0, 2.0, 10.0]],
             [[third, -0.0, 1e20], [2.5, 2.0, 10.0], [0.0, 2.0, 1e-7]]]),
        (3, [[[0.0, 0.0, 1.0], [1.0, 0.0, 1.0], [1.0, 1.0, 1.0]]]),
    ]
    df = spark.createDataFrame(rows, "id long, tris array<array<array<double>>>").coalesce(1)
    got = {r["id"]: r["w"] for r in df.select("id", M.triangles_wkt_col(F.col("tris")).alias("w")).collect()}
    assert got[0] is None
    assert got[1] == "MULTIPOLYGON EMPTY"
    assert got[2] == (
        "MULTIPOLYGON Z (((0 0 10, 2 0 10, 0 2 10, 0 0 10)), "
        "((0.333333333 -0 1e+20, 2.5 2 10, 0 2 1e-07, 0.333333333 -0 1e+20)))"
    )
    assert got[3] == "MULTIPOLYGON Z (((0 0 1, 1 0 1, 1 1 1, 0 0 1)))"
    xy = spark.createDataFrame([([[[0.5, 0.25], [1.0, 0.0], [1.0, 1.0]]],)], "tris array<array<array<double>>>")
    assert xy.select(M.triangles_wkt_col(F.col("tris"))).first()[0] == (
        "MULTIPOLYGON (((0.5 0.25, 1 0, 1 1, 0.5 0.25)))"
    )
