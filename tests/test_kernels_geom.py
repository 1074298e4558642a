"""Unit + property tests of the ragged geometry kernels (no Spark).

Mirrors the reference's semantic guarantees: ring canon (CCW ext / CW
holes, unclosed — ogr_reader_node.cpp:86-107), degenerate-geometry
pass-through (geos_nodes.cpp:144-176), hole semantics
(ogr_reader_node.cpp:101-119).
"""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from gfp_gdal_spark.kernels import geom as G

SQUARE = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]
SQUARE_CW = [[0.0, 0.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0]]
BOWTIE = [[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0]]


def ragged(rings):
    return G.ragged_from_lists(rings)


def test_signed_area_and_orientation():
    flat, off = ragged([SQUARE, SQUARE_CW])
    area = G.signed_area(flat, off)
    assert area[0] == pytest.approx(4.0)
    assert area[1] == pytest.approx(-4.0)


def test_orient_idempotent():
    flat, off = ragged([SQUARE, SQUARE_CW, BOWTIE])
    once = G.orient_rings(flat, off)
    twice = G.orient_rings(once, off)
    assert np.array_equal(once, twice)
    assert (G.signed_area(once, off) >= 0).all()


@pytest.mark.parametrize("scale", [1.0, 1e300, 1e-300])
def test_orient_huge_and_tiny_coordinates(scale):
    """The orientation does not depend on a uniform scale: at 1e300 the
    unscaled shoelace cross terms overflow to inf/NaN, at 1e-300 they
    underflow to 0."""
    ccw = (np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]]) * scale).tolist()
    cw = ccw[:1] + ccw[:0:-1]
    flat, off = ragged([ccw, cw])
    assert G.orient_rings(flat, off, ccw=True).tolist() == ccw + cw[::-1]
    assert G.orient_rings(flat, off, ccw=False).tolist() == ccw[::-1] + cw


def test_ragged_roundtrip():
    rings = [SQUARE, [], SQUARE_CW, None, [[1.0, 2.0]]]
    flat, off = ragged(rings)
    back = G.ragged_to_arrow(flat, off).to_pylist()
    off2, flat2, valid = G.ragged_from_arrow(G.ragged_to_arrow(flat, off))
    assert np.array_equal(off2, off) and np.array_equal(flat2, flat) and valid.all()
    assert back[0] == SQUARE
    assert back[1] == []
    assert back[3] == []
    assert back[4] == [[1.0, 2.0]]


def test_pip_basic_and_degenerate():
    flat, off = ragged([SQUARE, SQUARE, [[0.0, 0.0], [1.0, 1.0]]])
    px = np.array([1.0, 5.0, 0.5])
    py = np.array([1.0, 5.0, 0.5])
    got = G.points_in_rings_pairwise(px, py, flat, off)
    assert got.tolist() == [True, False, False]  # degenerate ring contains nothing


def test_pip_holes():
    ring = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
    hole = [[4.0, 4.0], [4.0, 6.0], [6.0, 6.0], [6.0, 4.0]]  # CW
    flat, off = ragged([ring, ring])
    got = G.point_in_polygon_pairwise(
        np.array([5.0, 2.0]), np.array([5.0, 2.0]), flat, off, [[hole], [hole]]
    )
    assert got.tolist() == [False, True]  # center is inside the hole


def _fuzz_ring(rng):
    """0..8 vertices around a random centre; about half snapped to a
    0.5 grid, so rings share vertices and edges with each other and
    with the snapped probes."""
    k = int(rng.integers(0, 9))
    c = rng.uniform(-3, 3, 2)
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    pts = c + rng.uniform(0.3, 2.5, (k, 1)) * np.stack([np.cos(ang), np.sin(ang)], axis=1)
    snap = rng.random(k) < 0.5
    pts[snap] = np.round(pts[snap] * 2) / 2
    return pts.tolist()


@pytest.mark.parametrize("seed", range(8))
def test_points_in_polygons_indexed_matches_pairwise(seed):
    """The shared-table ray cast equals the per-row one bit for bit on
    random 0..8-gons with 0..2 holes each."""
    rng = np.random.default_rng(seed)
    n_poly, n = int(rng.integers(1, 12)), 400
    ext = [_fuzz_ring(rng) for _ in range(n_poly)]
    holes = [[_fuzz_ring(rng) for _ in range(int(rng.integers(0, 3)))] for _ in range(n_poly)]
    pidx = rng.integers(0, n_poly, n)
    xy = rng.uniform(-5, 5, (n, 2))
    snap = rng.random(n) < 0.5
    xy[snap] = np.round(xy[snap] * 2) / 2
    px, py = xy[:, 0], xy[:, 1]
    flat, off = ragged(ext)
    hole_rings = [r for h in holes for r in h]
    hpoly = np.array([i for i, h in enumerate(holes) for _ in h], dtype=np.int64)
    hflat, hoff = ragged(hole_rings)
    got = G.points_in_polygons_indexed(px, py, pidx, flat, off, hflat, hoff, hpoly)
    eflat, eoff = ragged([ext[i] for i in pidx])
    want = G.point_in_polygon_pairwise(px, py, eflat, eoff, [holes[i] for i in pidx])
    assert got.any() and np.array_equal(got, want)


def test_validity():
    flat, off = ragged([SQUARE, BOWTIE, [[0.0, 0.0], [1.0, 0.0]]])
    assert G.rings_valid(flat, off).tolist() == [True, False, False]


@pytest.mark.parametrize("scale", [1.0, 1e300, 1e-300])
def test_validity_huge_coordinates(scale):
    """The verdict does not depend on a uniform scale: at 1e300 every
    unscaled cross product overflows to inf/NaN, which must neither hide
    a crossing nor make a zero-area ring look valid."""
    rings = [SQUARE, BOWTIE, [[-1.0, -1.0], [0.0, 0.0], [1.0, 1.0]],
             [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [1.0, -1.0]]]
    flat, off = ragged([(np.asarray(r) * scale).tolist() for r in rings])
    with np.errstate(all="raise"):
        got = G.rings_valid(flat, off).tolist()
    assert got == [True, False, False, False]


def test_simplify_passthrough_and_reduction():
    noisy = [[0.0, 0.0], [1.0, 0.001], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]
    degenerate = [[0.0, 0.0], [1.0, 0.0]]
    flat, off = ragged([noisy, degenerate])
    nf, no, ok = G.simplify_rings(flat, off, 0.01)
    out = G.ragged_to_arrow(nf, no).to_pylist()
    assert ok.tolist() == [True, False]
    assert len(out[0]) == 4  # collinear-ish vertex removed
    assert out[1] == degenerate  # pass-through (geos_nodes.cpp:144-148)


def test_buffer_bbox():
    flat, off = ragged([SQUARE])
    nf, no, ok = G.buffer_bbox_rings(flat, off, 1.0)
    assert ok.tolist() == [True]
    bb = G.ring_bbox(nf, no)[0]
    assert bb.tolist() == [-1.0, -1.0, 3.0, 3.0]
    # negative buffer that inverts -> pass-through original
    nf2, no2, ok2 = G.buffer_bbox_rings(flat, off, -2.0)
    assert ok2.tolist() == [False]
    assert G.ragged_to_arrow(nf2, no2).to_pylist()[0] == SQUARE


def test_buffer_bbox_xyz_mixed_pass_through():
    """An xyz batch where one ring boxes and one inverts: both come out
    xy (the pass-through drops z like the boxes do), no mixed-width
    error."""
    small = [[0.0, 0.0, 5.0], [1.0, 0.0, 5.0], [1.0, 1.0, 5.0], [0.0, 1.0, 5.0]]
    big = [[0.0, 0.0, 7.0], [3.0, 0.0, 7.0], [3.0, 3.0, 7.0], [0.0, 3.0, 7.0]]
    flat, off = ragged([small, big])
    nf, no, ok = G.buffer_bbox_rings(flat, off, -0.6)
    assert ok.tolist() == [False, True]
    assert nf.shape[1] == 2
    assert G.ragged_to_arrow(nf, no).to_pylist() == [
        [p[:2] for p in small],
        [[0.6, 0.6], [2.4, 0.6], [2.4, 2.4], [0.6, 2.4]],
    ]


def test_wkt():
    flat, off = ragged([SQUARE, []])
    w = G.rings_to_wkt(flat, off)
    assert w[0] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert w[1] == "POLYGON EMPTY"
    hole = [[0.5, 0.5], [0.5, 1.0], [1.0, 1.0], [1.0, 0.5]]
    hflat, hoff = ragged([hole, []])
    w2 = G.rings_to_wkt(flat, off, (np.array([0, 2, 2]), hflat, hoff))
    assert w2[0] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 0.5 1, 1 1, 1 0.5, 0.5 0.5))"
    assert w2[1] == "POLYGON EMPTY"


@st.composite
def random_polygon(draw):
    """Star-convex polygon around a random center: always simple/valid."""
    n = draw(st.integers(3, 12))
    cx = draw(st.floats(-100, 100))
    cy = draw(st.floats(-80, 80))
    angles = np.sort(
        np.array([draw(st.floats(0.0, 2 * np.pi - 1e-6)) for _ in range(n)])
    )
    if len(np.unique(angles)) < 3:
        angles = np.linspace(0, 2 * np.pi, n, endpoint=False)
    radii = np.array([draw(st.floats(0.5, 5.0)) for _ in range(n)])
    pts = np.stack([cx + radii * np.cos(angles), cy + radii * np.sin(angles)], axis=1)
    return pts.tolist()


@given(random_polygon(), st.floats(-120, 120), st.floats(-90, 90))
@settings(max_examples=100, deadline=None)
def test_pip_matches_matplotlib_free_oracle(poly, px, py):
    """Ray cast vs an independent winding-number oracle."""
    flat, off = ragged([poly])
    got = bool(G.points_in_rings_pairwise(np.array([px]), np.array([py]), flat, off)[0])
    # winding number oracle
    pts = np.asarray(poly)
    x = pts[:, 0] - px
    y = pts[:, 1] - py
    # boundary points (on a vertex or an edge) are convention-defined
    # under the half-open ray-cast rule — the oracle can't adjudicate
    # them (hypothesis found px,py exactly on a vertex: the winding sum
    # reads 2pi while the half-open cast excludes it; both are valid)
    x2r, y2r = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2r - y * x2r
    dot = x * x2r + y * y2r
    lens = np.hypot(x, y) * np.hypot(x2r, y2r)
    on_edge = (np.abs(cross) <= 1e-9 * np.maximum(lens, 1e-30)) & (dot <= 1e-12)
    if on_edge.any():  # includes an exact vertex hit (lens term -> 0)
        return
    x2 = np.roll(x, -1)
    y2 = np.roll(y, -1)
    ang = np.arctan2(x * y2 - y * x2, x * x2 + y * y2)
    wn = abs(ang.sum()) > np.pi  # ~2pi inside, ~0 outside
    if min(abs(ang.sum() - 2 * np.pi), abs(ang.sum()), abs(ang.sum() + 2 * np.pi)) > 1e-6:
        assert got == bool(wn)


@given(random_polygon(), st.floats(0.001, 2.0))
@settings(max_examples=60, deadline=None)
@example(
    poly=[[1.0, 0.5],
     [3.0, 0.5],
     [1.0, 0.5],
     [0.5403023058681398, 1.3414709848078965],
     [-1.2484405096414273, 3.227892280477045]],
    tol=1.0,
).via('discovered failure')
def test_simplify_properties(poly, tol):
    flat, off = ragged([poly])
    nf, no, ok = G.simplify_rings(flat, off, tol)
    n_in = len(poly)
    n_out = no[1] - no[0]
    assert n_out <= n_in  # never adds vertices
    if ok[0]:
        assert n_out >= 3
        assert G.signed_area(nf, no)[0] > 0  # re-oriented CCW
        # vertex 0 anchored as a MEMBER (the CCW re-orient may reverse
        # vertex order, as GEOS reverse does)
        out0 = np.asarray(G.ragged_to_arrow(nf, no).to_pylist()[0])
        assert np.isclose(out0, np.asarray(poly[0])[None, :]).all(axis=1).any()
    else:
        assert G.ragged_to_arrow(nf, no).to_pylist()[0] == poly  # pass-through


def test_haversine_known():
    # one degree of longitude at the equator ~ 111.195 km on the mean sphere
    d = G.haversine([0.0], [0.0], [1.0], [0.0])[0]
    assert d == pytest.approx(111195.08, rel=1e-4)
