"""Parity of the scanline burn (``kernels.geom.scanline_burn`` and
``operators.raster.rasterize_zones``) with the pixel-centre rule: a pixel
burns the minimum value of the zones whose closed exterior bbox holds its
centre and whose exterior (minus holes) contains it under the
``points_in_polygons_indexed`` ray cast.

The fuzz cases cover random overlapping k-gons with holes, zones whose
vertices and horizontal edges sit exactly on pixel-centre rows and
columns, rings with fewer than 3 vertices, zero-area rings, coordinates
of +-1e300 and +-1e308 (``xint`` overflows to inf and NaN), holes with a
NaN vertex, mirrored frames, frames with no zone and zones with a NULL
value.
"""

import numpy as np
import pytest

from gfp_gdal_spark.kernels import geom as G

BIG = np.iinfo(np.int64).max


def centres(x0, y0, x1, y1, w, h):
    c, r = np.arange(w, dtype=np.float64), np.arange(h, dtype=np.float64)
    return x0 + ((c + 0.5) * (x1 - x0)) / w, y1 - ((r + 0.5) * (y1 - y0)) / h


def oracle(px, py, zones):
    """(flat min-value canvas, burned mask) by testing every pixel centre
    against every zone; ``zones`` is a list of (ring, holes, value) and a
    zone with value None burns nothing."""
    live = [z for z in zones if z[2] is not None]
    gx, gy = np.meshgrid(px, py)
    x, y = gx.ravel(), gy.ravel()
    best, burned = np.full(x.size, BIG), np.zeros(x.size, dtype=bool)
    if not live:
        return best, burned
    flat, off = G.ragged_from_lists([z[0] for z in live])
    hole_rings = [r for z in live for r in (z[1] or [])]
    hole_poly = np.array([j for j, z in enumerate(live) for _ in (z[1] or [])], dtype=np.int64)
    hflat, hoff = G.ragged_from_lists(hole_rings)
    bb = G.ring_bbox(flat, off)
    for j, z in enumerate(live):
        with np.errstate(invalid="ignore"):
            idx = np.flatnonzero(
                (x >= bb[j, 0]) & (x <= bb[j, 2]) & (y >= bb[j, 1]) & (y <= bb[j, 3])
            )
        inside = G.points_in_polygons_indexed(
            x[idx], y[idx], np.full(len(idx), j), flat, off, hflat, hoff, hole_poly
        )
        idx = idx[inside]
        best[idx] = np.minimum(best[idx], z[2])
        burned[idx] = True
    return best, burned


def kernel(px, py, zones):
    live = [z for z in zones if z[2] is not None]
    rings = [z[0] for z in live] + [r for z in live for r in (z[1] or [])]
    hole_zone = [j for j, z in enumerate(live) for _ in (z[1] or [])]
    flat, off = G.ragged_from_lists(rings)
    vals = np.array([z[2] for z in live], dtype=np.int64)
    return G.scanline_burn(px, py, flat, off, vals, np.array(hole_zone, dtype=np.int64))


def kgon(rng, cx, cy, rad, k):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1).tolist()


def random_zones(rng, frame, n, world=True):
    """n zones over ``frame``: random k-gons (k = 3..8), some with 1-2
    holes, some snapped to pixel centres, a few degenerate or huge
    (``world``: also zones at +-1e300 that cover every frame)."""
    x0, y0, x1, y1, w, h = frame
    px, py = centres(*frame)
    lo_x, hi_x = min(x0, x1), max(x0, x1)
    zones = []
    for _ in range(n):
        kind = rng.random()
        cx, cy = float(rng.uniform(lo_x, hi_x)), float(rng.uniform(y0, y1))
        rad = float(rng.uniform(0.05, 0.6) * (hi_x - lo_x))
        if kind < 0.25:  # vertices on pixel centres, horizontal edges on centre rows
            c = np.sort(rng.choice(len(px), 2, replace=len(px) < 2))
            r = np.sort(rng.choice(len(py), 2, replace=len(py) < 2))
            ring = np.array([[px[c[0]], py[r[0]]], [px[c[1]], py[r[0]]], [px[c[1]], py[r[1]]],
                             [px[(c[0] + c[1]) // 2], py[(r[0] + r[1]) // 2]], [px[c[0]], py[r[1]]]]).tolist()
        elif kind < 0.3:  # fewer than 3 vertices
            ring = kgon(rng, cx, cy, rad, int(rng.integers(0, 3)))
        elif kind < 0.35:  # zero area: collinear or repeated vertices
            ring = [[cx, cy], [cx + rad, cy + rad], [cx + 2 * rad, cy + 2 * rad], [cx, cy]]
        elif kind < 0.39:  # huge extent in y, bbox ends at the frame's right edge;
            # at 1e308 the edge deltas overflow to inf and xint to NaN
            big = float(rng.choice([1e300, 1e308]))
            ring = [[lo_x - big, -big], [hi_x, -big], [cx, big]]
        elif kind < 0.42 and world:  # huge coordinates on both axes
            ring = (np.asarray(kgon(rng, 0.0, 0.0, 1.0, int(rng.integers(3, 9)))) * 1e300).tolist()
        else:
            ring = kgon(rng, cx, cy, rad, int(rng.integers(3, 9)))
        holes = None
        if rng.random() < 0.3:
            holes = [kgon(rng, cx + float(rng.uniform(-rad, rad)) / 2, cy, rad / 2, int(rng.integers(3, 6)))[::-1]
                     for _ in range(int(rng.integers(1, 3)))]
            if rng.random() < 0.2:  # a NaN vertex: its edges never straddle
                holes[0][0][int(rng.integers(0, 2))] = float("nan")
        value = None if rng.random() < 0.08 else int(rng.integers(-3, 300))
        zones.append((ring, holes, value))
    return zones


@pytest.mark.parametrize("seed", range(6))
def test_scanline_kernel_matches_pixel_centre_rule(seed):
    rng = np.random.default_rng(seed)
    for _ in range(40):
        w, h = (int(v) for v in rng.integers(1, 40, 2))
        x0, y0 = rng.uniform(-20, 10, 2)
        x1, y1 = x0 + rng.uniform(0.5, 20), y0 + rng.uniform(0.5, 20)
        if rng.random() < 0.15:
            x0, x1 = x1, x0  # mirrored frame: px decreases with the column
        frame = (x0, y0, x1, y1, w, h)
        zones = random_zones(rng, frame, int(rng.integers(0, 12)))
        px, py = centres(*frame)
        with np.errstate(all="ignore"):
            want, want_b = oracle(px, py, zones)
        got, got_b = kernel(px, py, zones)
        np.testing.assert_array_equal(got_b, want_b)
        np.testing.assert_array_equal(got[got_b], want[want_b])


def test_rasterize_zones_matches_pixel_centre_rule(spark):
    from gfp_gdal_spark.kernels.codec import decode_image
    from gfp_gdal_spark.operators.raster import rasterize_zones

    rng = np.random.default_rng(11)
    frames = {
        "rand": (-5.0, -3.0, 7.0, 6.0, 23, 17),
        "snap": (10.0, 0.0, 14.0, 3.0, 16, 12),
        "mirror": (25.0, -4.0, 19.0, 2.0, 13, 9),
        "empty": (150.0, 50.0, 160.0, 60.0, 6, 4),
    }
    zones = []
    for name in ("rand", "snap", "mirror"):
        zones += random_zones(rng, frames[name], 14, world=False)
    # a NULL-valued zone covering a whole frame is skipped, not burned
    zones.append(([[9.0, -1.0], [15.0, -1.0], [15.0, 4.0], [9.0, 4.0]], None, None))
    fdf = spark.createDataFrame(
        [(k, *v) for k, v in frames.items()],
        "image_id string, min_lon double, min_lat double, max_lon double, max_lat double, w int, h int",
    )
    zdf = spark.createDataFrame(
        zones, "ring array<array<double>>, holes array<array<array<double>>>, zval int"
    )
    out = {r["image_id"]: r for r in rasterize_zones(fdf, zdf, value="zval").collect()}
    assert set(out) == set(frames)
    burned_frames = 0
    for name, frame in frames.items():
        with np.errstate(all="ignore"):
            best, burned = oracle(*centres(*frame), zones)
        w, h = frame[4], frame[5]
        row = out[name]
        assert (row["w"], row["h"], row["fmt"]) == (w, h, "pgm")
        assert row["n_burned"] == int(burned.sum()), name
        assert row["val_sum"] == int(best[burned].sum()), name
        want = np.clip(np.where(burned, best, 0), 0, 255).astype(np.uint8).reshape(h, w)
        np.testing.assert_array_equal(decode_image(bytes(row["bytes"]), row["fmt"]), want)
        burned_frames += bool(burned.any())
    assert burned_frames >= 3 and out["empty"]["n_burned"] == 0


def test_rasterize_zones_skips_nan_values_and_truncates(spark):
    """A double ``value`` is cast to long before the min rule (3.9 -> 3);
    a NaN value, like NULL, burns nothing."""
    from gfp_gdal_spark.operators.raster import rasterize_zones

    fdf = spark.createDataFrame(
        [("f", 0.0, 0.0, 4.0, 4.0, 4, 4)],
        "image_id string, min_lon double, min_lat double, max_lon double, max_lat double, w int, h int",
    )
    whole = [[0.1, 0.1], [3.9, 0.1], [3.9, 3.9], [0.1, 3.9]]
    corner = [[0.1, 0.1], [1.9, 0.1], [1.9, 1.9], [0.1, 1.9]]
    zdf = spark.createDataFrame(
        [(whole, float("nan")), (corner, 3.9), (corner, 7.5)], "ring array<array<double>>, v double"
    )
    r = rasterize_zones(fdf, zdf, value="v", holes=None).collect()[0]
    assert r["n_burned"] == 4 and r["val_sum"] == 4 * 3
