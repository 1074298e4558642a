"""Geometry column functions over the ragged-ring numpy kernels.

Every Python ring function is an ``F.arrow_udf``: it reads the Arrow
``list<list<double>>`` batch through ``kernels.geom.ragged_from_arrow``
into (offsets, flat) ragged form, runs one vectorized kernel pass and
writes the result back with ``kernels.geom.ragged_to_arrow`` — no
pandas and no per-vertex Python object. It is the Spark-idiomatic
replacement for the reference's per-feature loops
(ogr_reader_node.cpp:236, geos_nodes.cpp:141,193). The rest of the
module is pure-JVM Column expressions.

Ring column type: ``array<array<double>>`` (inner = [x, y] or
[x, y, z], the same width across a batch); holes column type:
``array<array<array<double>>>``.

NULL rule: a NULL ring gives NULL — a NULL value, ring or, for the
struct results, a NULL struct. An empty ring is not NULL: it keeps its
own result (area 0.0, not valid, 'POLYGON EMPTY', an empty ring).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from gfp_gdal_spark.kernels import geom as _g

RING_T = "array<array<double>>"


def _to_arrow(v, valid: np.ndarray | None = None) -> pa.Array:
    """A kernel result -> one Arrow value per row, NULL where ``valid``
    is False: a (flat, offsets) pair is a ring, a dict a struct of its
    values, anything else a scalar column."""
    if isinstance(v, tuple):
        return _g.ragged_to_arrow(*v, valid)
    if isinstance(v, dict):
        return pa.StructArray.from_arrays(
            [_to_arrow(x) for x in v.values()], names=list(v), mask=pa.array(~valid)
        )
    return pa.array(v, mask=None if valid is None else ~valid)


def _ring_udf(out_t: str, fn):
    """``fn(flat, offsets) -> kernel result`` as an arrow_udf over one
    ring column: read through ``kernels.geom.ragged_from_arrow``,
    written through :func:`_to_arrow`, NULL for a NULL ring."""

    @F.arrow_udf(out_t)
    def _f(a: pa.Array) -> pa.Array:
        off, flat, valid = _g.ragged_from_arrow(a)
        return _to_arrow(fn(flat, off), valid)

    return _f


def ring_area(ring: Column) -> Column:
    """|shoelace| area — OGRLoader's derived `area` (ogr_reader_node.cpp:275,287)."""
    return _ring_udf("double", lambda flat, off: np.abs(_g.signed_area(flat, off)))(ring)


def ring_is_ccw(ring: Column) -> Column:
    # sign of the normalized area: unscaled cross terms overflow
    return _ring_udf(
        "boolean", lambda flat, off: _g.signed_area(_g._pow2_normalized(flat, off), off) > 0
    )(ring)


def ring_is_valid(ring: Column) -> Column:
    """Validity — OGRLoader's `is_valid` (ogr_reader_node.cpp:265,276,288)."""
    return _ring_udf("boolean", _g.rings_valid)(ring)


def orient_ring(ring: Column, ccw: bool = True) -> Column:
    """Canonical orientation (ogr_reader_node.cpp:86-99; geos_nodes.cpp:31-67)."""
    return _ring_udf(RING_T, lambda flat, off: (_g.orient_rings(flat, off, ccw=ccw), off))(ring)


def ring_wkt(ring: Column, holes: Column | None = None) -> Column:
    """WKT emit — OGRLoader `wkt` terminal (ogr_reader_node.cpp:245).
    The holes column is read through the same Arrow boundary, one list
    level above its rings; a NULL holes value means no holes."""
    if holes is None:
        return _ring_udf("string", _g.rings_to_wkt)(ring)

    @F.arrow_udf("string")
    def _fh(a: pa.Array, h: pa.Array) -> pa.Array:
        off, flat, valid = _g.ragged_from_arrow(a)
        rows, hole_rings, _ = _g.arrow_list_level(h)
        hoff, hflat, _ = _g.ragged_from_arrow(hole_rings)
        return _to_arrow(_g.rings_to_wkt(flat, off, (rows, hflat, hoff)), valid)

    return _fh(ring, holes)


def simplify_ring(ring: Column, tolerance: float) -> Column:
    """Douglas–Peucker simplify -> struct(ring, ok). ok=False means the
    original ring was passed through (PolygonSimplifyGEOS failure
    semantics, geos_nodes.cpp:144-176)."""

    def f(flat, off):
        nf, no, ok = _g.simplify_rings(flat, off, tolerance)
        return {"ring": (nf, no), "ok": ok}

    return _ring_udf(f"struct<ring: {RING_T}, ok: boolean>", f)(ring)


def buffer_ring(ring: Column, offset: float, method: str = "round", quad_segs: int = 8) -> Column:
    """Buffer -> struct(ring, ok) (PolygonBufferGEOS analog,
    geos_nodes.cpp:187-213; invalid result passes original through).

    method="round": Minkowski round-join buffer for convex rings
    (GEOS quadrantSegments semantics; negative = inward miter).
    method="bbox": the axis-aligned bbox kernel (exact for the
    engine's footprint quads, cheaper)."""

    def f(flat, off):
        if method == "round":
            nf, no, ok = _g.buffer_convex_rings(flat, off, offset, quad_segs)
        else:
            nf, no, ok = _g.buffer_bbox_rings(flat, off, offset)
        return {"ring": (nf, no), "ok": ok}

    return _ring_udf(f"struct<ring: {RING_T}, ok: boolean>", f)(ring)


# ---------------------------------------------------------------------------
# z / 2.5D helpers — reference geometry is xyz (arr3f,
# ogr_reader_node.cpp:93), with a base_elevation z-override (:93-97)
# ---------------------------------------------------------------------------

def ring_set_z(ring: Column, z: Column) -> Column:
    """Lift a 2D ring to xyz at constant z (or override an existing z)
    — the base_elevation knob, pure JVM."""
    return F.transform(ring, lambda p: F.array(p[0], p[1], z))


def ring_z0(ring: Column) -> Column:
    """z of the first vertex (null for 2D rings) — pure JVM."""
    return F.element_at(F.element_at(ring, 1), 3)


# ---------------------------------------------------------------------------
# WKT parse (input direction — OGR accepts WKT; interchange must be
# two-way). Pure JVM string ops: no Python stage in a WKT-ingest scan.
# ---------------------------------------------------------------------------

def parse_wkt_polygon(wkt: Column) -> Column:
    """'POLYGON ((x y[ z], ...))' -> exterior ring array<array<double>>
    in the engine canon (UNCLOSED: the closing vertex is dropped).
    Holes, if present, are ignored here — use parse_wkt_polygon_holes.
    Returns null for 'POLYGON EMPTY'."""
    body = F.regexp_extract(wkt, r"\(\(([^()]*)[\)]", 1)
    pts = F.split(body, r",\s*")
    ring = F.transform(
        pts, lambda p: F.transform(F.split(F.trim(p), r"\s+"), lambda v: v.cast("double"))
    )
    ring = F.slice(ring, 1, F.size(ring) - 1)  # drop the closing vertex
    return F.when(F.length(body) > 0, ring)


def parse_wkt_polygon_holes(wkt: Column) -> Column:
    """Hole rings of a POLYGON wkt as array<array<array<double>>>
    (empty array when none)."""
    inner = F.regexp_extract(wkt, r"^[A-Z Z]*\s*\((.*)\)\s*$", 1)
    rings = F.split(inner, r"\)\s*,\s*\(")
    rings = F.transform(rings, lambda s: F.regexp_replace(s, r"[()]", ""))
    parsed = F.transform(
        rings,
        lambda s: F.transform(
            F.split(s, r",\s*"),
            lambda p: F.transform(F.split(F.trim(p), r"\s+"), lambda v: v.cast("double")),
        ),
    )
    hole_rings = F.slice(parsed, 2, F.greatest(F.size(parsed) - 1, F.lit(0)))
    return F.transform(hole_rings, lambda r: F.slice(r, 1, F.size(r) - 1))


# ---------------------------------------------------------------------------
# LineString column ops (reference reads line_strings first-class,
# ogr_reader_node.cpp:254-263)
# ---------------------------------------------------------------------------

def line_length_col(points: Column) -> Column:
    """Planar length of a polyline array<array<double>> — pure JVM
    (zip consecutive vertices, aggregate hypot)."""
    n = F.size(points)
    segs = F.sequence(F.lit(0), n - 2)
    return F.when(
        n >= 2,
        F.aggregate(
            segs,
            F.lit(0.0),
            lambda acc, i: acc
            + F.sqrt(
                F.pow(F.get(points, i + 1)[0] - F.get(points, i)[0], 2)
                + F.pow(F.get(points, i + 1)[1] - F.get(points, i)[1], 2)
            ),
        ),
    ).otherwise(F.lit(0.0))


def linestring_wkt(points: Column) -> Column:
    """LINESTRING wkt from a points array — pure JVM formatting (%.9g
    parity with kernels.rings_to_wkt's float format is NOT claimed;
    this uses repr-style doubles)."""
    return F.concat(
        F.lit("LINESTRING ("),
        F.array_join(
            F.transform(
                points,
                lambda p: F.concat_ws(" ", F.transform(p, lambda v: v.cast("string"))),
            ),
            ", ",
        ),
        F.lit(")"),
    )


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Haversine meters as a pure Column expression (JVM-side)."""
    r = 6371008.8
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    return 2 * r * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def ring_centroid(ring: Column) -> Column:
    """Area-weighted polygon centroid (the shoelace/Green's-theorem
    formula) of an UNCLOSED ring — pure JVM fold, orientation-
    independent (the signed area cancels in the Cx/Cy ratios).
    Returns struct(cx, cy); degenerate rings (|area| == 0, e.g. all
    points collinear) fall back to the vertex mean — defined for every
    input rather than NaN."""
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - 1)

    def cross(i):
        p = F.get(ring, i)
        q = F.get(ring, F.pmod(i + 1, n))  # wrap last -> first
        return p[0] * q[1] - q[0] * p[1]

    acc0 = F.struct(
        F.lit(0.0).alias("a"), F.lit(0.0).alias("sx"), F.lit(0.0).alias("sy")
    )
    folded = F.aggregate(
        idx,
        acc0,
        lambda acc, i: F.struct(
            (acc["a"] + cross(i)).alias("a"),
            (
                acc["sx"]
                + (F.get(ring, i)[0] + F.get(ring, F.pmod(i + 1, n))[0]) * cross(i)
            ).alias("sx"),
            (
                acc["sy"]
                + (F.get(ring, i)[1] + F.get(ring, F.pmod(i + 1, n))[1]) * cross(i)
            ).alias("sy"),
        ),
    )
    mean_x = F.aggregate(
        ring, F.lit(0.0), lambda acc, p: acc + p[0]
    ) / n.cast("double")
    mean_y = F.aggregate(
        ring, F.lit(0.0), lambda acc, p: acc + p[1]
    ) / n.cast("double")
    cx = F.when(
        folded["a"] != 0.0, folded["sx"] / (F.lit(3.0) * folded["a"])
    ).otherwise(mean_x)
    cy = F.when(
        folded["a"] != 0.0, folded["sy"] / (F.lit(3.0) * folded["a"])
    ).otherwise(mean_y)
    return F.struct(cx.alias("cx"), cy.alias("cy"))


def points_hull(points: Column) -> Column:
    """Convex hull of a point array (array<array<double>>) —
    ``kernels.geom.convex_hulls`` (Andrew's monotone chain, STRICT
    turns, so collinear boundary points are excluded). Returns
    struct(ring, n_hull, hull_area): hull ring CCW, unclosed, starting
    at the lexicographic-min vertex; area by the shoelace formula (0
    for degenerate <3-point hulls). Per-ROW work is one chain over
    that row's points (rows here are per-key aggregates, not raw
    points)."""

    def f(flat, off):
        hf, ho, area = _g.convex_hulls(flat, off)
        return {"ring": (hf, ho), "n_hull": np.diff(ho).astype(np.int32), "hull_area": area}

    return _ring_udf(f"struct<ring: {RING_T}, n_hull: int, hull_area: double>", f)(points)


def segmentize_ring(ring: Column, max_len: float, closed: bool = True) -> Column:
    """Densify so no segment exceeds ``max_len`` (the `ogr2ogr
    -segmentize` rule); original vertices preserved exactly."""
    return _ring_udf(RING_T, lambda flat, off: _g.segmentize_rings(flat, off, max_len, closed=closed))(ring)


def simplify_line(points: Column, tol: float) -> Column:
    """DP-simplify an OPEN polyline (endpoints anchored, no ring
    gates) — the line-layer side of `ogr2ogr -simplify`."""
    return _ring_udf(RING_T, lambda flat, off: _g.simplify_lines(flat, off, tol))(points)


def clip_ring_bbox(
    ring: Column, xmin: float, ymin: float, xmax: float, ymax: float
) -> Column:
    """Sutherland-Hodgman rect clip -> struct(ring, area). Fully
    outside rings come back empty with area 0.0 (the operator layer
    decides whether to drop them)."""

    def f(flat, off):
        nf, no = _g.clip_rings_bbox(flat, off, xmin, ymin, xmax, ymax)
        return {"ring": (nf, no), "area": np.abs(_g.signed_area(nf, no))}

    return _ring_udf(f"struct<ring: {RING_T}, area: double>", f)(ring)
