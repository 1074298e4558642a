"""Spatial column functions.

WebMercator tiling, hex/S2 cell ids and footprint derivation are pure
Column expressions — they compile into whole-stage codegen and cost no
Python round-trip (check: ``df.explain`` shows no ArrowEvalPython for
tile_assign); ``kernels.cells`` holds their numpy twins for tests.

Footprint contract (FIXTURES.md §1): the georeference of an image is
derived ONLY from (phash, w, h):

    lon_c = (phash & 0xFFFFFFFF) / 2^32 * 360 - 180
    lat_c = ((phash >> 32) & 0xFFFFFFFF) / 2^32 * 170 - 85
    dlon  = w * 1e-4 ; dlat = h * 1e-4
    ring  = axis-aligned quad, CCW, unclosed   (ring canon of the
            reference: ogr_reader_node.cpp:86-99)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gfp_gdal_spark.kernels import cells as _cells

_U32 = 4294967295  # 0xFFFFFFFF
_P32 = 4294967296.0  # 2^32
MAX_LAT = _cells.MAX_LAT_WEBMERC


# ---------------------------------------------------------------------------
# footprints (pure column math)
# ---------------------------------------------------------------------------

def footprint_cols(phash: Column, w: Column, h: Column) -> dict[str, Column]:
    """Center + half-extent columns of the deterministic footprint."""
    lon_c = (phash.bitwiseAND(F.lit(_U32)).cast("double") / F.lit(_P32)) * 360.0 - 180.0
    lat_c = (
        F.shiftright(phash, 32).bitwiseAND(F.lit(_U32)).cast("double") / F.lit(_P32)
    ) * 170.0 - 85.0
    return {
        "lon_c": lon_c,
        "lat_c": lat_c,
        "dlon": w.cast("double") * 1e-4,
        "dlat": h.cast("double") * 1e-4,
    }


def footprint_ring_col(lon_c: Column, lat_c: Column, dlon: Column, dlat: Column) -> Column:
    """CCW unclosed quad ring as array<array<double>>."""
    x0, x1 = lon_c - dlon, lon_c + dlon
    y0, y1 = lat_c - dlat, lat_c + dlat
    return F.array(
        F.array(x0, y0), F.array(x1, y0), F.array(x1, y1), F.array(x0, y1)
    )


def with_footprint(df: DataFrame, phash="phash", w="w", h="h") -> DataFrame:
    """images table -> + lon_c/lat_c/dlon/dlat/ring columns."""
    c = footprint_cols(F.col(phash), F.col(w), F.col(h))
    df = df.withColumns(c)
    return df.withColumn(
        "ring", footprint_ring_col(F.col("lon_c"), F.col("lat_c"), F.col("dlon"), F.col("dlat"))
    )


# ---------------------------------------------------------------------------
# WebMercator tiles (pure column math — slippy map spec; the same
# floor/ln/tan formula is used verbatim in the DuckDB oracles)
# ---------------------------------------------------------------------------

def tile_cols(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    n = float(1 << z)
    lat_cl = F.greatest(F.least(lat, F.lit(MAX_LAT)), F.lit(-MAX_LAT))
    lat_r = F.radians(lat_cl)
    xt = F.floor((lon + 180.0) / 360.0 * n)
    yt = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793)) / 2.0 * n
    )
    xt = F.greatest(F.least(xt, F.lit(int(n - 1))), F.lit(0)).cast("long")
    yt = F.greatest(F.least(yt, F.lit(int(n - 1))), F.lit(0)).cast("long")
    return xt, yt


def tile_cover_cols(
    min_lon: Column, min_lat: Column, max_lon: Column, max_lat: Column, z: int
) -> tuple[Column, Column, Column, Column]:
    """Inclusive tile ranges (x0,x1,y0,y1) covering a bbox. Explode with
    ``F.explode(F.sequence(x0, x1))`` — the multi-tile analog of the
    reference's multipolygon flatten (ogr_reader_node.cpp:281-291)."""
    x0, y1 = tile_cols(min_lon, min_lat, z)
    x1, y0 = tile_cols(max_lon, max_lat, z)
    return x0, x1, y0, y1


# ---------------------------------------------------------------------------
# hex cells — pure Column expressions (JVM, whole-stage codegen).
#
# Exactly the hexlite spec of kernels/cells.py, bit-for-bit: same
# float64 op order, and F.bround (HALF_EVEN) == np.rint for the cube
# rounding, so JVM and numpy ids agree on every input (parity-tested
# in tests/test_kernels_cells.py). Keeping hex encode/kring JVM-side
# removes the last Python stage from pip_join/knn_join hot paths.
# ---------------------------------------------------------------------------

_SQ3 = 1.7320508075688772  # math.sqrt(3.0), same double as kernels


def _zigzag_col(v: Column) -> Column:
    return F.shiftleft(v, 1).bitwiseXOR(F.shiftright(v, 63))


def _unzigzag_col(u: Column) -> Column:
    return F.shiftrightunsigned(u, 1).bitwiseXOR(-(u.bitwiseAND(F.lit(1))))


def _hex_pack_col(res: int, q: Column, r: Column) -> Column:
    return (
        F.lit(res << _cells.HEX_RES_SHIFT)
        .bitwiseOR(F.shiftleft(_zigzag_col(q), _cells.HEX_Q_SHIFT))
        .bitwiseOR(_zigzag_col(r))
    )


def _hex_axial_f(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    size = _cells._hex_size(res)
    qf = (F.lit(_SQ3 / 3.0) * lon - lat / F.lit(3.0)) / F.lit(size)
    rf = (F.lit(2.0 / 3.0) * lat) / F.lit(size)
    return qf, rf


def hex_cell(lon: Column, lat: Column, res: int) -> Column:
    """hexlite cell id at ``res`` — pure JVM (h3.latlng_to_cell analog)."""
    if res > _cells.HEX_MAX_RES:
        raise ValueError(f"hexlite res {res} > max {_cells.HEX_MAX_RES}")
    qf, rf = _hex_axial_f(lon, lat, res)
    sf = -qf - rf
    q0, r0, s0 = F.bround(qf, 0), F.bround(rf, 0), F.bround(sf, 0)
    dq, dr, ds = F.abs(q0 - qf), F.abs(r0 - rf), F.abs(s0 - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = F.when(fix_q, -r0 - s0).otherwise(q0).cast("long")
    r = F.when(fix_r, -q0 - s0).otherwise(r0).cast("long")
    return _hex_pack_col(res, q, r)


def hex_kring(cell: Column, k: int) -> Column:
    """array<long> of the 3k(k+1)+1 cells within hex distance k
    (h3.grid_disk analog) — pure JVM unpack/offset/repack. Explode to
    turn a kNN search into an equi-join on cell id.

    Shape note: built as ONE `transform` over a literal offsets array,
    not 3k(k+1)+1 separate expressions — at k=8 the expanded form is a
    4000-node expression tree whose analysis/codegen dominated the job
    (measured: 65s -> sub-second after this rewrite)."""
    res_bits = F.shiftleft(F.shiftrightunsigned(cell, _cells.HEX_RES_SHIFT), _cells.HEX_RES_SHIFT)
    q = _unzigzag_col(
        F.shiftrightunsigned(cell, _cells.HEX_Q_SHIFT).bitwiseAND(F.lit(_cells.HEX_Q_MASK))
    )
    r = _unzigzag_col(cell.bitwiseAND(F.lit(_cells.HEX_R_MASK)))
    offs = F.array(
        *[
            F.array(F.lit(int(dq)), F.lit(int(dr)))
            for dq, dr in _cells.hex_disk_offsets(k)
        ]
    )
    return F.transform(
        offs,
        lambda o: res_bits.bitwiseOR(
            F.shiftleft(_zigzag_col(q + o[0]), _cells.HEX_Q_SHIFT)
        ).bitwiseOR(_zigzag_col(r + o[1])),
    )


def hex_cover_range_cols(
    min_lon: Column, min_lat: Column, max_lon: Column, max_lat: Column, res: int
) -> tuple[Column, Column, Column, Column]:
    """Inclusive axial ranges (q0, q1, r0, r1) of the superset hex cover
    of a bbox (same ±2-cell margin as kernels.cells.hex_cover_bbox) —
    pure JVM, explodable with F.sequence like the tile cover."""
    corners = [
        _hex_axial_f(min_lon, min_lat, res),
        _hex_axial_f(max_lon, min_lat, res),
        _hex_axial_f(min_lon, max_lat, res),
        _hex_axial_f(max_lon, max_lat, res),
    ]
    qs = [c[0] for c in corners]
    rs = [c[1] for c in corners]
    q0 = (F.floor(F.least(*qs)) - 2).cast("long")
    q1 = (F.ceil(F.greatest(*qs)) + 2).cast("long")
    r0 = (F.floor(F.least(*rs)) - 2).cast("long")
    r1 = (F.ceil(F.greatest(*rs)) + 2).cast("long")
    return q0, q1, r0, r1


def hex_pack_cols(res: int, q: Column, r: Column) -> Column:
    """(q, r) axial ints -> hexlite id (JVM)."""
    return _hex_pack_col(res, q, r)


def _s2_face_ij_cols(lon: Column, lat: Column, level: int) -> tuple[Column, Column, Column]:
    """(face, i, j) leaf coordinates as pure Column expressions."""
    rl, rp = F.radians(lon), F.radians(lat)
    x = F.cos(rp) * F.cos(rl)
    y = F.cos(rp) * F.sin(rl)
    z = F.sin(rp)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    face = (
        F.when((ax >= ay) & (ax >= az), F.when(x >= 0, 0).otherwise(3))
        .when(ay >= az, F.when(y >= 0, 1).otherwise(4))
        .otherwise(F.when(z >= 0, 2).otherwise(5))
    ).cast("long")
    u = (
        F.when(face == 0, y / x)
        .when(face == 1, z / y)
        .when(face == 2, x / z)
        .when(face == 3, y / -x)
        .when(face == 4, z / -y)
        .otherwise(x / -z)
    )
    v = (
        F.when(face == 0, z / x)
        .when(face == 1, x / y)
        .when(face == 2, y / z)
        .when(face == 3, z / -x)
        .when(face == 4, x / -y)
        .otherwise(y / -z)
    )

    def st(w: Column) -> Column:
        return F.when(w >= 0, 0.5 * F.sqrt(1 + 3 * w)).otherwise(
            1 - 0.5 * F.sqrt(1 - 3 * w)
        )

    n = 1 << level
    i0 = F.greatest(F.least(F.floor(st(u) * n).cast("long"), F.lit(n - 1)), F.lit(0))
    j0 = F.greatest(F.least(F.floor(st(v) * n).cast("long"), F.lit(n - 1)), F.lit(0))
    return face, i0, j0


def s2_ij_cell(lon: Column, lat: Column, level: int) -> Column:
    """Flat (face<<2L | i<<L | j) S2 cell id — the JOIN-KEY form: the
    same cell partition as the Hilbert id (a bijection), evaluated in
    a handful of codegen-able ops. kernels.cells.s2_pack_ij twin.
    Use s2_cell (Hilbert) when curve locality matters."""
    face, i0, j0 = _s2_face_ij_cols(lon, lat, level)
    return face * F.lit(1 << (2 * level)) + i0 * F.lit(1 << level) + j0


def s2_cell(lon: Column, lat: Column, level: int) -> Column:
    """S2-style cell id (cube face + quadratic ST + Hilbert) — pure
    JVM, bit-identical to kernels.cells.s2_encode (parity-tested).

    The Hilbert xy->d bit loop is an F.aggregate fold over the bit
    positions with a struct(i, j, d) accumulator — the expression tree
    stays LINEAR in `level` (naively substituting the loop would
    double the tree each iteration). NOTE: the fold runs interpreted
    (~30us/row) — for join bucketing use s2_ij_cell, which partitions
    identically and whole-stage-codegens."""
    face, i0, j0 = _s2_face_ij_cols(lon, lat, level)

    def step(acc: Column, b: Column) -> Column:
        sbit = F.pow(F.lit(2.0), b).cast("long")
        ii, jj, d = acc["i"], acc["j"], acc["d"]
        rx = F.pmod(F.floor(ii / sbit).cast("long"), F.lit(2))
        ry = F.pmod(F.floor(jj / sbit).cast("long"), F.lit(2))
        d2 = d + sbit * sbit * (3 * rx).bitwiseXOR(ry)
        swap = ry == 0
        flip = swap & (rx == 1)
        ii_f = F.when(flip, sbit - 1 - ii).otherwise(ii)
        jj_f = F.when(flip, sbit - 1 - jj).otherwise(jj)
        ii2 = F.when(swap, jj_f).otherwise(ii_f)
        jj2 = F.when(swap, ii_f).otherwise(jj_f)
        return F.struct(ii2.alias("i"), jj2.alias("j"), d2.alias("d"))

    init = F.struct(i0.alias("i"), j0.alias("j"), F.lit(0).cast("long").alias("d"))
    if level > 0:
        bits = F.sequence(F.lit(level - 1), F.lit(0), F.lit(-1))
        hilbert = F.aggregate(bits, init, step)["d"]
    else:
        hilbert = F.lit(0).cast("long")
    return face * F.lit(1 << (2 * level)) + hilbert


# ---------------------------------------------------------------------------
# point-in-polygon refine — pure Column expression (JVM higher-order
# functions). Bit-for-bit the same half-open ray cast as
# kernels.geom.points_in_rings_pairwise: same float64 formula
#   xint = (x2-x1)*(py-y1)/(y2-y1) + x1 ; hit = straddle & (px < xint)
# so the JVM refine and its numpy oracle return identical rows. Keeping
# the refine JVM-side is what makes pip_join scale linearly with cores —
# the Python-worker path was the measured non-scaling component.
# ---------------------------------------------------------------------------

def ring_crossings_col(px: Column, py: Column, ring: Column) -> Column:
    """Ray-cast parity test: point strictly inside the (unclosed) ring."""
    n = F.size(ring)

    def _hit(i: Column) -> Column:
        p1 = F.get(ring, i)
        p2 = F.get(ring, (i + 1) % n)
        x1, y1 = p1[0], p1[1]
        x2, y2 = p2[0], p2[1]
        straddle = (y1 > py) != (y2 > py)
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        return straddle & (px < xint)

    crossings = F.size(F.filter(F.sequence(F.lit(0), n - 1), _hit))
    return (crossings % 2 == 1) & (n >= 3)


def rect_bounds_col(ring: Column) -> Column:
    """Nullable struct(x0, x1, y0, y1) of an axis-aligned rectangle
    ring, NULL for any other shape — the build-side half of the
    bit-identical rect fast path (see ``pip_refine_rect_col``).
    Detects an unclosed 4-ring whose edges alternate horizontal /
    vertical starting horizontal: [(xa,ya),(xb,ya),(xb,yb),(xa,yb)].
    Evaluate this ONCE PER POLYGON (before the cover fan-out) so
    non-rectangular layers pay a single null check per candidate, not
    a per-candidate structural test."""
    r0, r1, r2, r3 = F.get(ring, 0), F.get(ring, 1), F.get(ring, 2), F.get(ring, 3)
    is_rect = (
        (F.size(ring) == 4)
        & (r0[1] == r1[1]) & (r1[0] == r2[0])
        & (r2[1] == r3[1]) & (r3[0] == r0[0])
    )
    return F.when(
        is_rect,
        F.struct(
            F.least(r0[0], r1[0]).alias("x0"),
            F.greatest(r0[0], r1[0]).alias("x1"),
            F.least(r0[1], r2[1]).alias("y0"),
            F.greatest(r0[1], r2[1]).alias("y1"),
        ),
    )


def pip_refine_rect_col(
    px: Column, py: Column, ring: Column, rect: Column, holes: Column | None = None
) -> Column:
    """Exact PiP (exterior ring minus holes) as a pure JVM expression —
    the refine stage of pip_join — with an axis-aligned-rectangle fast
    path (bit-identical, not approximate). ``rect`` is
    ``rect_bounds_col``'s nullable struct, precomputed on the polygon
    side.

    Equivalence: for the detected rect shape the half-open ray cast
    reduces EXACTLY to
        min(xa,xb) <= px < max(xa,xb)  AND  min(ya,yb) <= py < max(ya,yb) —
    horizontal edges never straddle ((y1>py) == (y2>py)); each vertical
    edge's xint is exactly its own x ((x2-x1) == 0.0, and 0.0 * finite
    == 0.0, the straddle gate guaranteeing a finite quotient), so
    parity == (px<xmax) XOR (px<xmin) gated on the shared straddle
    interval [ymin, ymax). Degenerate (zero-width/height) rects yield
    false on both paths; NULL ``rect`` rows take the general ray cast.
    Rectangle layers (footprints, bboxes, grid zones) thus refine on
    plain codegen-able comparisons; other layers pay one null check."""
    fast = (
        (px >= rect["x0"]) & (px < rect["x1"])
        & (py >= rect["y0"]) & (py < rect["y1"])
    )
    inside = F.when(rect.isNotNull(), fast).otherwise(ring_crossings_col(px, py, ring))
    if holes is not None:
        in_hole = F.exists(holes, lambda h: ring_crossings_col(px, py, h))
        inside = inside & ~F.coalesce(in_hole, F.lit(False))
    return inside


# ---------------------------------------------------------------------------
# geohash (pure column math)
# ---------------------------------------------------------------------------

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cell(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Geohash base32 cell string at ``precision`` chars (Niemeyer's
    public encoding) — completing the cell-index family beside the
    WebMercator tiles, hexlite and S2 cells, as a PURE JVM Column
    (bit interleave as a statically-unrolled shift/mask sum + one
    array gather per char; no UDF, stays inside whole-stage codegen).

    Semantics: lon bits take the even interleave positions starting at
    the MSB (the standard), indices are floor((lon+180)/360 * 2^nlon)
    (resp. lat/180), clamped to the valid range — so lon=180 / lat=90
    land in the last cell rather than wrapping (canonical input domain
    is [-180, 180) x [-90, 90); a Column can't raise, so out-of-range
    inputs clamp, documented here). Equal-prefix property holds as in
    every geohash implementation: truncation = containment, so a
    LENGTH-p' prefix equi-join is a coarser spatial bucket join.

    Scale: like hex/s2 encode this is the bucket-key builder for
    equi-join spatial plans; p<=12 keeps the 5p interleaved bits in
    one signed long.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lonidx = F.least(
        F.greatest(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << nlon))).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit((1 << nlon) - 1).cast("long"),
    )
    latidx = F.least(
        F.greatest(
            F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << nlat))).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit((1 << nlat) - 1).cast("long"),
    )
    val = F.lit(0).cast("long")
    for i in range(nlon):  # lon bit i-from-MSB -> interleave pos 2i (MSB first)
        val = val + F.shiftrightunsigned(lonidx, nlon - 1 - i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (nbits - 1 - 2 * i)
        )
    for i in range(nlat):
        val = val + F.shiftrightunsigned(latidx, nlat - 1 - i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (nbits - 2 - 2 * i)
        )
    alpha = F.array(*[F.lit(ch) for ch in GEOHASH_B32])
    chars = [
        F.element_at(
            alpha,
            (
                F.shiftrightunsigned(val, 5 * (precision - 1 - k)).bitwiseAND(F.lit(31)) + 1
            ).cast("int"),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)
