"""Spatial cell-index kernels: WebMercator tiles, hex cells (H3-style
API), S2-style cube-face Hilbert cells. Pure numpy, fully vectorized.

The reference has no spatial index (its joins live elsewhere in
geoflow); these implement the BASELINE.json north_rule requirements.
The WebMercator math is the public slippy-map spec; the S2-style id is
the public cube-face + Hilbert-curve construction; the hex grid is OUR
OWN documented spec ("hexlite") with an API that mirrors the public
h3 package (latlng_to_cell / grid_disk / cell_to_parent) so the real
h3 wheel can be swapped in on a cluster — bit-compat with Uber H3 is
explicitly NOT claimed (no h3 available offline; see SURVEY.md §7.3c).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "lonlat_to_tile",
    "tile_range_for_bbox",
    "hex_encode",
    "hex_to_center",
    "hex_parent",
    "hex_disk_offsets",
    "hex_neighbors_of",
    "hex_cover_bbox",
    "s2_encode",
    "s2_encode_ij",
    "s2_face_uv",
    "s2_cover_bbox",
    "hex_res_for_size",
    "HEX_BASE_SIZE_DEG",
    "MAX_LAT_WEBMERC",
]

MAX_LAT_WEBMERC = 85.05112878


# ---------------------------------------------------------------------------
# WebMercator z/x/y tiles (slippy map spec) — the `tile_assign` core.
# Same formula is SQL-expressible (floor/ln/tan), which is what the
# DuckDB oracles use.
# ---------------------------------------------------------------------------

def lonlat_to_tile(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT_WEBMERC, MAX_LAT_WEBMERC)
    n = float(1 << z)
    xt = np.floor((lon + 180.0) / 360.0 * n)
    lat_r = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / math.pi) / 2.0 * n)
    xt = np.clip(xt, 0, n - 1).astype(np.int64)
    yt = np.clip(yt, 0, n - 1).astype(np.int64)
    return xt, yt


def tile_range_for_bbox(min_lon, min_lat, max_lon, max_lat, z: int):
    """Tile index ranges covering each bbox: (x0, x1, y0, y1) inclusive."""
    x0, y1 = lonlat_to_tile(min_lon, min_lat, z)  # south-west: max y
    x1, y0 = lonlat_to_tile(max_lon, max_lat, z)  # north-east: min y
    return x0, x1, y0, y1


# ---------------------------------------------------------------------------
# "hexlite" hex grid — our documented spec (h3-style API).
#
# Pointy-top hexes in (lon, lat)-degree space, axial coordinates (q, r):
#   size(res) = HEX_BASE_SIZE_DEG * 7**(-res/2)      (aperture-7 scaling,
#                                                     like H3's res steps)
#   x = lon, y = lat
#   qf = (sqrt(3)/3 * x - 1/3 * y) / size ; rf = (2/3 * y) / size
#   (q, r) = cube_round(qf, rf)
# Cell id packing (fits a positive int64):
#   id = (res << 59) | (zigzag(q) << 28) | zigzag(r)
# with zigzag(v) = (v << 1) ^ (v >> 63). Field widths (worst case at
# res 15, size = 7^-7.5 ≈ 4.6e-7 deg, lon in ±180, lat in ±90):
#   |q| <= (sqrt(3)/3*180 + 90/3)/size ≈ 2.92e8  -> zigzag < 2^31 (31 bits)
#   |r| <= (2/3*90)/size               ≈ 1.31e8  -> zigzag < 2^28 (28 bits)
#   res <= 15                                     -> 4 bits at 59..62
# so the id stays a positive int64 through res 15 for the full lon/lat
# domain (res 15 << 59 = 8.65e18 < 2^63). res > 15 raises.
# ---------------------------------------------------------------------------

HEX_BASE_SIZE_DEG = 1.0
HEX_MAX_RES = 15
HEX_RES_SHIFT = 59
HEX_Q_SHIFT = 28
HEX_R_MASK = (1 << 28) - 1
HEX_Q_MASK = (1 << 31) - 1
_SQ3 = math.sqrt(3.0)


def _hex_size(res: int) -> float:
    return HEX_BASE_SIZE_DEG * (7.0 ** (-res / 2.0))


def hex_res_for_size(s: float) -> int:
    """The res whose cell size is nearest ``s`` on the log-7 scale (the
    inverse of ``_hex_size``), clamped to [0, HEX_MAX_RES]; ``s > 0``."""
    return int(min(max(round(-2.0 * math.log(s / HEX_BASE_SIZE_DEG, 7.0)), 0), HEX_MAX_RES))


def _cube_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    sf = -qf - rf
    q = np.rint(qf)
    r = np.rint(rf)
    s = np.rint(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def _zigzag(v: np.ndarray) -> np.ndarray:
    return (v << 1) ^ (v >> 63)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return (u >> 1) ^ -(u & 1)


def _pack(res: int, q: np.ndarray, r: np.ndarray) -> np.ndarray:
    if res > HEX_MAX_RES:
        raise ValueError(f"hexlite res {res} > max {HEX_MAX_RES} (id packing overflows)")
    return (np.int64(res) << HEX_RES_SHIFT) | (_zigzag(q) << HEX_Q_SHIFT) | _zigzag(r)


def _unpack(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> HEX_RES_SHIFT
    q = _unzigzag((cell >> HEX_Q_SHIFT) & HEX_Q_MASK)
    r = _unzigzag(cell & HEX_R_MASK)
    return res, q, r


def hex_encode(lon, lat, res: int) -> np.ndarray:
    """lat/lng -> hexlite cell id at ``res`` (h3.latlng_to_cell analog)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    size = _hex_size(res)
    qf = (_SQ3 / 3.0 * lon - lat / 3.0) / size
    rf = (2.0 / 3.0 * lat) / size
    q, r = _cube_round(qf, rf)
    return _pack(res, q, r)


def hex_to_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lon, lat) of the hex center (h3.cell_to_latlng analog)."""
    res, q, r = _unpack(cell)
    size = HEX_BASE_SIZE_DEG * np.power(7.0, -res.astype(np.float64) / 2.0)
    # inverse of hex_encode: y = 1.5*r*s, x = sqrt3*s*(q + r/2)
    lat = 1.5 * r * size
    lon = _SQ3 * (q + r / 2.0) * size
    return lon, lat


def hex_parent(cell, parent_res: int) -> np.ndarray:
    """Coarser-res cell containing this cell's center
    (h3.cell_to_parent analog; deterministic, spec-defined)."""
    lon, lat = hex_to_center(cell)
    return hex_encode(lon, lat, parent_res)


def hex_disk_offsets(k: int) -> np.ndarray:
    """All axial (dq, dr) offsets within hex distance k (incl. center):
    the h3.grid_disk neighborhood, 3k(k+1)+1 cells. Small; computed on
    the driver and joined via explode."""
    offs = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            offs.append((dq, dr))
    return np.asarray(offs, dtype=np.int64)


def hex_neighbors_of(cell, k: int) -> np.ndarray:
    """grid_disk: [n, 3k(k+1)+1] neighbor ids per input cell."""
    res, q, r = _unpack(cell)
    offs = hex_disk_offsets(k)
    qq = q[:, None] + offs[None, :, 0]
    rr = r[:, None] + offs[None, :, 1]
    return (res[:, None] << HEX_RES_SHIFT) | (_zigzag(qq) << HEX_Q_SHIFT) | _zigzag(rr)


def hex_cover_bbox(min_lon, min_lat, max_lon, max_lat, res: int):
    """Hex cells covering each bbox (SUPERSET cover): axial ranges of
    the bbox corners expanded by a +2-cell margin, so every hex whose
    interior intersects the bbox is included (a point's own hex center
    can sit up to one circumradius outside the bbox). Returns
    (cell_ids flat array, row_index flat array) — the explode feed of
    the hex-bucketed pip_join.

    Coverage guarantee (used by pip_join correctness): a point P inside
    the bbox maps to hex H(P); H(P)'s center is within circumradius s
    of P, so its axial coords lie within the corner axial range +-
    ceil(s-effect) <= 2 cells. Superset covers only cost join width,
    never correctness (the refine is exact)."""
    if res > HEX_MAX_RES:
        raise ValueError(f"hexlite res {res} > max {HEX_MAX_RES} (id packing overflows)")
    min_lon = np.asarray(min_lon, dtype=np.float64)
    min_lat = np.asarray(min_lat, dtype=np.float64)
    max_lon = np.asarray(max_lon, dtype=np.float64)
    max_lat = np.asarray(max_lat, dtype=np.float64)
    size = _hex_size(res)

    def axial_f(lon, lat):
        qf = (_SQ3 / 3.0 * lon - lat / 3.0) / size
        rf = (2.0 / 3.0 * lat) / size
        return qf, rf

    # axial coords of the 4 corners
    qs, rs = [], []
    for lon, lat in [
        (min_lon, min_lat),
        (max_lon, min_lat),
        (min_lon, max_lat),
        (max_lon, max_lat),
    ]:
        qf, rf = axial_f(lon, lat)
        qs.append(qf)
        rs.append(rf)
    q0 = np.floor(np.minimum.reduce(qs)).astype(np.int64) - 2
    q1 = np.ceil(np.maximum.reduce(qs)).astype(np.int64) + 2
    r0 = np.floor(np.minimum.reduce(rs)).astype(np.int64) - 2
    r1 = np.ceil(np.maximum.reduce(rs)).astype(np.int64) + 2
    nq = q1 - q0 + 1
    nr = r1 - r0 + 1
    counts = (nq * nr).astype(np.int64)
    n = len(counts)
    row = np.repeat(np.arange(n, dtype=np.int64), counts)
    total = int(counts.sum())
    intra = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
    )
    nr_rep = np.repeat(nr, counts)
    q = np.repeat(q0, counts) + intra // nr_rep
    r = np.repeat(r0, counts) + intra % nr_rep
    res_arr = np.full(total, res, dtype=np.int64)
    cells = (res_arr << HEX_RES_SHIFT) | (_zigzag(q) << HEX_Q_SHIFT) | _zigzag(r)
    return cells, row


# ---------------------------------------------------------------------------
# S2-style cells: cube face + quadratic ST transform + Hilbert curve.
# Public construction (S2 geometry papers/docs); vectorized bit loop.
# id = face * 4**level + hilbert_position  (distinct from real S2's
# bit layout — we don't claim bit-compat, only the same geometry).
# ---------------------------------------------------------------------------

def _uv_to_st(w: np.ndarray) -> np.ndarray:
    """Quadratic uv->st (public S2 transform), st in [0,1]."""
    with np.errstate(invalid="ignore"):
        return np.where(w >= 0, 0.5 * np.sqrt(1 + 3 * w), 1 - 0.5 * np.sqrt(1 - 3 * w))


def _hilbert_xy2d(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """Vectorized Hilbert xy -> curve position (standard bit loop)."""
    d = np.zeros_like(np.asarray(i, dtype=np.int64))
    ii = np.asarray(i, dtype=np.int64).copy()
    jj = np.asarray(j, dtype=np.int64).copy()
    sbit = np.int64(1) << (level - 1) if level > 0 else np.int64(0)
    while sbit > 0:
        rx = ((ii & sbit) > 0).astype(np.int64)
        ry = ((jj & sbit) > 0).astype(np.int64)
        d += sbit * sbit * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        ii_f = np.where(flip, sbit - 1 - ii, ii)
        jj_f = np.where(flip, sbit - 1 - jj, jj)
        ii, jj = np.where(swap, jj_f, ii_f), np.where(swap, ii_f, jj_f)
        sbit >>= 1
    return d


def s2_encode_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """(face, i, j) leaf coordinates -> cell id at ``level``."""
    return np.asarray(face, dtype=np.int64) * (np.int64(1) << (2 * level)) + _hilbert_xy2d(
        i, j, level
    )


def s2_pack_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """(face, i, j) -> flat id WITHOUT the Hilbert curve:
    face<<2L | i<<L | j. Same cell partition as the Hilbert id (a
    bijection of it), so it is interchangeable as an equi-JOIN key —
    and it evaluates in a handful of codegen-able integer ops, where
    the Hilbert fold runs interpreted (~30us/row measured). Use the
    Hilbert id when curve locality matters (range scans, ordering)."""
    face = np.asarray(face, dtype=np.int64)
    return (face << (2 * level)) | (np.asarray(i, dtype=np.int64) << level) | np.asarray(
        j, dtype=np.int64
    )


def s2_face_uv(lon, lat):
    """lon/lat degrees -> (face, u, v) of the cube projection."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat) * np.cos(lon)
    y = np.cos(lat) * np.sin(lon)
    z = np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (un, vn, dn) in enumerate(
        [(1, 2, 0), (2, 0, 1), (0, 1, 2), (1, 2, 0), (2, 0, 1), (0, 1, 2)]
    ):
        m = face == f
        if not m.any():
            continue
        comps = (x, y, z)
        denom = comps[dn][m]
        sgn = 1.0 if f < 3 else -1.0
        u[m] = comps[un][m] / (sgn * denom)
        v[m] = comps[vn][m] / (sgn * denom)
    return face, u, v


def s2_encode(lon, lat, level: int) -> np.ndarray:
    face, u, v = s2_face_uv(lon, lat)
    s = np.clip(_uv_to_st(u), 0, np.nextafter(1, 0))
    t = np.clip(_uv_to_st(v), 0, np.nextafter(1, 0))
    n = np.int64(1) << level
    i = np.minimum((s * n).astype(np.int64), n - 1)
    j = np.minimum((t * n).astype(np.int64), n - 1)
    return s2_encode_ij(face, i, j, level)


# Face centers (equatorial) in degrees; faces 2/5 are the poles.
_S2_EQ_FACES = {0: 0.0, 1: 90.0, 3: 180.0, 4: -90.0}


def _s2_face_uv_range_vec(face: int, lon0, lon1, lat0, lat1):
    """Over-approximate [umin,umax]x[vmin,vmax] of each row's lon/lat
    bbox image on ``face``, clamped to the face square [-1,1]: exact or
    a superset via monotonicity/critical-point analysis of the cube
    projection. Returns (valid_mask, umin, umax, vmin, vmax); a row is
    invalid when no point of its bbox can map to this face."""
    if face in _S2_EQ_FACES:
        # re-center longitudes around the face center; the face only
        # sees |dlam| < 90, so clamp the window and reject disjoint rows
        lam_f = _S2_EQ_FACES[face]
        a = (lon0 - lam_f + 180.0) % 360.0 - 180.0
        b = a + (lon1 - lon0)
        valid = (b >= -89.99) & (a <= 89.99)
        ca = np.clip(a, -89.99, None)
        cb = np.clip(b, None, 89.99)
        t_lo, t_hi = np.tan(np.radians(ca)), np.tan(np.radians(cb))
        inside = (ca <= 0.0) & (0.0 <= cb)
        cos_c = np.stack(
            [np.cos(np.radians(ca)), np.cos(np.radians(cb)),
             np.where(inside, 1.0, np.cos(np.radians(ca)))]
        )  # (3, n)
        tans = np.stack([np.tan(np.radians(lat0)), np.tan(np.radians(lat1))])  # (2, n)
        ws = tans[:, None, :] / cos_c[None, :, :]  # (2, 3, n)
        w_lo = ws.min(axis=(0, 1))
        w_hi = ws.max(axis=(0, 1))
        # t = tan(dlam) is monotone in dlam; w = tan(lat)/cos(dlam) is
        # monotone in lat, with 1/cos largest at the window ends and
        # smallest at dlam=0 when inside. Per face (cube table of
        # s2_face_uv): face 0 u=t, v=w; face 3 u=-t, v=w; face 1 u=w,
        # v=-t; face 4 u=w, v=t.
        if face == 0:
            umin, umax, vmin, vmax = t_lo, t_hi, w_lo, w_hi
        elif face == 3:
            umin, umax, vmin, vmax = -t_hi, -t_lo, w_lo, w_hi
        elif face == 1:
            umin, umax, vmin, vmax = w_lo, w_hi, -t_hi, -t_lo
        else:  # face 4
            umin, umax, vmin, vmax = w_lo, w_hi, t_lo, t_hi
    else:
        # polar faces: u = ±cos(lam)/tan(lat), v = ±sin(lam)/tan(lat) are
        # separable products, extreme at factor-extreme combinations
        if face == 2:
            valid = lat1 > 0.0
            p0 = np.maximum(lat0, 0.01)
            p1 = np.maximum(lat1, p0)
            cot = np.stack([1.0 / np.tan(np.radians(p0)), 1.0 / np.tan(np.radians(p1))])
        else:
            valid = lat0 < 0.0
            p1 = np.minimum(lat1, -0.01)
            p0 = np.minimum(lat0, p1)
            cot = np.stack([-1.0 / np.tan(np.radians(p1)), -1.0 / np.tan(np.radians(p0))])
        # cos/sin candidates: the two lon bounds plus any contained
        # critical longitude (fixed-width arrays, masked fill)
        c0, c1 = np.cos(np.radians(lon0)), np.cos(np.radians(lon1))
        s0_, s1_ = np.sin(np.radians(lon0)), np.sin(np.radians(lon1))
        coss = [c0, c1]
        sins = [s0_, s1_]
        for crit in (0.0, 180.0, -180.0):
            inside = (lon0 <= crit) & (crit <= lon1)
            coss.append(np.where(inside, math.cos(math.radians(crit)), c0))
        for crit in (90.0, -90.0):
            inside = (lon0 <= crit) & (crit <= lon1)
            sins.append(np.where(inside, math.sin(math.radians(crit)), s0_))
        coss = np.stack(coss)  # (5, n)
        sins = np.stack(sins)  # (4, n)
        us = coss[:, None, :] * cot[None, :, :]  # (5, 2, n)
        vs = sins[:, None, :] * cot[None, :, :]  # (4, 2, n)
        umin, umax = us.min(axis=(0, 1)), us.max(axis=(0, 1))
        vmin, vmax = vs.min(axis=(0, 1)), vs.max(axis=(0, 1))
    valid = valid & (umax >= -1.0) & (umin <= 1.0) & (vmax >= -1.0) & (vmin <= 1.0)
    return (
        valid,
        np.clip(umin, -1.0, 1.0), np.clip(umax, -1.0, 1.0),
        np.clip(vmin, -1.0, 1.0), np.clip(vmax, -1.0, 1.0),
    )


def s2_cover_bbox(
    min_lon, min_lat, max_lon, max_lat, level: int, max_cells_side: int = 64,
    hilbert: bool = True,
):
    """S2 cells covering each lon/lat bbox (SUPERSET cover): per face,
    the uv-range over-approximation -> st -> inclusive ij ranges with a
    ±1-cell margin, Hilbert-encoded. Fully vectorized across rows
    (per-face range math + ragged ij expansion). Returns (cell_ids,
    row_index) — the explode feed of the s2-bucketed pip_join.

    ``max_cells_side`` caps each face's ij grid per row (a planet-scale
    bbox at a fine level would enumerate 4^level cells); covers that
    would exceed it raise — pick a coarser level for huge geometries.
    """
    lon0 = np.atleast_1d(np.asarray(min_lon, dtype=np.float64))
    lat0 = np.atleast_1d(np.asarray(min_lat, dtype=np.float64))
    lon1 = np.atleast_1d(np.asarray(max_lon, dtype=np.float64))
    lat1 = np.atleast_1d(np.asarray(max_lat, dtype=np.float64))
    n = np.int64(1) << level
    out_cells: list[np.ndarray] = []
    out_rows: list[np.ndarray] = []
    for face in range(6):
        valid, umin, umax, vmin, vmax = _s2_face_uv_range_vec(face, lon0, lon1, lat0, lat1)
        if not valid.any():
            continue
        idx = np.flatnonzero(valid)
        su0 = _uv_to_st(umin[idx])
        su1 = _uv_to_st(umax[idx])
        tv0 = _uv_to_st(vmin[idx])
        tv1 = _uv_to_st(vmax[idx])
        i0 = np.maximum((su0 * n).astype(np.int64) - 1, 0)
        i1 = np.minimum((su1 * n).astype(np.int64) + 1, n - 1)
        j0 = np.maximum((tv0 * n).astype(np.int64) - 1, 0)
        j1 = np.minimum((tv1 * n).astype(np.int64) + 1, n - 1)
        wi = i1 - i0 + 1
        wj = j1 - j0 + 1
        if (wi > max_cells_side).any() or (wj > max_cells_side).any():
            raise ValueError(
                f"s2 cover at level {level} needs up to {int(wi.max())}x{int(wj.max())} "
                f"cells on face {face} (> {max_cells_side} per side); use a coarser level"
            )
        counts = (wi * wj).astype(np.int64)
        total = int(counts.sum())
        if total == 0:
            continue
        rowrep = np.repeat(np.arange(len(idx), dtype=np.int64), counts)
        starts = np.zeros(len(idx) + 1, dtype=np.int64)
        np.cumsum(counts, out=starts[1:])
        intra = np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], counts)
        wj_rep = np.repeat(wj, counts)
        ii = np.repeat(i0, counts) + intra // wj_rep
        jj = np.repeat(j0, counts) + intra % wj_rep
        pack = s2_encode_ij if hilbert else s2_pack_ij
        ids = pack(np.full(total, face, dtype=np.int64), ii, jj, level)
        out_cells.append(ids)
        out_rows.append(idx[rowrep])
    if not out_cells:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    cells = np.concatenate(out_cells)
    rows = np.concatenate(out_rows)
    order = np.argsort(rows, kind="stable")
    return cells[order], rows[order]
