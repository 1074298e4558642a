"""Vectorized ragged-ring geometry kernels (pure numpy) and the one
Arrow boundary every ring UDF and mapInArrow pass goes through.

Canonical geometry form (mirrors the reference's ring canon,
ogr_reader_node.cpp:86-107 and geos_nodes.cpp:31-67,110-117):

- a *ring* is an UNCLOSED sequence of (x, y) float64 vertices;
- exterior rings are CCW (signed area > 0), holes are CW;
- a *polygon* is one exterior ring + zero or more hole rings.

Batch ("ragged") layout used by every kernel:

    flat    : float64[total_vertices, 2|3]  all rings concatenated
    offsets : int64[n_rings + 1]            ring i = flat[offsets[i]:offsets[i+1]]

An Arrow ``list<list<double>>`` batch holds exactly this layout: ring
offsets outside, ``flat`` inside. :func:`ragged_from_arrow` reads it off
the buffers and :func:`ragged_to_arrow` writes it back (holes and
triangle lists: one more :func:`arrow_list_level`); the numpy oracles
build it from Python lists with :func:`ragged_from_lists`.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

__all__ = [
    "arrow_list_level",
    "ragged_from_arrow",
    "ragged_to_arrow",
    "ragged_from_lists",
    "signed_area",
    "orient_rings",
    "ring_bbox",
    "points_in_rings_pairwise",
    "point_in_polygon_pairwise",
    "points_in_polygons_indexed",
    "scanline_burn",
    "rings_valid",
    "simplify_rings",
    "buffer_bbox_rings",
    "buffer_convex_rings",
    "clip_rings_bbox",
    "segmentize_rings",
    "simplify_lines",
    "convex_hulls",
    "rings_to_wkt",
    "triangles_to_wkt",
    "haversine",
]


# ---------------------------------------------------------------------------
# ragged conversion: the Arrow boundary, and Python lists for the oracles
# ---------------------------------------------------------------------------

def arrow_list_level(a: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, pa.Array, np.ndarray]:
    """One Arrow list level -> (offsets int64[n+1] from 0, the child
    array they index, valid bool[n]). Takes sliced (``a.offset`` != 0)
    and chunked arrays and an empty array with no offsets buffer; a
    NULL row gets zero extent even where its offsets span values."""
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    if len(a) == 0:  # may have no offsets buffer
        return np.zeros(1, np.int64), pa.array([], a.type.value_type), np.zeros(0, bool)
    off = a.offsets.to_numpy().astype(np.int64)
    child = a.values.slice(off[0], off[-1] - off[0])
    off -= off[0]
    if a.null_count == 0:
        return off, child, np.ones(len(a), bool)
    valid = a.is_valid().to_numpy(zero_copy_only=False)
    counts = np.diff(off)
    if counts[~valid].any():
        child = child.filter(pa.array(np.repeat(valid, counts)))
        counts[~valid] = 0
        off = np.concatenate(([0], np.cumsum(counts)))
    return off, child, valid


def ragged_from_arrow(a: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``list<list<double>>`` rings -> (offsets int64[n+1], flat
    float64[m, 2|3], valid bool[n]). NULL rows read as empty rings
    with ``valid`` False; a NULL coordinate reads as NaN. Every vertex
    of the batch must have the same width, 2 (xy) or 3 (xyz)."""
    off, pts, valid = arrow_list_level(a)
    voff, coords, _ = arrow_list_level(pts)
    widths = np.diff(voff)
    w = int(widths[0]) if len(widths) else 2
    if (widths != w).any() or w not in (2, 3):
        raise ValueError("mixed 2D/3D rings in one batch: vertices are all [x, y] or all [x, y, z]")
    flat = coords.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return off, flat.reshape(-1, w), valid


def ragged_to_arrow(flat: np.ndarray, offsets: np.ndarray, valid: np.ndarray | None = None) -> pa.ListArray:
    """Inverse of :func:`ragged_from_arrow`: a ``list<list<double>>``
    array, NULL where ``valid`` is False."""
    n, w = flat.shape
    pts = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * w + 1, w, dtype=np.int32)),
        pa.array(np.ascontiguousarray(flat, dtype=np.float64).ravel()),
    )
    mask = None if valid is None or valid.all() else pa.array(~valid)
    return pa.ListArray.from_arrays(pa.array(np.asarray(offsets, np.int32)), pts, mask=mask)


def ragged_from_lists(rings) -> tuple[np.ndarray, np.ndarray]:
    """list-of-(list of [x,y(,z)]) -> (flat[N,width], offsets[M+1]).
    Empty/None rings ok. width is 2 for xy rings, 3 for xyz rings
    (reference geometry is xyz throughout — arr3f,
    ogr_reader_node.cpp:93); all the planar kernels read columns 0..1
    and carry any z column through untouched."""
    counts = np.fromiter(
        (0 if r is None else len(r) for r in rings), dtype=np.int64, count=len(rings)
    )
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    if offsets[-1] == 0:
        return np.empty((0, 2), dtype=np.float64), offsets
    parts = [np.atleast_2d(np.asarray(r, dtype=np.float64)) for r in rings if r is not None and len(r)]
    width = parts[0].shape[1]
    if any(p.shape[1] != width for p in parts):
        raise ValueError("mixed 2D/3D rings in one batch")
    flat = np.concatenate(parts, axis=0)
    return flat, offsets


def _segment_index(offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For unclosed rings: per-vertex index + wrapped next-vertex index."""
    total = int(offsets[-1])
    idx = np.arange(total, dtype=np.int64)
    nxt = idx + 1
    ends = offsets[1:][offsets[1:] > offsets[:-1]]  # skip empty rings
    starts = offsets[:-1][offsets[1:] > offsets[:-1]]
    nxt[ends - 1] = starts
    return idx, nxt


# ---------------------------------------------------------------------------
# orientation / area  (reference semantics: geos_nodes.cpp:31-67)
# ---------------------------------------------------------------------------

def signed_area(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Shoelace signed area per ring; >0 == CCW. Empty rings -> 0."""
    n = len(offsets) - 1
    if flat.shape[0] == 0:
        return np.zeros(n, dtype=np.float64)
    idx, nxt = _segment_index(offsets)
    cross = flat[idx, 0] * flat[nxt, 1] - flat[nxt, 0] * flat[idx, 1]
    out = np.zeros(n, dtype=np.float64)
    nonempty = offsets[1:] > offsets[:-1]
    if nonempty.any():
        sums = np.add.reduceat(cross, offsets[:-1][nonempty])
        out[nonempty] = 0.5 * sums
    return out


def _pow2_normalized(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """The rings' xy scaled, ring by ring, by the power of two that puts
    the largest |coordinate| in [0.5, 1). Only exponents change, so
    every sign, zero test and crossing verdict is that of the unscaled
    arithmetic, minus its overflow: cross products of coordinates
    beyond ~1e154 overflow to inf/NaN unscaled."""
    counts = np.diff(offsets)
    m = np.zeros(len(counts))
    ne = counts > 0
    if ne.any():
        m[ne] = np.maximum.reduceat(np.abs(flat[:, :2]).max(axis=1), offsets[:-1][ne])
    return np.ldexp(flat[:, :2], -np.repeat(np.frexp(m)[1], counts)[:, None])


def orient_rings(flat: np.ndarray, offsets: np.ndarray, ccw: bool = True) -> np.ndarray:
    """Return a copy of ``flat`` with every ring oriented CCW (or CW).

    Idempotent (orient∘orient == orient); mirrors the reference's
    canonicalization on read (ogr_reader_node.cpp:86-99) and after
    simplify/buffer (geos_nodes.cpp:167,201).
    """
    # the sign of the normalized area: unscaled cross terms overflow to
    # inf/NaN (or underflow to 0) at huge (tiny) coordinates
    area = signed_area(_pow2_normalized(flat, offsets), offsets)
    flip = (area < 0) if ccw else (area > 0)
    out = flat.copy()
    for i in np.flatnonzero(flip):  # flips are rare post-canon; loop is on rings, not vertices
        s, e = offsets[i], offsets[i + 1]
        out[s:e] = out[s:e][::-1]
    return out


def ring_bbox(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-ring [minx, miny, maxx, maxy]; empty rings -> nan."""
    n = len(offsets) - 1
    out = np.full((n, 4), np.nan, dtype=np.float64)
    nonempty = offsets[1:] > offsets[:-1]
    if not nonempty.any():
        return out
    starts = offsets[:-1][nonempty]
    out[nonempty, 0] = np.minimum.reduceat(flat[:, 0], starts)
    out[nonempty, 1] = np.minimum.reduceat(flat[:, 1], starts)
    out[nonempty, 2] = np.maximum.reduceat(flat[:, 0], starts)
    out[nonempty, 3] = np.maximum.reduceat(flat[:, 1], starts)
    return out


# ---------------------------------------------------------------------------
# point-in-polygon (ray cast), the numpy oracle of the pip_join refine
# ---------------------------------------------------------------------------

def points_in_rings_pairwise(
    px: np.ndarray, py: np.ndarray, flat: np.ndarray, offsets: np.ndarray
) -> np.ndarray:
    """Row-pairwise ray cast: point i vs ring i -> bool[n_rings].

    Fully vectorized across the batch (one segment-mask pass +
    ``np.add.reduceat`` parity per ring). Rings with <3 vertices are
    treated as containing nothing (mirrors the degenerate-geometry
    guard, geos_nodes.cpp:144-148). Boundary points follow the
    standard half-open ray-cast rule.
    """
    n = len(offsets) - 1
    out = np.zeros(n, dtype=bool)
    if flat.shape[0] == 0 or n == 0:
        return out
    counts = (offsets[1:] - offsets[:-1]).astype(np.int64)
    idx, nxt = _segment_index(offsets)
    x1, y1 = flat[idx, 0], flat[idx, 1]
    x2, y2 = flat[nxt, 0], flat[nxt, 1]
    pxs = np.repeat(np.asarray(px, dtype=np.float64), counts)
    pys = np.repeat(np.asarray(py, dtype=np.float64), counts)
    straddle = (y1 > pys) != (y2 > pys)
    # huge coordinates can overflow xint: the straddle gate drops it on
    # edges that do not straddle; on a straddling edge +inf counts as a
    # crossing and -inf or NaN does not (px < NaN is false)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = (x2 - x1) * (pys - y1) / (y2 - y1) + x1
    hit = straddle & (pxs < xint)
    nonempty = counts > 0
    if nonempty.any():
        parity = np.add.reduceat(hit.astype(np.int64), offsets[:-1][nonempty]) & 1
        ok = counts[nonempty] >= 3
        out[nonempty] = (parity == 1) & ok
    return out


def point_in_polygon_pairwise(px, py, ext_flat, ext_off, holes_per_row) -> np.ndarray:
    """point i vs polygon i (exterior ring + holes). holes_per_row is a
    list (len n) of list-of-rings (each ring list of [x,y]) or None.

    Inside == inside exterior AND outside every hole
    (hole semantics per ogr_reader_node.cpp:101-119).
    """
    inside = points_in_rings_pairwise(px, py, ext_flat, ext_off)

    def _has(h):
        return h is not None and len(h) > 0

    hole_rows = [i for i, h in enumerate(holes_per_row) if _has(h) for _ in h]
    if hole_rows:
        rings = [r for h in holes_per_row if _has(h) for r in h]
        hflat, hoff = ragged_from_lists(rings)
        hp = np.asarray(hole_rows, dtype=np.int64)
        in_hole = points_in_rings_pairwise(
            np.asarray(px, dtype=np.float64)[hp], np.asarray(py, dtype=np.float64)[hp], hflat, hoff
        )
        bad = np.zeros(len(inside), dtype=bool)
        np.logical_or.at(bad, hp, in_hole)
        inside &= ~bad
    return inside


def _gather_rings(flat: np.ndarray, offsets: np.ndarray, idx: np.ndarray):
    """Rings ``idx`` of a ragged table as their own ragged (flat, offsets)."""
    starts = offsets[idx]
    counts = offsets[idx + 1] - starts
    row_off = np.zeros(len(idx) + 1, dtype=np.int64)
    np.cumsum(counts, out=row_off[1:])
    vidx = np.repeat(starts - row_off[:-1], counts) + np.arange(row_off[-1], dtype=np.int64)
    return flat[vidx], row_off


def points_in_polygons_indexed(
    px: np.ndarray,
    py: np.ndarray,
    poly_idx: np.ndarray,
    flat: np.ndarray,
    offsets: np.ndarray,
    hole_flat: np.ndarray | None = None,
    hole_offsets: np.ndarray | None = None,
    hole_poly: np.ndarray | None = None,
) -> np.ndarray:
    """Pairwise PiP where row i tests point i against polygon
    ``poly_idx[i]`` of a SHARED ragged polygon table.

    hole_flat/hole_offsets hold ALL hole rings of the table;
    hole_poly[j] = polygon index owning hole ring j. Gathers each row's
    rings and runs ``points_in_rings_pairwise``, so the verdict is that
    of ``point_in_polygon_pairwise`` on the same polygons.
    """
    poly_idx = np.asarray(poly_idx, dtype=np.int64)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = points_in_rings_pairwise(px, py, *_gather_rings(flat, offsets, poly_idx))
    if hole_flat is not None and hole_poly is not None and len(hole_poly):
        inside_rows = np.flatnonzero(out)
        # candidate (row, hole_ring) pairs: inside rows whose polygon has holes
        order = np.argsort(hole_poly, kind="stable")
        hp_sorted = hole_poly[order]
        lo = np.searchsorted(hp_sorted, poly_idx[inside_rows], side="left")
        nh = np.searchsorted(hp_sorted, poly_idx[inside_rows], side="right") - lo
        rows = np.repeat(inside_rows, nh)
        intra = np.arange(len(rows)) - np.repeat(np.cumsum(nh) - nh, nh)
        ring_j = order[np.repeat(lo, nh) + intra]
        in_hole = points_in_rings_pairwise(
            px[rows], py[rows], *_gather_rings(hole_flat, hole_offsets, ring_j)
        )
        bad = np.zeros(len(out), dtype=bool)
        np.logical_or.at(bad, rows, in_hole)
        out &= ~bad
    return out


def scanline_burn(px, py, flat, offsets, vals, hole_zone):
    """Pixel-centre burn of one frame. Ring z < len(vals) of the ragged
    table is zone z's exterior, with int64 value ``vals[z]``; ring
    len(vals) + j is a hole of zone ``hole_zone[j]``. Centre (px[c],
    py[r]) burns zone z iff it is in z's closed exterior bbox, odd-many
    straddling exterior edges have ``px < xint``, and even-many of every
    hole's — the comparisons of ``points_in_polygons_indexed`` (rings
    with <3 vertices and NaN ``xint`` cross nothing), at one searchsorted
    per (edge, straddled row). Returns flat (r * w + c) (min burned
    value, burned mask)."""
    h, w, n_ext = len(py), len(px), len(vals)
    owner = np.r_[np.arange(n_ext), hole_zone].astype(np.int64)
    canvas = np.full(h * w, np.iinfo(np.int64).max, dtype=np.int64)
    burned = np.zeros(h * w, dtype=bool)
    co, ro = np.argsort(px, kind="stable"), np.argsort(py, kind="stable")
    xs, ys = px[co], py[ro]
    counts = np.diff(offsets)
    er = np.repeat(np.arange(len(counts)), counts)
    idx, nxt = _segment_index(offsets)
    x1, y1, x2, y2 = flat[idx, 0], flat[idx, 1], flat[nxt, 0], flat[nxt, 1]
    # sorted rows with y > py form a prefix, so an edge straddles one row
    # run (an edge with a NaN end gets a NaN xint and is dropped below)
    k1, k2 = np.searchsorted(ys, y1), np.searchsorted(ys, y2)
    ne = np.abs(k1 - k2) * (counts[er] >= 3)
    e = np.repeat(np.arange(len(er)), ne)
    j = np.arange(len(e)) - np.repeat(np.cumsum(ne) - ne, ne) + np.minimum(k1, k2)[e]
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = (x2[e] - x1[e]) * (ys[j] - y1[e]) / (y2[e] - y1[e]) + x1[e]
    ok = ~np.isnan(xint)
    g, k = er[e[ok]] * h + j[ok], np.searchsorted(xs, xint[ok])
    if not len(k):
        return canvas, burned
    o = np.lexsort((k, g))
    g, k = g[o], k[o]
    # per (ring, row), crossings k_1 <= .. <= k_m: sorted columns in
    # [k_{m-1}, k_m), [k_{m-3}, k_{m-2}), .. (and [0, k_1) for odd m)
    # have an odd count of crossings to their right
    first = np.r_[True, g[1:] != g[:-1]]
    last = np.flatnonzero(np.r_[g[1:] != g[:-1], True])
    i = np.flatnonzero((last[np.cumsum(first) - 1] - np.arange(len(g))) % 2 == 0)
    rr, j, c0, c1 = g[i] // h, g[i] % h, np.where(first[i], 0, k[i - 1]), k[i]
    # clamp every run to its zone's closed exterior bbox (hole runs
    # outside it cover no burned pixel of that zone)
    b = ring_bbox(flat[: offsets[n_ext]], offsets[: n_ext + 1])[owner[rr]]
    c0 = np.maximum(c0, np.searchsorted(xs, b[:, 0]))
    c1 = np.minimum(c1, np.searchsorted(xs, b[:, 2], "right"))
    row_in = (j >= np.searchsorted(ys, b[:, 1])) & (j < np.searchsorted(ys, b[:, 3], "right"))
    n = np.where(row_in, np.maximum(c1 - c0, 0), 0)
    ri = np.repeat(np.arange(len(n)), n)
    pix = ro[j[ri]] * w + co[np.arange(len(ri)) - np.repeat(np.cumsum(n) - n, n) + c0[ri]]
    zone, hole = owner[rr[ri]], rr[ri] >= n_ext
    key = zone * (h * w) + pix
    keep = ~hole & ~np.isin(key, key[hole])
    np.minimum.at(canvas, pix[keep], vals[zone[keep]])
    burned[pix[keep]] = True
    return canvas, burned


# ---------------------------------------------------------------------------
# validity (self-intersection) — S8 `is_valid` (ogr_reader_node.cpp:265,276)
# ---------------------------------------------------------------------------

def _ring_self_intersects(pts: np.ndarray) -> bool:
    """Proper-intersection test among non-adjacent segments of one closed
    ring (pts unclosed). O(n^2) vectorized — rings here are small."""
    n = pts.shape[0]
    if n < 4:
        return False
    pts = _pow2_normalized(pts, np.array([0, n]))
    a = pts
    b = np.roll(pts, -1, axis=0)
    i, j = np.triu_indices(n, k=2)
    adj = (i == 0) & (j == n - 1)  # first and last segment are adjacent (wrap)
    i, j = i[~adj], j[~adj]
    if len(i) == 0:
        return False
    p, r = a[i], b[i] - a[i]
    q, s = a[j], b[j] - a[j]
    rxs = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = q - p
    t_num = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
    u_num = qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]
    # the normalized coordinates keep every cross term finite; only a
    # parallel pair (rxs == 0) makes t/u inf or NaN, and it fails
    # ``proper`` (rxs != 0, and NaN compares false) and goes to the
    # collinear-overlap test below
    with np.errstate(divide="ignore", invalid="ignore"):
        t = t_num / rxs
        u = u_num / rxs
    proper = (rxs != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)
    if bool(proper.any()):
        return True
    # collinear overlap between non-adjacent segments (a spike running out
    # along an edge and back): parallel (rxs==0), collinear (qp x r == 0),
    # and the 1-D projections onto the shared direction overlap with
    # positive length. A proper-crossing test alone calls these "simple".
    rr = (r * r).sum(axis=1)
    col = (rxs == 0) & (u_num == 0) & (rr > 0)
    if bool(col.any()):
        t0 = (qp[col] * r[col]).sum(axis=1) / rr[col]
        t1 = t0 + (s[col] * r[col]).sum(axis=1) / rr[col]
        lo = np.minimum(t0, t1)
        hi = np.maximum(t0, t1)
        if bool((np.minimum(hi, 1.0) - np.maximum(lo, 0.0) > 0).any()):
            return True
    return False


def _ring_degenerate(pts: np.ndarray, eps: float = 1e-12) -> bool:
    """Strict degeneracy guard for KERNEL OUTPUTS (simplify/buffer) —
    tighter than S8 ``rings_valid``. Flags, with scale-relative epsilons:

    - fewer than 3 vertices;
    - |shoelace area| <= eps * bbox_scale^2 (an exact ``== 0.0`` test
      lets a -2e-16 residue through, then orientation-reversal re-sums
      to exactly 0.0 — the hypothesis counterexample of round 3);
    - any repeated vertex (consecutive -> zero-length edge;
      non-consecutive -> pinch / zero-width spike);
    - a backtracking joint (consecutive edges turning through ~pi:
      |cross| <= eps*|e1||e2| with dot < 0) — a spike tip.

    Mirrors the reference's post-op GEOS validity gate
    (geos_nodes.cpp:153-176), which rejects these as invalid.
    """
    m = pts.shape[0]
    if m < 3:
        return True
    scale = max(float(np.ptp(pts[:, 0])), float(np.ptp(pts[:, 1])))
    area = signed_area(pts, np.array([0, m]))[0]
    if abs(area) <= eps * scale * scale:
        return True
    if np.unique(pts, axis=0).shape[0] != m:
        return True
    e1 = np.roll(pts, -1, axis=0) - pts
    e2 = np.roll(e1, -1, axis=0)
    cross = e1[:, 0] * e2[:, 1] - e1[:, 1] * e2[:, 0]
    dot = e1[:, 0] * e2[:, 0] + e1[:, 1] * e2[:, 1]
    lens = np.hypot(e1[:, 0], e1[:, 1]) * np.hypot(e2[:, 0], e2[:, 1])
    return bool(((np.abs(cross) <= eps * lens) & (dot < 0)).any())


def _ring_output_invalid(pts: np.ndarray) -> bool:
    """Combined post-op gate: degeneracy OR self-intersection/overlap.
    Run on the ring in its OUTPUT orientation."""
    return _ring_degenerate(pts) or _ring_self_intersects(pts)


def rings_valid(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-ring validity: >=3 vertices, nonzero area, no self-intersection.
    Decided on power-of-two normalized rings, so huge coordinates get
    the same verdict as their scaled-down copies."""
    n = len(offsets) - 1
    counts = offsets[1:] - offsets[:-1]
    flat = _pow2_normalized(flat, offsets)
    area = signed_area(flat, offsets)
    out = (counts >= 3) & (area != 0.0)
    for i in np.flatnonzero(out):
        if _ring_self_intersects(flat[offsets[i]: offsets[i + 1]]):
            out[i] = False
    return out


# ---------------------------------------------------------------------------
# Douglas–Peucker simplify — G1 (geos_nodes.cpp:133-185)
# ---------------------------------------------------------------------------

def _dp_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker keep-mask for an open polyline (endpoints kept)."""
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        s, e = stack.pop()
        if e <= s + 1:
            continue
        seg = pts[e] - pts[s]
        mid = pts[s + 1: e] - pts[s]
        seg_len = np.hypot(seg[0], seg[1])
        if seg_len == 0.0:
            d = np.hypot(mid[:, 0], mid[:, 1])
        else:
            d = np.abs(mid[:, 0] * seg[1] - mid[:, 1] * seg[0]) / seg_len
        k = int(np.argmax(d))
        if d[k] > tol:
            m = s + 1 + k
            keep[m] = True
            stack.append((s, m))
            stack.append((m, e))
    return keep


def simplify_rings(flat: np.ndarray, offsets: np.ndarray, tol: float):
    """DP-simplify each unclosed ring; returns (flat', offsets', ok[bool]).

    Semantics mirror PolygonSimplifyGEOS (geos_nodes.cpp:133-185):
    rings with <3 vertices pass through unchanged with ok=False
    (:144-148); a simplified ring that degenerates (<3 vertices) or
    self-intersects is flagged ok=False and the ORIGINAL ring is
    returned (failure pass-through, :153-176); output re-oriented CCW
    (:167). The ring is closed before DP (endpoints anchored) and
    re-opened after, so vertex 0 is always preserved.
    """
    n = len(offsets) - 1
    out_rings: list[np.ndarray] = []
    ok = np.zeros(n, dtype=bool)
    for i in range(n):
        pts = flat[offsets[i]: offsets[i + 1]]
        if pts.shape[0] < 3:
            out_rings.append(pts)
            continue
        closed = np.vstack([pts, pts[:1]])
        keep = _dp_mask(closed, tol)
        simp = closed[keep][:-1]
        if simp.shape[0] >= 3 and signed_area(simp, np.array([0, len(simp)]))[0] < 0:
            simp = simp[::-1]  # orient CCW FIRST; validity runs on the output
        if _ring_output_invalid(simp):
            out_rings.append(pts)  # pass-through on failure (collapsed/invalid)
            continue
        out_rings.append(simp)
        ok[i] = True
    return (*ragged_from_lists(out_rings), ok)


def buffer_bbox_rings(flat: np.ndarray, offsets: np.ndarray, offset: float):
    """v1 buffer (G2 analog, geos_nodes.cpp:187-213): axis-aligned bbox
    expand/shrink by ``offset``. Exact for the engine's axis-aligned
    footprint quads; a degenerate (inverted) result returns the
    ORIGINAL ring with ok=False (mirrors :202-207 invalid-result
    pass-through). Returns (flat', offsets', ok); output xy only, like
    ``buffer_convex_rings``. One numpy pass, no per-ring loop."""
    bb = ring_bbox(flat, offsets)
    nx0, ny0 = bb[:, 0] - offset, bb[:, 1] - offset
    nx1, ny1 = bb[:, 2] + offset, bb[:, 3] + offset
    ok = np.isfinite(bb[:, 0]) & (nx1 > nx0) & (ny1 > ny0)
    lens = np.where(ok, 4, np.diff(offsets))
    out_off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    ring = np.repeat(np.arange(len(lens)), lens)
    local = np.arange(out_off[-1]) - out_off[:-1][ring]
    out = np.empty((int(out_off[-1]), 2), dtype=np.float64)
    box = ok[ring]
    keep = ~box
    out[keep] = flat[offsets[:-1][ring[keep]] + local[keep], :2]
    # corners (x0,y0) (x1,y0) (x1,y1) (x0,y1): x1 at corners 1-2, y1 at 2-3
    rb, lb = ring[box], local[box]
    out[box, 0] = np.where((lb == 1) | (lb == 2), nx1[rb], nx0[rb])
    out[box, 1] = np.where(lb >= 2, ny1[rb], ny0[rb])
    return out, out_off, ok


def buffer_convex_rings(
    flat: np.ndarray, offsets: np.ndarray, offset: float, quad_segs: int = 8
):
    """General polygon buffer for SIMPLE rings (convex or concave) —
    the PolygonBufferGEOS analog (geos_nodes.cpp:187-213) with GEOS's
    round-join semantics:

    - offset > 0: each edge shifts outward by ``offset`` along its
      outward normal; each CONVEX vertex gets a circular arc
      polygonalized at ``quad_segs`` segments per quarter circle (the
      GEOS quadrantSegments parameter); each REFLEX vertex gets the
      miter intersection of its two shifted edges (the exact Minkowski
      boundary there while the offset band is self-overlap-free). The
      result area is EXACTLY
          A + P·offset + Σ_cvx (offset²/2)·m_i·sin(θ_i/m_i)
                       − Σ_rfx offset²·tan(β_j/2),
      θ_i = exterior turn at convex vertex i (m_i arc segments),
      β_j = |turn| at reflex vertex j — the closed form the SQL oracle
      checks on both the rect and the L-shaped fixtures.
    - offset < 0: inward offset by miter intersection of adjacent
      shifted edges (any simple ring); a collapsed/inverted result
      passes the ORIGINAL ring through with ok=False
      (geos_nodes.cpp:202-207).
    - an offset so large the result changes topology (offset curve
      self-intersects — e.g. shrinking past a neck, or r beyond a
      concave feature size) passes through with ok=False rather than
      emitting an invalid ring.

    Returns (flat', offsets', ok[bool]); output rings CCW, xy only.
    (Name kept from the convex-only v2 kernel for API stability.)
    """
    n = len(offsets) - 1
    step_max = math.pi / 2.0 / quad_segs
    out_rings, ok = [], np.zeros(n, dtype=bool)
    for i in range(n):
        pts = flat[offsets[i]: offsets[i + 1], :2]
        if pts.shape[0] < 3:
            out_rings.append(pts)
            continue
        ring = pts
        if signed_area(ring, np.array([0, len(ring)]))[0] < 0:
            ring = ring[::-1]
        m = ring.shape[0]
        d = np.roll(ring, -1, axis=0) - ring              # edge vectors
        ln = np.hypot(d[:, 0], d[:, 1])
        if (ln == 0).any():
            out_rings.append(pts)
            continue
        nx, ny = d[:, 1] / ln, -d[:, 0] / ln              # outward normals (CCW)

        def _miter(j: int, off: float):
            # intersection of edge (j-1) and edge j, both shifted by
            # ``off`` along their outward normals (off<0 = inward)
            jm = (j - 1) % m
            p1 = ring[jm] + off * np.array([nx[jm], ny[jm]])
            d1 = d[jm]
            p2 = ring[j] + off * np.array([nx[j], ny[j]])
            d2 = d[j]
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if abs(den) < 1e-30:
                return None
            t = ((p2[0] - p1[0]) * d2[1] - (p2[1] - p1[1]) * d2[0]) / den
            return p1 + t * d1

        if offset >= 0:
            verts: list[np.ndarray] = []
            degenerate = False
            for j in range(m):
                turn = d[j - 1, 0] * d[j, 1] - d[j - 1, 1] * d[j, 0]
                if turn >= 0:                             # convex: round join
                    n_in = np.array([nx[j - 1], ny[j - 1]])
                    n_out = np.array([nx[j], ny[j]])
                    a0 = math.atan2(n_in[1], n_in[0])
                    a1 = math.atan2(n_out[1], n_out[0])
                    theta = a1 - a0
                    while theta < 0:
                        theta += 2 * math.pi
                    if theta > math.pi:                   # numeric wrap on ~straight
                        theta -= 2 * math.pi
                        theta = abs(theta)
                    steps = max(int(math.ceil(theta / step_max - 1e-12)), 1)
                    angs = a0 + theta * np.arange(steps + 1) / steps
                    arc = ring[j] + offset * np.stack(
                        [np.cos(angs), np.sin(angs)], axis=1
                    )
                    verts.append(arc)
                else:                                     # reflex: miter
                    mi = _miter(j, offset)
                    if mi is None:
                        degenerate = True
                        break
                    verts.append(mi[None, :])
            if degenerate:
                out_rings.append(pts)
                continue
            new = np.concatenate(verts, axis=0)
            # arc polygonalization can emit coincident consecutive points
            # (e.g. a zero-turn joint); drop them before the validity gate
            # so the strict repeated-vertex check sees real topology only.
            dup = (new == np.roll(new, 1, axis=0)).all(axis=1)
            if dup.any():
                new = new[~dup]
            if (
                signed_area(new, np.array([0, len(new)]))[0] <= 0
                or _ring_output_invalid(new)
            ):
                out_rings.append(pts)
                continue
        else:
            r = -offset
            new = np.empty_like(ring)
            bad = False
            for j in range(m):
                mi = _miter(j, offset)
                if mi is None:
                    bad = True
                    break
                new[j] = mi
            # collapse check: a ring shrunk past its inradius inverts
            # (point reflection keeps CCW orientation, so area alone
            # can't catch it) — every offset edge must keep the
            # ORIGINAL edge direction.
            if not bad:
                new_d = np.roll(new, -1, axis=0) - new
                if (new_d * d).sum(axis=1).min() <= 0:
                    bad = True
            if (
                bad
                or signed_area(new, np.array([0, m]))[0] <= 0
                or _ring_output_invalid(new)
            ):
                out_rings.append(pts)
                continue
        out_rings.append(new)
        ok[i] = True
    return (*ragged_from_lists(out_rings), ok)


# ---------------------------------------------------------------------------
# WKT emit — S8 `wkt` output (ogr_reader_node.cpp:245)
# ---------------------------------------------------------------------------

def _wkt_ring(pts: np.ndarray) -> str:
    """'(x y[ z], ..., x0 y0[ z0])': the ring re-closed, %.9g floats."""
    closed = np.vstack([pts, pts[:1]])
    return "(" + ", ".join(" ".join(f"{v:.9g}" for v in p) for p in closed) + ")"


def rings_to_wkt(flat, offsets, holes=None) -> list[str]:
    """POLYGON wkt per row (ring re-closed on emit, like writers re-close:
    ogr_writer_node.cpp:47,59). Empty ring -> 'POLYGON EMPTY'; xyz
    rings emit 'POLYGON Z' (the reference's 2.5D output shape).
    ``holes`` = (rows, hole_flat, hole_offsets): row i's holes are
    rings rows[i]..rows[i+1]-1 of that ragged table; empty holes are
    left out."""
    out = []
    tag = "POLYGON Z" if flat.shape[1] == 3 else "POLYGON"
    for i in range(len(offsets) - 1):
        pts = flat[offsets[i]: offsets[i + 1]]
        if pts.shape[0] == 0:
            out.append("POLYGON EMPTY")
            continue
        parts = [_wkt_ring(pts)]
        if holes is not None:
            rows, hflat, hoff = holes
            parts += [
                _wkt_ring(hflat[hoff[j]: hoff[j + 1]])
                for j in range(rows[i], rows[i + 1]) if hoff[j + 1] > hoff[j]
            ]
        out.append(tag + " (" + ", ".join(parts) + ")")
    return out


def triangles_to_wkt(rows, flat, offsets) -> list[str]:
    """MULTIPOLYGON[ Z] wkt per row of a triangle collection, one
    polygon per triangle: row i's triangles are rings
    rows[i]..rows[i+1]-1 of the ragged table. No triangle ->
    'MULTIPOLYGON EMPTY'."""
    tag = "MULTIPOLYGON Z " if flat.shape[1] == 3 else "MULTIPOLYGON "
    out = []
    for i in range(len(rows) - 1):
        if rows[i + 1] == rows[i]:
            out.append("MULTIPOLYGON EMPTY")
            continue
        polys = ", ".join(
            "(" + _wkt_ring(flat[offsets[j]: offsets[j + 1]]) + ")" for j in range(rows[i], rows[i + 1])
        )
        out.append(tag + "(" + polys + ")")
    return out


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------

_EARTH_R_M = 6_371_008.8


def haversine(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Vectorized haversine distance in meters."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * _EARTH_R_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


# ---------------------------------------------------------------------------
# rectangle clipping (Sutherland-Hodgman 1974 against a convex clip
# window — here the axis-aligned bbox, i.e. the `ogr2ogr -clipsrc`
# rectangle form)
# ---------------------------------------------------------------------------

def clip_rings_bbox(
    flat: np.ndarray,
    offsets: np.ndarray,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Clip every ring against the rect — one vectorized
    Sutherland-Hodgman pass per rect edge over the whole ragged batch
    (per-edge emit counts -> prefix-sum offsets -> two scatters; no
    per-ring Python). The clip-axis coordinate of every emitted
    intersection is set EXACTLY to the bound (no lerp residue), so
    clipped areas of axis-aligned inputs stay closed-form. Fully
    outside rings come back empty (0 vertices); like all S-H output,
    rings may contain collinear/duplicate boundary vertices. Extra
    columns beyond x,y (z etc.) are linearly interpolated.
    """
    f = np.asarray(flat, dtype=np.float64)
    off = np.asarray(offsets, dtype=np.int64)
    for axis, sgn, bound in (
        (0, 1.0, xmin), (0, -1.0, xmax), (1, 1.0, ymin), (1, -1.0, ymax)
    ):
        total = int(off[-1])
        n = len(off) - 1
        if total == 0:
            break
        idx, nxt = _segment_index(off)
        d_cur = sgn * (f[idx, axis] - bound)
        d_nxt = sgn * (f[nxt, axis] - bound)
        emit_i = (d_cur >= 0) != (d_nxt >= 0)
        emit_n = d_nxt >= 0
        cnt = emit_i.astype(np.int64) + emit_n.astype(np.int64)
        nonempty = off[1:] > off[:-1]
        new_counts = np.zeros(n, np.int64)
        if nonempty.any():
            new_counts[nonempty] = np.add.reduceat(cnt, off[:-1][nonempty])
        new_off = np.concatenate(([0], np.cumsum(new_counts)))
        pos = np.cumsum(cnt) - cnt
        out = np.empty((int(new_off[-1]), f.shape[1]), dtype=np.float64)
        ei = np.flatnonzero(emit_i)
        if ei.size:
            t = d_cur[ei] / (d_cur[ei] - d_nxt[ei])
            out[pos[ei]] = f[idx[ei]] + t[:, None] * (f[nxt[ei]] - f[idx[ei]])
            out[pos[ei], axis] = bound
        en = np.flatnonzero(emit_n)
        if en.size:
            out[pos[en] + emit_i[en]] = f[nxt[en]]
        f, off = out, new_off
    return f, off


# ---------------------------------------------------------------------------
# segmentize (the `ogr2ogr -segmentize <max_len>` densify: no output
# segment longer than max_len; original vertices preserved exactly)
# ---------------------------------------------------------------------------

def segmentize_rings(
    flat: np.ndarray,
    offsets: np.ndarray,
    max_len: float,
    closed: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Densify every ring/line so no segment exceeds ``max_len``: each
    edge of 2-D length L splits into k = max(ceil(L / max_len), 1)
    equal parameter steps (t = j/k), emitting the edge start plus k-1
    interior points — one vectorized repeat/arange pass, no per-ring
    Python. Original vertices are emitted EXACTLY (t = 0 is an
    identity, t never reaches 1), so segmentize(simplify(ring)) etc.
    round-trip bit-stable; extra columns beyond x,y interpolate
    linearly. ``closed`` includes the wrap edge (ring canon: unclosed
    vertex list); ``closed=False`` treats rows as open polylines and
    appends each line's final vertex.
    """
    if not (float(max_len) > 0.0):
        raise ValueError(f"max_len must be > 0: {max_len!r}")
    f = np.asarray(flat, dtype=np.float64)
    off = np.asarray(offsets, dtype=np.int64)
    n = len(off) - 1
    total = int(off[-1])
    if total == 0:
        return f, off
    if closed:
        idx, nxt = _segment_index(off)
    else:
        nonlast = np.ones(total, dtype=bool)
        ends = off[1:][off[1:] > off[:-1]]
        nonlast[ends - 1] = False
        idx = np.flatnonzero(nonlast)
        nxt = idx + 1
    d = f[nxt] - f[idx]
    seg_len = np.hypot(d[:, 0], d[:, 1])
    k = np.maximum(np.ceil(seg_len / float(max_len)), 1.0).astype(np.int64)

    seg_ring = np.searchsorted(off[1:], idx, side="right")
    counts = np.zeros(n, dtype=np.int64)
    np.add.at(counts, seg_ring, k)
    if not closed:
        counts[off[1:] > off[:-1]] += 1  # the appended final vertex

    new_off = np.concatenate(([0], np.cumsum(counts)))
    rep = np.repeat(np.arange(len(idx), dtype=np.int64), k)
    base = np.repeat(np.cumsum(k) - k, k)
    step = np.arange(int(k.sum()), dtype=np.int64) - base
    t = step.astype(np.float64) / k[rep].astype(np.float64)
    pts = f[idx[rep]] + t[:, None] * (f[nxt[rep]] - f[idx[rep]])
    pts[step == 0] = f[idx[rep[step == 0]]]  # t=0: exact originals

    if closed:
        return pts, new_off
    # open: splice each line's final vertex back in after its segments
    out = np.empty((int(new_off[-1]), f.shape[1]), dtype=np.float64)
    seg_pos = np.cumsum(np.where(off[1:] > off[:-1], 1, 0))
    shift = np.repeat(seg_pos[seg_ring] - 1, k)  # finals inserted before me
    pos = np.arange(len(rep), dtype=np.int64) + shift
    out[pos] = pts
    last_rows = new_off[1:][off[1:] > off[:-1]] - 1
    out[last_rows] = f[ends - 1]
    return out, new_off


def simplify_lines(
    flat: np.ndarray, offsets: np.ndarray, tol: float
) -> tuple[np.ndarray, np.ndarray]:
    """DP-simplify each OPEN polyline (the `ogr2ogr -simplify` rule on
    line layers): endpoints anchored, interior vertices farther than
    ``tol`` from the chord kept. Lines with < 3 vertices pass through.
    No orientation/validity gates — those are ring semantics
    (`simplify_rings`); a polyline cannot "collapse invalid", it just
    loses interior vertices.
    """
    n = len(offsets) - 1
    out: list[np.ndarray] = []
    for i in range(n):
        pts = flat[offsets[i]: offsets[i + 1]]
        if pts.shape[0] < 3:
            out.append(pts)
            continue
        out.append(pts[_dp_mask(pts, tol)])
    return ragged_from_lists(out)


# ---------------------------------------------------------------------------
# convex hull of a point set (the GEOS convex-hull node's per-row analog)
# ---------------------------------------------------------------------------

def _chain(seq) -> list:
    """One monotone-chain pass; STRICT turns drop collinear points."""
    out: list = []
    for p in seq:
        while len(out) >= 2 and (
            (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
            - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
        ) <= 0:
            out.pop()
        out.append(p)
    return out


def convex_hulls(
    flat: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Convex hull of each row's points — Andrew's monotone chain
    (1979) over the xy-deduplicated, lexicographically sorted points.
    Returns (hull_flat[:, 2], hull_offsets, area): each hull CCW,
    unclosed, starting at the lexicographic-min vertex (canonical, so
    deterministic across runs and engines); area by the shoelace
    formula, 0 for hulls of < 3 points."""
    n = len(offsets) - 1
    hulls, area = [], np.zeros(n, dtype=np.float64)
    for i in range(n):
        pts = np.unique(flat[offsets[i]: offsets[i + 1], :2], axis=0)
        if len(pts) <= 1:
            hulls.append(pts)
            continue
        hull = _chain(pts)[:-1] + _chain(pts[::-1])[:-1]
        m, a = len(hull), 0.0
        for k in range(m):
            x0, y0 = hull[k][0], hull[k][1]
            x1, y1 = hull[(k + 1) % m][0], hull[(k + 1) % m][1]
            a += x0 * y1 - x1 * y0
        hulls.append(np.array(hull))
        area[i] = abs(a) / 2.0
    return (*ragged_from_lists(hulls), area)
