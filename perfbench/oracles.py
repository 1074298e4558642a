"""Driver-side oracles for the benchmark's per-pass checks.

They share no code path with the Spark plans they check: footprints,
pixel centres and point-in-polygon are recomputed here with numpy and the
engine's numpy kernels (``kernels.geom``), using the same floating-point
operation order as the column expressions, so the expected counts are exact.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def footprint_centers(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """lon_c/lat_c of the footprint contract (FIXTURES.md section 1)."""
    ph = np.asarray(phash, dtype=np.int64)
    lon = ((ph & 0xFFFFFFFF).astype(np.float64) / 4294967296.0) * 360.0 - 180.0
    lat = (((ph >> 32) & 0xFFFFFFFF).astype(np.float64) / 4294967296.0) * 170.0 - 85.0
    return lon, lat


def _ring(r) -> np.ndarray:
    return np.array([[float(p[0]), float(p[1])] for p in r], dtype=np.float64)


def pip_pairs(lon: np.ndarray, lat: np.ndarray, zones: pd.DataFrame):
    """All (point index, zone index) pairs with the point strictly inside
    the zone (exterior ring minus holes, half-open ray cast)."""
    from gfp_gdal_spark.kernels import geom as G

    flat, off = G.ragged_from_lists([_ring(r) for r in zones["ring"]])
    bb = G.ring_bbox(flat, off)
    hole_rings, hole_poly = [], []
    for j, hs in enumerate(zones["holes"]):
        if hs is not None and len(hs):
            for r in hs:
                hole_rings.append(_ring(r))
                hole_poly.append(j)
    hflat, hoff = G.ragged_from_lists(hole_rings)
    order = np.argsort(lon, kind="stable")
    sx = lon[order]
    lo = np.searchsorted(sx, bb[:, 0], side="left")
    hi = np.searchsorted(sx, bb[:, 2], side="right")
    cand_pt, cand_poly = [], []
    for j in range(len(bb)):
        idx = order[lo[j] : hi[j]]
        idx = idx[(lat[idx] >= bb[j, 1]) & (lat[idx] <= bb[j, 3])]
        cand_pt.append(idx)
        cand_poly.append(np.full(len(idx), j, dtype=np.int64))
    cp = np.concatenate(cand_pt)
    cz = np.concatenate(cand_poly)
    inside = G.points_in_polygons_indexed(
        lon[cp], lat[cp], cz, flat, off, hflat, hoff, np.asarray(hole_poly, dtype=np.int64)
    )
    return cp[inside], cz[inside]


def rasterize(frames: pd.DataFrame, zones: pd.DataFrame, values: np.ndarray) -> dict:
    """{frame key: (n_burned, val_sum)} under the pixel-centre rule: a pixel
    is burned when its centre is strictly inside a zone, with the minimum
    value of the zones that contain it."""
    lons, lats, frame_of = [], [], []
    for f, fr in enumerate(frames.itertuples(index=False)):
        c = np.arange(fr.w, dtype=np.float64)
        r = np.arange(fr.h, dtype=np.float64)
        lon_c = fr.min_lon + ((c + 0.5) * (fr.max_lon - fr.min_lon)) / float(fr.w)
        lat_c = fr.max_lat - ((r + 0.5) * (fr.max_lat - fr.min_lat)) / float(fr.h)
        gx, gy = np.meshgrid(lon_c, lat_c)
        lons.append(gx.ravel())
        lats.append(gy.ravel())
        frame_of.append(np.full(gx.size, f, dtype=np.int64))
    lon, lat, fid = np.concatenate(lons), np.concatenate(lats), np.concatenate(frame_of)
    pt, poly = pip_pairs(lon, lat, zones)
    big = np.iinfo(np.int64).max
    best = np.full(len(lon), big, dtype=np.int64)
    np.minimum.at(best, pt, values[poly])
    burned = best != big
    n = np.bincount(fid[burned], minlength=len(frames))
    s = np.bincount(fid[burned], weights=best[burned].astype(np.float64), minlength=len(frames))
    return {
        str(k): (int(n[f]), int(round(s[f])))
        for f, k in enumerate(frames["image_id"])
    }


def knn_topk(queries: pd.DataFrame, points: pd.DataFrame, k: int) -> dict:
    """{query_id: [(point_id, dist_m)] * k}: brute-force haversine top-k,
    ties broken by point id (the engine's (dist, point_id) order)."""
    from gfp_gdal_spark.kernels import geom as G

    pid = points["point_id"].to_numpy()
    plon, plat = points["lon_c"].to_numpy(), points["lat_c"].to_numpy()
    out = {}
    for q in queries.itertuples(index=False):
        d = G.haversine(q.q_lon, q.q_lat, plon, plat)
        top = np.lexsort((pid, d))[:k]
        out[int(q.query_id)] = [(int(pid[i]), float(d[i])) for i in top]
    return out


def knn_match(got: dict, want: dict, tol_m: float = 1e-6) -> bool:
    """Same neighbours in the same order; where the order differs, the
    swapped neighbours must be tied within ``tol_m`` (the JVM and numpy
    haversines may round the last bit differently)."""
    if got.keys() != want.keys():
        return False
    for q, w in want.items():
        g = got[q]
        if len(g) != len(w):
            return False
        if [p for p, _ in g] == [p for p, _ in w]:
            continue
        if {p for p, _ in g} != {p for p, _ in w} or any(
            abs(a[1] - b[1]) > tol_m for a, b in zip(g, w)
        ):
            return False
    return True


def zones_digest(zones: pd.DataFrame) -> str:
    """Digest of a zone layer's ids, categories and geometry, the same for
    the generated frame and its parquet read-back."""
    d = hashlib.sha256()
    for pid, cat, ring, holes in zip(
        zones["polygon_id"], zones["category"], zones["ring"], zones["holes"]
    ):
        d.update(f"{int(pid)}|{cat}|".encode())
        d.update(_ring(ring).tobytes())
        for h in holes if holes is not None else []:
            d.update(b"h" + _ring(h).tobytes())
    return d.hexdigest()


def frame_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of a result frame's rows."""
    rows = sorted("\x1f".join(map(str, t)) for t in df.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def read_partitioned(path: str) -> pd.DataFrame:
    """Rows of a partitioned parquet directory, without its partition
    columns (the data files carry every other column)."""
    parts = []
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                parts.append(pq.read_table(os.path.join(dirpath, f)))
    if not parts:
        return pd.DataFrame()
    return pa.concat_tables(parts).to_pandas()
