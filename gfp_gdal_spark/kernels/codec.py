"""Image codecs in pure numpy + stdlib zlib (no Pillow/GDAL in sandbox).

The engine's analog of the reference's raster IO boundary
(GDALReader/GDALWriter, gdal_nodes.cpp:274-342,344-424): images live
in DataFrames as an opaque ``bytes`` binary column plus typed metadata
(w, h, fmt) — exactly the BASELINE.json input_hint schema. Every
media operator reads its Arrow batches through one reader here:
``shape_groups`` groups the rows of a batch by uniform key columns,
``blob_views`` hands a group's blobs to a group decoder as slices of
the binary column's data buffer, ``image_keys`` groups image rows
(``bytes``, ``fmt``, ``w``, ``h``) by (fmt, w, h) and the channel
count read off each blob's header, and ``image_groups`` decodes each
such group whole. The same reader serves flat image rows, the child
rows flattened out of a ``collect_list<struct>`` column (tile pyramid,
mosaic) and audio clips keyed by (n_samples, n_channels,
sample_rate). Writes go back through the group encoders and
``blobs_by_row``.

Formats:
- ``ppm``  — binary P6 RGB, lossless.
- ``pgm``  — binary P5 gray, lossless.
- ``png``  — 8-bit RGB or gray, zlib stdlib; encoder emits filter 0,
             decoder handles all five standard filters (public PNG spec).
- ``qnt``  — our simple lossy format: 6-bit channel quantization +
             zlib. Exercises the PSNR>=40dB invariant path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

__all__ = [
    "encode_image",
    "encode_group",
    "decode_image",
    "decode_group",
    "binary_buffers",
    "shape_groups",
    "image_groups",
    "blob_views",
    "blobs_by_row",
    "ahash_batch",
    "psnr",
    "synth_pixels",
]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# PPM / PGM
# ---------------------------------------------------------------------------

def _encode_pnm(pix: np.ndarray) -> bytes:
    gray = pix.ndim == 2 or pix.shape[2] == 1
    h, w = pix.shape[:2]
    magic = b"P5" if gray else b"P6"
    header = b"%s\n%d %d\n255\n" % (magic, w, h)
    return header + np.ascontiguousarray(pix, dtype=np.uint8).tobytes()


def _pnm_header(data: bytes) -> tuple[int, int, int]:
    """(w, h, raster offset) of a P5/P6 blob: magic, whitespace-separated
    w h maxval (``#`` comments allowed), one whitespace, raster."""
    fields: list[bytes] = []
    i = 2  # past magic
    while len(fields) < 3:
        while data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while data[i : i + 1] not in (b"\n", b""):
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated pnm header")
        fields.append(data[i:j])
        i = j
    return int(fields[0]), int(fields[1]), i + 1  # + the whitespace after maxval


def _decode_pnm(data: bytes) -> np.ndarray:
    w, h, i = _pnm_header(data)
    raster = np.frombuffer(data, dtype=np.uint8, offset=i)
    if data[:2] == b"P5":
        return raster[: w * h].reshape(h, w)
    return raster[: w * h * 3].reshape(h, w, 3)


# ---------------------------------------------------------------------------
# PNG (public spec; 8-bit gray / RGB only)
# ---------------------------------------------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _encode_png(pix: np.ndarray) -> bytes:
    gray = pix.ndim == 2
    h, w = pix.shape[:2]
    color_type = 0 if gray else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    rows = pix.reshape(h, -1).astype(np.uint8)
    raw = np.empty((h, rows.shape[1] + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = rows
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    rows = raw.reshape(h, stride + 1)
    if not rows[:, 0].any():  # all filter-0 scanlines (our encoder's output)
        return np.ascontiguousarray(rows[:, 1:])
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = rows[y, 0]
        cur = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            line = cur
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        else:  # Sub / Average / Paeth need left-neighbor scan
            line = np.zeros(stride, np.int32)
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                if f == 1:
                    line[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    line[x] = (cur[x] + ((a + b) >> 1)) & 0xFF
                else:  # Paeth
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (cur[x] + pred) & 0xFF
        out[y] = line.astype(np.uint8)
    return out


def _decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == _PNG_SIG, "not a png"
    i = 8
    idat = b""
    w = h = color_type = 0
    while i < len(data):
        (length,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + length]
        if tag == b"IHDR":
            w, h, depth, color_type = struct.unpack(">IIBB", payload[:10])
            assert depth == 8 and color_type in (0, 2), "only 8-bit gray/RGB"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        i += 12 + length
    nch = 1 if color_type == 0 else 3
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    out = _png_unfilter(raw, h, w * nch, nch)
    return out.reshape(h, w) if nch == 1 else out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# QNT — our lossy format: 6-bit quantization, zlib. header: QNT1 w h nch
# ---------------------------------------------------------------------------

def _encode_qnt(pix: np.ndarray) -> bytes:
    gray = pix.ndim == 2
    h, w = pix.shape[:2]
    nch = 1 if gray else pix.shape[2]
    q = (np.ascontiguousarray(pix, dtype=np.uint8) >> 2).astype(np.uint8)
    return b"QNT1" + struct.pack(">IIB", w, h, nch) + zlib.compress(q.tobytes(), 6)


def _decode_qnt(data: bytes) -> np.ndarray:
    assert data[:4] == b"QNT1"
    w, h, nch = struct.unpack(">IIB", data[4:13])
    q = np.frombuffer(zlib.decompress(data[13:]), dtype=np.uint8)
    # reconstruct at bin center: v*4 + 2 (max error 2 -> PSNR ~ 44 dB worst case)
    pix = (q.astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8)
    return pix.reshape(h, w) if nch == 1 else pix.reshape(h, w, nch)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def encode_image(pix: np.ndarray, fmt: str) -> bytes:
    if fmt == "ppm" or fmt == "pgm":
        return _encode_pnm(pix)
    if fmt == "png":
        return _encode_png(pix)
    if fmt == "qnt":
        return _encode_qnt(pix)
    raise ValueError(f"unknown image fmt: {fmt!r}")


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt in ("ppm", "pgm"):
        return _decode_pnm(data)
    if fmt == "png":
        return _decode_png(data)
    if fmt == "qnt":
        return _decode_qnt(data)
    raise ValueError(f"unknown image fmt: {fmt!r}")


def decode_group(blobs: list, fmt: str, w: int, h: int) -> np.ndarray:
    """Whole-batch decode of a UNIFORM (fmt, w, h) group of bytes-like
    blobs (``image_groups`` passes memoryview slices of the Arrow data
    buffer) -> one pixel tensor (n, h, w, 3) or (n, h, w): numpy
    reshapes instead of a per-image Python loop.

    - ppm/pgm: fixed layout -> single frombuffer + reshape, zero
      per-image Python.
    - qnt/png: per-image zlib.decompress (C, releases the GIL) into a
      preallocated (n, nbytes) buffer; dequant/unfilter vectorized
      across the whole group.
    """
    n = len(blobs)
    if fmt in ("ppm", "pgm"):
        nch = 3 if fmt == "ppm" else 1
        sz = w * h * nch
        flat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
        stride = flat.size // n
        assert stride * n == flat.size, "non-uniform pnm blob lengths in group"
        pix = np.ascontiguousarray(flat.reshape(n, stride)[:, stride - sz :])
        return pix.reshape((n, h, w, 3) if nch == 3 else (n, h, w))
    if fmt == "qnt":
        nch = struct.unpack(">B", blobs[0][12:13])[0]
        raw = np.empty((n, w * h * nch), dtype=np.uint8)
        for i, b in enumerate(blobs):
            raw[i] = np.frombuffer(zlib.decompress(b[13:]), dtype=np.uint8)
        pix = (raw.astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8)
        return pix.reshape((n, h, w, nch) if nch > 1 else (n, h, w))
    if fmt == "png":
        # our encoder's layout: filter-0 scanlines; fall back to the
        # general per-image decoder when any scanline uses filters 1-4
        first = decode_image(blobs[0], "png")
        nch = 1 if first.ndim == 2 else first.shape[2]
        stride = w * nch
        raw = np.empty((n, h, stride + 1), dtype=np.uint8)
        ok = True
        for i, b in enumerate(blobs):
            j, idat = 8, []
            while j < len(b):
                (length,) = struct.unpack(">I", b[j : j + 4])
                tag = b[j + 4 : j + 8]
                if tag == b"IDAT":
                    idat.append(b[j + 8 : j + 8 + length])
                elif tag == b"IEND":
                    break
                j += 12 + length
            raw[i] = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8).reshape(
                h, stride + 1
            )
            if raw[i, :, 0].any():
                ok = False
                break
        if ok:
            pix = np.ascontiguousarray(raw[:, :, 1:])
            return pix.reshape((n, h, w, nch) if nch > 1 else (n, h, w))
        pix = np.stack([decode_image(b, "png") for b in blobs])
        return pix
    raise ValueError(f"unknown image fmt: {fmt!r}")


def encode_group(pix: np.ndarray, fmt: str) -> list[bytes]:
    """Whole-batch encode of a uniform group tensor (n, h, w[, 3]) ->
    per-image blobs — the encode mirror of decode_group, closing the
    last per-image Python loop in the flagship ingest (VERDICT r03
    'What's wrong' #3). All numpy work happens ONCE per group:

    - ppm/pgm: one shared header + one ``tobytes`` for the whole
      group; per-image work is a bytes slice (memcpy).
    - qnt: one group-wide quantization pass (>>2); per image only the
      C-level ``zlib.compress`` of a row slice.
    - png: one group-wide filter-byte prepend into an (n, h, stride+1)
      buffer; per image only ``zlib.compress`` + header concat
      (IHDR/CRC of the shared header computed once).

    Bitwise-identical to ``[encode_image(pix[i], fmt) for i]``
    (asserted in tests/test_multimodal.py)."""
    n, h, w = pix.shape[0], pix.shape[1], pix.shape[2]
    nch = 1 if pix.ndim == 3 else pix.shape[3]
    buf = np.ascontiguousarray(pix, dtype=np.uint8)
    if fmt in ("ppm", "pgm"):
        magic = b"P5" if nch == 1 else b"P6"
        header = b"%s\n%d %d\n255\n" % (magic, w, h)
        raw = buf.tobytes()
        sz = h * w * nch
        return [header + raw[i * sz : (i + 1) * sz] for i in range(n)]
    if fmt == "qnt":
        header = b"QNT1" + struct.pack(">IIB", w, h, nch)
        q = (buf >> 2).reshape(n, -1)
        return [header + zlib.compress(q[i].tobytes(), 6) for i in range(n)]
    if fmt == "png":
        color_type = 0 if nch == 1 else 2
        ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        tail = _chunk(b"IEND", b"")
        stride = w * nch
        raw = np.empty((n, h, stride + 1), dtype=np.uint8)
        raw[:, :, 0] = 0  # filter type 0 per scanline, whole group at once
        raw[:, :, 1:] = buf.reshape(n, h, stride)
        flat = raw.reshape(n, -1)
        return [
            _PNG_SIG + ihdr + _chunk(b"IDAT", zlib.compress(flat[i].tobytes(), 6)) + tail
            for i in range(n)
        ]
    raise ValueError(f"unknown image fmt: {fmt!r}")


def ahash_batch(pix: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit average-hash over a (n,h,w[,3]) pixel tensor.
    Bit k (k = row*8+col of the 8x8 sample grid) set iff the sampled
    gray exceeds the per-image 64-sample mean. Returns int64 view."""
    g = pix.mean(axis=3) if pix.ndim == 4 else pix.astype(np.float64)
    n, h, w = g.shape
    yi = np.minimum(np.arange(8) * h // 8, h - 1)
    xi = np.minimum(np.arange(8) * w // 8, w - 1)
    s = g[:, yi][:, :, xi].reshape(n, 64)
    mu = s.mean(axis=1, keepdims=True)
    bits = (s > mu).astype(np.uint64)
    return (bits << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64).view(np.int64)


def ahash_group_from_buffers(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray, fmt: str, w: int, h: int
) -> np.ndarray:
    """Vectorized 64-bit ahash for a uniform (fmt,w,h) group, reading
    straight from the Arrow binary column's flat data buffer (`data`
    uint8) via per-blob [start,end) offsets — zero per-image Python
    objects except the unavoidable zlib.decompress call for compressed
    formats. Only the 64 sampled grid pixels are ever gathered:

    - ppm/pgm: direct gather off the raster (no decode at all).
    - qnt: per-blob decompress, sample the quantized plane, dequantize
      just the 192 sampled bytes (q*4+2, exact — dequant is per-pixel
      so sample-then-dequant == decode-then-sample bitwise).
    - png: per-blob decompress; filter-0 scanlines sampled in place,
      filtered blobs fall back to the full unfilter.

    Bit-identical to ahash_batch(decode_group(...)).
    """
    n = len(starts)
    yi = np.minimum(np.arange(8) * h // 8, h - 1)
    xi = np.minimum(np.arange(8) * w // 8, w - 1)
    pidx = (yi[:, None] * w + xi[None, :]).ravel()  # (64,) sampled pixel index

    def _pack(samples: np.ndarray, nch: int) -> np.ndarray:
        # samples: (n, 64, nch) or (n, 64) uint8/uint16
        g = samples.astype(np.float64)
        if nch == 3:
            g = g.mean(axis=2)
        mu = g.mean(axis=1, keepdims=True)
        bits = (g > mu).astype(np.uint64)
        return (
            (bits << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64).view(np.int64)
        )

    if fmt in ("ppm", "pgm"):
        nch = 3 if fmt == "ppm" else 1
        sz = w * h * nch
        hdr = ends - starts - sz
        boff = pidx[:, None] * nch + np.arange(nch)[None, :]  # (64, nch)
        gat = data[(starts + hdr)[:, None] + boff.ravel()[None, :]]
        return _pack(gat.reshape(n, 64, nch) if nch == 3 else gat.reshape(n, 64), nch)
    if fmt == "qnt":
        nch = int(data[starts[0] + 12])
        raw = np.empty((n, w * h * nch), dtype=np.uint8)
        for i in range(n):
            raw[i] = np.frombuffer(
                zlib.decompress(data[starts[i] + 13 : ends[i]]), dtype=np.uint8
            )
        boff = pidx[:, None] * nch + np.arange(nch)[None, :]
        s = raw[:, boff.ravel()].astype(np.uint16) * 4 + 2  # exact dequant of samples
        return _pack(s.reshape(n, 64, nch) if nch == 3 else s.reshape(n, 64), nch)
    if fmt == "png":
        first = decode_image(bytes(data[starts[0] : ends[0]]), "png")
        nch = 1 if first.ndim == 2 else first.shape[2]
        stride = w * nch
        raw = np.empty((n, h * (stride + 1)), dtype=np.uint8)
        for i in range(n):
            s0, s1 = starts[i], ends[i]
            j, idat = s0 + 8, []
            while j < s1:
                (length,) = struct.unpack(">I", data[j : j + 4])
                tag = bytes(data[j + 4 : j + 8])
                if tag == b"IDAT":
                    idat.append(data[j + 8 : j + 8 + length])
                elif tag == b"IEND":
                    break
                j += 12 + length
            raw[i] = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
        filt = raw.reshape(n, h, stride + 1)[:, :, 0]
        out = np.empty(n, dtype=np.int64)
        clean = ~filt.any(axis=1)
        if clean.any():
            sel = raw[clean]
            flat = (yi[:, None] * (stride + 1) + 1 + xi[None, :] * nch).ravel()
            boff = flat[:, None] + np.arange(nch)[None, :]
            gat = sel[:, boff.ravel()]
            m = int(clean.sum())
            out[clean] = _pack(gat.reshape(m, 64, nch) if nch == 3 else gat.reshape(m, 64), nch)
        for i in np.where(~clean)[0]:
            pix = _png_unfilter(raw[i], h, stride, nch)
            pix = pix.reshape(h, w) if nch == 1 else pix.reshape(h, w, nch)
            out[i] = ahash_batch(pix[None, ...])[0]
        return out
    raise ValueError(f"unknown image fmt: {fmt!r}")


# ---------------------------------------------------------------------------
# the flat-row image-batch reader: Arrow RecordBatch -> uniform groups
# ---------------------------------------------------------------------------

def binary_buffers(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(starts, ends, flat uint8 data) of a ``binary``/``large_binary``
    array: zero-copy views of its buffers, the slice offset applied."""
    n = len(col)
    bufs = col.buffers()
    if n == 0 or bufs[1] is None:
        return np.zeros(n, np.int64), np.zeros(n, np.int64), np.zeros(0, np.uint8)
    odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=odt)[col.offset : col.offset + n + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    return off[:-1], off[1:], data


def blob_views(col: pa.Array, name: str, rows: np.ndarray) -> list[memoryview]:
    """The blobs at ``rows`` of a binary column as memoryview slices of
    its data buffer (no per-blob copy); NULL anywhere in the column
    raises, naming it."""
    if col.null_count:
        raise ValueError(f"NULL {name!r} in batch")
    starts, ends, data = binary_buffers(col)
    mv = memoryview(data)
    return [mv[s:e] for s, e in zip(starts[rows].tolist(), ends[rows].tolist())]


def shape_groups(batch: pa.RecordBatch, keys):
    """Yield ``(key values, rows)`` per distinct tuple of the ``keys``
    columns: groups in first-appearance order, ``rows`` an ascending
    int64 index array. Grouping is numpy over the key codes (string
    keys dictionary-encoded Arrow-side), one Python tuple per GROUP.
    A NULL key raises, naming the column."""
    n = batch.num_rows
    if n == 0:
        return
    gid = np.zeros(n, np.int64)
    levels, codes = [], []
    for k in keys:
        col = batch.column(k)
        if col.null_count:
            raise ValueError(f"NULL {k!r} in batch")
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            enc = pc.dictionary_encode(col)
            lv, cd = enc.dictionary.to_pylist(), enc.indices.to_numpy().astype(np.int64)
        else:
            u, cd = np.unique(col.to_numpy(), return_inverse=True)
            lv = u.tolist()
        levels.append(lv)
        codes.append(cd)
        # re-densify after each key so the mixed-radix id stays < n
        gid = np.unique(gid * len(lv) + cd, return_inverse=True)[1]
    _, first, inv = np.unique(gid, return_index=True, return_inverse=True)
    order = np.argsort(inv, kind="stable")
    bounds = np.r_[0, np.cumsum(np.bincount(inv))]
    for g in np.argsort(first):
        r0 = first[g]
        yield (
            tuple(lv[cd[r0]] for lv, cd in zip(levels, codes)),
            order[bounds[g] : bounds[g + 1]],
        )


_MAGIC = {"ppm": b"P6", "pgm": b"P5", "png": _PNG_SIG, "qnt": b"QNT1"}
_HEAD = {"ppm": 2, "pgm": 2, "png": 26, "qnt": 13}  # header bytes read below


def _u32(data: np.ndarray, at: np.ndarray) -> np.ndarray:
    """Big-endian uint32 at each offset ``at`` of ``data``."""
    return (data[at[:, None] + np.arange(4)].astype(np.int64) << np.array([24, 16, 8, 0])).sum(axis=1)


def _headers(data: np.ndarray, starts: np.ndarray, ends: np.ndarray, fmt: str, w: int, h: int):
    """Per-blob (w, h, channel count) of a one-``fmt`` group, read off
    the headers in the data buffer: the png IHDR width, height (bytes
    16-23) and colour type (25, 0 = gray); the qnt w, h (4-11) and
    channel byte (12); ppm/pgm by one compare against the canonical
    ``P6\\n<w> <h>\\n255\\n`` header, parsing only the blobs that differ
    (comments, other whitespace). A blob shorter than its header,
    without the format's magic, or (ppm/pgm) whose length is not its
    header's plus the raster's raises."""
    if fmt not in _MAGIC:
        raise ValueError(f"unknown image fmt: {fmt!r}")
    if (ends - starts < _HEAD[fmt]).any():
        raise ValueError(f"truncated 'bytes' blob in a {fmt!r} group")
    magic = np.frombuffer(_MAGIC[fmt], np.uint8)
    if (data[starts[:, None] + np.arange(len(magic))] != magic).any():
        raise ValueError(f"'bytes' blob is not {fmt!r}")
    if fmt == "png":
        return _u32(data, starts + 16), _u32(data, starts + 20), np.where(data[starts + 25] == 0, 1, 3)
    if fmt == "qnt":
        return _u32(data, starts + 4), _u32(data, starts + 8), data[starts + 12].astype(np.int64)
    nch = 3 if fmt == "ppm" else 1
    hdr = np.frombuffer(b"%s\n%d %d\n255\n" % (_MAGIC[fmt], w, h), np.uint8)
    hw, hh = np.full(len(starts), w), np.full(len(starts), h)
    ok = ends - starts == len(hdr) + w * h * nch
    ok[ok] = (data[starts[ok][:, None] + np.arange(len(hdr))] == hdr).all(axis=1)
    for i in np.flatnonzero(~ok):
        blob = data[starts[i] : ends[i]].tobytes()
        hw[i], hh[i], off = _pnm_header(blob)
        if len(blob) != off + hw[i] * hh[i] * nch:
            raise ValueError(f"'bytes' blob is {len(blob)} bytes but its {fmt!r} header says {off + hw[i] * hh[i] * nch}")
    return hw, hh, np.full(len(starts), nch)


def image_keys(batch: pa.RecordBatch):
    """Yield ``(fmt, w, h, rows)`` per uniform (fmt, w, h, channel
    count) group of image rows (``bytes``, ``fmt``, ``w``, ``h``
    columns), the channel count read off each blob's header, so gray
    and RGB blobs of one (fmt, w, h) fall in separate groups. Groups
    come in first-appearance order of (fmt, w, h), then of the channel
    count, with ascending ``rows``; an empty batch yields nothing. A
    NULL ``bytes``/``fmt``/``w``/``h``, a truncated blob or one whose
    header dims differ from its ``w``/``h`` raises."""
    col = batch.column("bytes")
    if col.null_count:
        raise ValueError("NULL 'bytes' in batch")
    starts, ends, data = binary_buffers(col)
    for (fmt, w, h), rows in shape_groups(batch, ("fmt", "w", "h")):
        hw, hh, nch = _headers(data, starts[rows], ends[rows], fmt, w, h)
        bad = np.flatnonzero((hw != w) | (hh != h))
        if bad.size:
            i = bad[0]
            raise ValueError(f"'bytes' header is {hw[i]}x{hh[i]} but the w/h columns say {w}x{h}")
        _, first = np.unique(nch, return_index=True)
        for c in nch[np.sort(first)]:
            yield fmt, w, h, rows[nch == c]


def image_groups(batch: pa.RecordBatch):
    """The one reader for image rows: yield ``(fmt, w, h, rows, pix)``
    per ``image_keys`` group, ``pix`` the whole group decoded by
    ``decode_group`` from memoryview slices of the Arrow data buffer."""
    col = batch.column("bytes")
    for fmt, w, h, rows in image_keys(batch):
        yield fmt, w, h, rows, decode_group(blob_views(col, "bytes", rows), fmt, w, h)


def blobs_by_row(parts) -> pa.Array:
    """One ``binary`` array in batch row order from per-group
    ``(rows, blobs)`` parts that together cover every row once — the
    write-back mirror of ``image_groups``."""
    if not parts:
        return pa.array([], pa.binary())
    rows = np.concatenate([r for r, _ in parts])
    blobs = pa.concat_arrays([pa.array(b, pa.binary()) for _, b in parts])
    return blobs.take(pa.array(np.argsort(rows, kind="stable")))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def synth_pixels(i: int, w: int, h: int, gray: bool = False) -> np.ndarray:
    """Deterministic per-image pattern (FIXTURES.md §1): gradient +
    per-image sinusoid keyed by i. Pure numpy, seed-free."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = (xx / max(w - 1, 1) * 127.0) + (yy / max(h - 1, 1) * 64.0)
    wave = 64.0 * np.sin((xx + yy) * (0.1 + (i % 17) * 0.03) + i * 0.7)
    g = np.clip(base + wave + 32.0, 0, 255).astype(np.uint8)
    if gray:
        return g
    r = np.clip(base * 0.5 + wave + (i % 29) * 4.0, 0, 255).astype(np.uint8)
    b = np.clip(255.0 - base + 0.5 * wave, 0, 255).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)
