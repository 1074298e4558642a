"""The flat-row image-batch reader (kernels/codec.py): ``binary_buffers``,
``shape_groups`` and ``image_groups`` against a per-row reference,
over mixed ppm/pgm/png/qnt batches (no Spark).

Covered edges: sliced batches (Arrow offset != 0), ``large_binary``
blobs, the empty batch, PNGs whose scanlines use filters 1-4 (the
decoder's general path), and NULL bytes/fmt/w/h (a ValueError naming
the column)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest

from gfp_gdal_spark.kernels import codec as C

FMTS = ("ppm", "pgm", "png", "qnt")


def _paeth(a, b, c):
    p = a + b - c
    pa_, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa_ <= pb) & (pa_ <= pc), a, np.where(pb <= pc, b, c))


def _png_filtered(pix: np.ndarray) -> bytes:
    """A PNG whose scanline y uses filter y % 5 (None/Sub/Up/Avg/Paeth)."""
    h, w = pix.shape[:2]
    nch = 1 if pix.ndim == 2 else 3
    rows = pix.reshape(h, w * nch).astype(np.int64)
    out, prev = [], np.zeros(w * nch, np.int64)
    for y in range(h):
        cur, f = rows[y], y % 5
        a = np.r_[np.zeros(nch, np.int64), cur[:-nch]]
        c = np.r_[np.zeros(nch, np.int64), prev[:-nch]]
        pred = (0, a, prev, (a + prev) // 2, _paeth(a, prev, c))[f]
        out.append(np.r_[f, (cur - pred) % 256].astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if nch == 1 else 2, 0, 0, 0)
    idat = zlib.compress(np.concatenate(out).tobytes())
    return C._PNG_SIG + C._chunk(b"IHDR", ihdr) + C._chunk(b"IDAT", idat) + C._chunk(b"IEND", b"")


def _batch(seed: int, n: int, binary=pa.binary()) -> pa.RecordBatch:
    rng = np.random.default_rng(seed)
    ids, blobs, fmts, ws, hs = [], [], [], [], []
    for i in range(n):
        f = FMTS[rng.integers(4)]
        w, h = int(rng.choice([3, 5, 8])), int(rng.choice([2, 6]))
        # png/qnt carry gray or rgb; one channel count per (fmt, w, h) group
        gray = f == "pgm" or (f != "ppm" and (w + h) % 2 == 1)
        pix = C.synth_pixels(seed * 1000 + i, w, h, gray=gray)
        if f == "png" and rng.integers(3) == 0:
            blob = _png_filtered(pix)
        else:
            blob = C.encode_image(pix, f)
        ids.append(f"img{i}")
        blobs.append(blob)
        fmts.append(f)
        ws.append(w)
        hs.append(h)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(blobs, binary), pa.array(fmts),
         pa.array(ws, pa.int32()), pa.array(hs, pa.int32())],
        ["image_id", "bytes", "fmt", "w", "h"],
    )


def _reference(b: pa.RecordBatch, keys=("fmt", "w", "h")) -> dict:
    cols = [b.column(k).to_pylist() for k in keys]
    ref: dict = {}
    for i, key in enumerate(zip(*cols)):
        ref.setdefault(key, []).append(i)
    return ref


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("binary", [pa.binary(), pa.large_binary()], ids=["binary", "large"])
def test_image_groups_match_per_row_reference(seed, binary):
    full = _batch(seed, 40, binary)
    start = seed % 5
    b = full.slice(start, 40 - start - seed % 3)  # offset != 0 for most seeds
    ref = _reference(b)
    got = list(C.image_groups(b))
    assert [((f, w, h), rows.tolist()) for f, w, h, rows, _ in got] == list(ref.items())
    blobs = b.column("bytes").to_pylist()
    for f, w, h, rows, pix in got:
        want = C.decode_group([blobs[i] for i in rows], f, w, h)
        assert pix.dtype == want.dtype and pix.shape == want.shape
        np.testing.assert_array_equal(pix, want)


def test_filtered_png_decodes_through_the_reader():
    pix = np.stack([C.synth_pixels(i, 7, 6) for i in range(3)])
    blobs = [_png_filtered(p) for p in pix]
    assert all(C.decode_image(x, "png").tolist() == p.tolist() for x, p in zip(blobs, pix))
    b = pa.RecordBatch.from_arrays(
        [pa.array(blobs), pa.array(["png"] * 3), pa.array([7] * 3, pa.int32()),
         pa.array([6] * 3, pa.int32())],
        ["bytes", "fmt", "w", "h"],
    ).slice(1)
    ((f, w, h, rows, got),) = list(C.image_groups(b))
    assert (f, w, h, rows.tolist()) == ("png", 7, 6, [0, 1])
    np.testing.assert_array_equal(got, pix[1:])


def test_shape_groups_verify_pairs_keys():
    a = _batch(3, 30)
    rng = np.random.default_rng(0)
    fb = pa.array([FMTS[i] for i in rng.integers(0, 4, 30)])
    b = pa.RecordBatch.from_arrays(
        [a.column("fmt"), fb, a.column("w"), a.column("h")],
        ["fmt_a", "fmt_b", "w_a", "h_a"],
    ).slice(2)
    keys = ("fmt_a", "fmt_b", "w_a", "h_a")
    got = [(k, rows.tolist()) for k, rows in C.shape_groups(b, keys)]
    assert got == list(_reference(b, keys).items())


def test_binary_buffers_slice_and_large():
    for typ in (pa.binary(), pa.large_binary()):
        col = pa.array([b"ab", b"", b"cde", b"f"], typ).slice(1, 3)
        starts, ends, data = C.binary_buffers(col)
        assert [bytes(data[s:e]) for s, e in zip(starts, ends)] == [b"", b"cde", b"f"]
    starts, ends, data = C.binary_buffers(pa.array([], pa.binary()))
    assert starts.size == ends.size == data.size == 0


def test_empty_batch_yields_nothing():
    b = _batch(0, 5).slice(5)
    assert b.num_rows == 0
    assert list(C.image_groups(b)) == []
    assert len(C.blobs_by_row([])) == 0


def test_blobs_by_row_restores_row_order():
    parts = [(np.array([2, 0]), [b"c", b"a"]), (np.array([1, 3]), [b"b", b"d"])]
    assert C.blobs_by_row(parts).to_pylist() == [b"a", b"b", b"c", b"d"]


@pytest.mark.parametrize("col", ["bytes", "fmt", "w", "h"])
def test_null_key_or_blob_raises_naming_the_column(col):
    b = _batch(1, 6)
    arrays = [
        pa.array(b.column(c).to_pylist()[:3] + [None] + b.column(c).to_pylist()[4:], b.column(c).type)
        if c == col else b.column(c)
        for c in b.schema.names
    ]
    nb = pa.RecordBatch.from_arrays(arrays, b.schema.names)
    with pytest.raises(ValueError, match=f"NULL '{col}'"):
        list(C.image_groups(nb))
