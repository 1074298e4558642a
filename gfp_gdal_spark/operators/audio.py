"""Audio operators over opaque WAV binary columns + typed metadata —
the audio leg of the multimodal boundary (images: operators.multimodal;
video: injectable-stub plumbing; audio is REAL end-to-end because PCM
WAV needs no external codec — kernels/wavcodec.py).

Every op is one mapInArrow pass on the media reader of
kernels/codec.py: ``shape_groups`` groups the rows of each Arrow batch
by uniform (n_samples, n_channels, sample_rate), ``blob_views`` hands
each group's clips to ``wavcodec.decode_wav_group`` as slices of the
binary column's data buffer, and every per-sample computation is a
vectorized numpy pass over the group tensor — no per-row Python
anywhere. Passed-through columns stay the batch's own Arrow arrays.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from gfp_gdal_spark.kernels import codec as C
from gfp_gdal_spark.kernels import wavcodec as W

__all__ = [
    "audio_stats",
    "resample_audio",
    "audio_fingerprint",
]

_STATS_SCHEMA = (
    "audio_id string, n_samples int, sample_rate int, n_channels int, "
    "duration_s double, peak int, rms double, zero_crossings long, "
    "roundtrip_ok boolean"
)


def _clip_groups(b: pa.RecordBatch):
    """Yield (n_samples, ch, rate, rows, tensor) per uniform group.

    sample_rate is part of the group key: every consumer below applies
    ONE rate to the whole group (resample's source rate, stats'
    duration), so two clips with equal (n_samples, n_channels) but
    different rates must never share a group — 1s@8kHz and 2s@4kHz
    would otherwise silently resample with the wrong source rate."""
    col = b.column("bytes")
    for (ns, ch, rate), rows in C.shape_groups(b, ("n_samples", "n_channels", "sample_rate")):
        yield ns, ch, rate, rows, W.decode_wav_group(C.blob_views(col, "bytes", rows), ns, ch)


def audio_stats(audios: DataFrame) -> DataFrame:
    """Decode every clip, emit duration / peak / RMS / zero-crossing
    stats and the encode-decode round-trip invariant flag (PCM is
    lossless, so roundtrip_ok must be True for engine-encoded rows —
    the audio twin of the image PSNR>=40 gate)."""

    def op(batches):
        for b in batches:
            n = b.num_rows
            peak = np.zeros(n, dtype=np.int32)
            rms = np.zeros(n)
            zc = np.zeros(n, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            for ns, ch, rate, idx, s in _clip_groups(b):
                x = s.astype(np.float64)
                peak[idx] = np.abs(s).max(axis=(1, 2))
                rms[idx] = np.sqrt((x**2).mean(axis=(1, 2)))
                # sign changes on channel 0 (strict zero samples break a run)
                c0 = np.sign(x[:, :, 0])
                zc[idx] = (np.diff(c0, axis=1) != 0).sum(axis=1)
                rt = W.decode_wav_group(W.encode_wav_group(s, rate), ns, ch)
                ok[idx] = (rt == s).all(axis=(1, 2))
            ns, rate, ch = (
                b.column(c).cast(pa.int32()) for c in ("n_samples", "sample_rate", "n_channels")
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("audio_id"), ns, rate, ch,
                 pa.array(ns.to_numpy(zero_copy_only=False) / rate.to_numpy(zero_copy_only=False)),
                 pa.array(peak), pa.array(rms), pa.array(zc), pa.array(ok)],
                ["audio_id", "n_samples", "sample_rate", "n_channels", "duration_s",
                 "peak", "rms", "zero_crossings", "roundtrip_ok"],
            )

    return audios.mapInArrow(op, _STATS_SCHEMA)


def resample_audio(audios: DataFrame, out_rate: int) -> DataFrame:
    """Linear-interpolation resample to ``out_rate`` + re-encode
    (nearest-sample at the grid ends). Whole-group vectorized: one
    interpolation index array per uniform group."""

    def op(batches):
        for b in batches:
            parts = []
            nsamp = np.zeros(b.num_rows, dtype=np.int32)
            for ns, ch, rate, idx, s in _clip_groups(b):
                m = max(int(round(ns * out_rate / rate)), 1)
                pos = np.minimum(np.arange(m) * rate / out_rate, ns - 1)
                i0 = np.floor(pos).astype(np.int64)
                i1 = np.minimum(i0 + 1, ns - 1)
                frac = (pos - i0)[None, :, None]
                x = s.astype(np.float64)
                res = np.round(
                    x[:, i0] * (1.0 - frac) + x[:, i1] * frac
                ).astype(np.int16)
                parts.append((idx, W.encode_wav_group(res, out_rate)))
                nsamp[idx] = m
            new = {
                "bytes": C.blobs_by_row(parts),
                "n_samples": pa.array(nsamp),
                "sample_rate": pa.array(np.full(b.num_rows, out_rate, np.int32)),
            }
            yield pa.RecordBatch.from_arrays(
                [new[f.name].cast(f.type) if f.name in new else b.column(f.name) for f in b.schema],
                b.schema.names,
            )

    return audios.mapInArrow(op, audios.schema)


def audio_fingerprint(audios: DataFrame, n_bands: int = 16, frame: int = 1024) -> DataFrame:
    """64-bit spectral fingerprint per clip: frame the signal (channel
    mean), rFFT magnitude per frame (one batched FFT per group), mean
    energy in ``n_bands`` log-spaced bands, one sign bit per band
    comparing each band to the next (band-energy CONTOUR — gain-robust,
    noise-gated at 1e-4 of the clip's peak band so near-silent ties
    don't flip under quantization noise), packed little-endian and
    repeated to 64 bits. Deterministic; the audio analog of the image
    ahash."""

    def op(batches):
        for b in batches:
            fps = np.zeros(b.num_rows, dtype=np.int64)
            for ns, ch, _rate, idx, s in _clip_groups(b):
                # clips shorter than `frame` analyze as one whole-clip
                # frame (zero-length reshape would raise otherwise)
                fr = min(frame, ns)
                x = s.astype(np.float64).mean(axis=2)  # channel mean
                nf = max(ns // fr, 1)
                xf = x[:, : nf * fr].reshape(x.shape[0], nf, fr)
                mag = np.abs(np.fft.rfft(xf, axis=2))  # (g, nf, fr//2+1)
                if mag.shape[2] < 3:
                    # <2 usable bins -> no contour; fingerprint 0
                    fps[idx] = 0
                    continue
                edges = np.unique(
                    np.geomspace(1, mag.shape[2] - 1, n_bands + 1).astype(int)
                )
                bands = np.stack(
                    [
                        mag[:, :, a:b].mean(axis=2)
                        for a, b in zip(edges[:-1], edges[1:])
                    ],
                    axis=2,
                ).mean(axis=1)  # (g, n_bands_eff) clip-mean band energy
                gate = 1e-4 * bands.max(axis=1, keepdims=True)
                bits = (bands[:, :-1] > bands[:, 1:] + gate).astype(np.uint64)
                k = bits.shape[1]
                if k == 0:  # band edges collapsed to a single band
                    fps[idx] = 0
                    continue
                reps = int(np.ceil(64 / k))
                full = np.tile(bits, (1, reps))[:, :64]
                fps[idx] = (
                    (full << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
                ).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [b.column("audio_id"), pa.array(fps)], ["audio_id", "fingerprint"]
            )

    return audios.mapInArrow(op, "audio_id string, fingerprint long")
