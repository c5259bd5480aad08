"""Pure-NumPy PPM (P6) image codec + resampling kernels.

This is the REAL decode path for the multimodal operators: PPM/Netpbm is a
published, widely-supported image format (the `P6` binary variant:
``P6<ws>width<ws>height<ws>maxval<single-ws>raw-RGB``), and decoding it
requires genuine header parsing and byte→pixel-array reshaping — unlike the
earlier byte-stride stubs. PIL/ffmpeg are not available in this container,
so the container-feasible "real image codec" is one whose spec NumPy can
implement exactly; JPEG/PNG decoders would pull in external C libraries.
The operator-facing contract (binary in → decoded array → resample →
binary thumbnail out, over Arrow-batched ``mapInPandas``) is identical to
what a PIL/libjpeg-backed decoder would use — swapping codecs changes only
these functions.

Reference anchor: the reference ships opaque blobs + metadata through its
object-store channel (etl-job/fhir_import_export.py:148-180, :344-352);
these kernels are the decode stage a training-data pipeline adds on top.
"""

from __future__ import annotations

import numpy as np


def _read_token(data: bytes, pos: int) -> tuple[bytes, int]:
    """Read one whitespace-delimited PPM header token starting at ``pos``,
    skipping whitespace and ``#``-to-EOL comments (both are legal anywhere
    in a Netpbm header per the published spec)."""
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c in (b"#",):
            while pos < n and data[pos : pos + 1] != b"\n":
                pos += 1
        elif c in (b" ", b"\t", b"\r", b"\n"):
            pos += 1
        else:
            break
    start = pos
    while pos < n and data[pos : pos + 1] not in (b" ", b"\t", b"\r", b"\n"):
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return data[start:pos], pos


def decode_ppm(data: bytes) -> np.ndarray:
    """Decode binary PPM (P6, maxval ≤ 255) to a (H, W, 3) uint8 array.

    Raises ValueError on a malformed magic/header or short pixel payload —
    the error contract callers quarantine on (mirrors scan_csv_permissive's
    corrupt-record posture, but for blobs)."""
    magic, pos = _read_token(data, 0)
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM (magic={magic!r})")
    w_tok, pos = _read_token(data, pos)
    h_tok, pos = _read_token(data, pos)
    mv_tok, pos = _read_token(data, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(mv_tok)
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pos += 1  # exactly ONE whitespace byte separates header from raster
    need = w * h * 3
    raster = data[pos : pos + need]
    if len(raster) < need:
        raise ValueError(f"short PPM raster: {len(raster)} < {need}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    """Encode a (H, W, 3) uint8 array as canonical binary PPM (P6)."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError(f"expected (H,W,3) uint8, got {img.shape} {img.dtype}")
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resample (pixel-center convention)."""
    h, w = img.shape[:2]
    rows = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return img[rows][:, cols]


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resample with the standard align_corners=False pixel-center
    mapping (src = (dst + 0.5) * scale - 0.5, clamped), computed in float64
    and rounded half-up to uint8 — fully deterministic across platforms."""
    h, w = img.shape[:2]
    sy = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    sx = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(sy), 0, h - 1).astype(np.int64)
    x0 = np.clip(np.floor(sx), 0, w - 1).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(sy - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(sx - x0, 0.0, 1.0)[None, :, None]
    p = img.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.floor(out + 0.5).clip(0, 255).astype(np.uint8)


def channel_means(img: np.ndarray) -> tuple[float, float, float]:
    """Per-channel mean over the decoded pixels (float64)."""
    m = img.reshape(-1, 3).mean(axis=0)
    return float(m[0]), float(m[1]), float(m[2])


def decode_ppm_stream(data: bytes, max_frames: int = 10000) -> tuple[list[np.ndarray], str | None]:
    """Decode a concatenated-P6 stream (the Netpbm spec explicitly allows
    multiple images per file — the closest published 'video' container a
    pure-NumPy codec can parse): repeatedly parse header + raster until
    the buffer is exhausted. Returns (frames, error): on a torn tail the
    cleanly-decoded prefix frames are kept and the error is reported —
    per-record quarantine at the FRAME level."""
    frames: list[np.ndarray] = []
    pos = 0
    n = len(data)
    while pos < n and len(frames) < max_frames:
        try:
            magic, p = _read_token(data, pos)
            if magic != b"P6":
                return frames, f"bad magic at offset {pos}: {magic!r}"
            w_tok, p = _read_token(data, p)
            h_tok, p = _read_token(data, p)
            mv_tok, p = _read_token(data, p)
            w, h, maxval = int(w_tok), int(h_tok), int(mv_tok)
            if not (0 < maxval <= 255):
                return frames, f"unsupported maxval {maxval} at offset {pos}"
            p += 1
            need = w * h * 3
            raster = data[p : p + need]
            if len(raster) < need:
                return frames, f"torn frame at offset {pos}: {len(raster)}/{need}"
            frames.append(
                np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
            )
            pos = p + need
        except ValueError as exc:
            return frames, str(exc)
    return frames, None


# ---------------------------------------------------------------------------
# Perceptual hash (pHash, DCT-based) — tranche 51
# ---------------------------------------------------------------------------

_DCT_N = 32
_DCT_K = 8


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis as an explicit matrix — matrix-multiply
    DCT keeps the arithmetic order fixed (deterministic across NumPy
    builds; no FFT plan variance)."""
    k = np.arange(n).reshape(-1, 1)
    i = np.arange(n).reshape(1, -1)
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0, :] *= 1.0 / np.sqrt(2)
    return m * np.sqrt(2.0 / n)


_DCT_M = _dct_matrix(_DCT_N)


def _ordered_matmul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n,k) @ (k,m) with the inner k-fold summed STRICTLY left-to-right
    (cumsum's sequential order) — BLAS dgemm's blocked accumulation has
    no SQL replay, this does (fold order is part of the contract,
    docs/SCALE.md §10). O(n·k·m) temporaries are fine at the 32×32 sizes
    this codec uses."""
    return np.cumsum(a[:, :, None] * b[None, :, :], axis=1)[:, -1, :]


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an (H, W, 3) uint8 image: luma →
    bilinear 32×32 → 2D DCT-II → top-left 8×8 block minus the DC term →
    threshold at the block median. Robust to resizing and small
    brightness shifts (median thresholding cancels uniform offsets);
    distinct content flips distant bits."""
    luma = (
        0.299 * img[:, :, 0].astype(np.float64)
        + 0.587 * img[:, :, 1].astype(np.float64)
        + 0.114 * img[:, :, 2].astype(np.float64)
    )
    small = resize_bilinear(
        np.repeat(luma[:, :, None], 3, axis=2).astype(np.uint8),
        _DCT_N,
        _DCT_N,
    )[:, :, 0].astype(np.float64)
    coeffs = _ordered_matmul(_ordered_matmul(_DCT_M, small), _DCT_M.T)
    block = coeffs[:_DCT_K, :_DCT_K].copy().reshape(-1)
    vals = block[1:]  # drop the DC coefficient
    med = float(np.median(vals))
    bits = 0
    for j, v in enumerate(vals):
        if v > med:
            bits |= 1 << j
    return bits
