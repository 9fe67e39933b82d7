"""Numpy-only numeric kernels — the single source of numeric truth.

Both the single-process oracle (oracle.py) and the Spark vectorized UDFs
(pipeline.py) call these functions, so golden span equality tests exercise
the *distributed plumbing* (joins, batching, ordering, resume) rather than
re-deriving floating point twice.

Every kernel re-expresses a reference-engine semantic (file:line cited per
function). cv2/shapely/pyclipper are unavailable in this environment and the
reference's pretrained weights are placeholders, so the kernels are
deterministic numpy re-derivations of the reference's *fallback* algorithm
path (Otsu detection, axis-aligned boxes, CTC-greedy decode) — see
SURVEY.md §2.7/§2.8/§7.3 for the decision log.

Determinism notes (critical for batch-/parallelism-invariance):
  * Recognition matmuls run through float32 BLAS sgemm but every value is a
    small exact integer (all partial sums < 2^24, see crnn_weights) — the
    result is bit-identical to integer arithmetic regardless of BLAS
    accumulation order or thread count, so local[8] and local[32] runs are
    bit-identical.
  * All float ops are element-wise or fixed-order reductions.
"""

from __future__ import annotations

import functools
import math
import os
import re
import struct

# One BLAS thread per process: the engine parallelizes across Spark python
# workers / documents (one per core) — nested BLAS threading oversubscribes
# and measurably SLOWS the tiny per-crop GEMMs (0.19 -> 0.92+ ms/crop).
# Must be set before the BLAS library initializes; harmless if numpy is
# already loaded with a pool (executorEnv in sources/session.py covers the
# Spark workers, this covers driver-side oracle/test processes).
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

import numpy as np  # noqa: E402

# --------------------------------------------------------------------------
# Vocabulary  (reference: /root/reference/recognize/vocab.py:13-19 — blank=0,
# unk=1, then digits + ascii letters; we keep the ASCII subset, CJK chars are
# additive and unused by the synthetic corpus)
# --------------------------------------------------------------------------

CHARS = list("0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
BLANK_IDX = 0
UNK_IDX = 1
VOCAB_SIZE = 2 + len(CHARS)  # 64
_IDX2CHAR = {i + 2: c for i, c in enumerate(CHARS)}
_CHAR2IDX = {c: i + 2 for i, c in enumerate(CHARS)}


def idx2char(i: int) -> str:
    """/root/reference/recognize/vocab.py:37-39 (unk for unknown index)."""
    return _IDX2CHAR.get(int(i), "<unk>")


def encode_text(text: str) -> list[int]:
    """/root/reference/recognize/vocab.py:40-42 (unk=1 for unknown char)."""
    return [_CHAR2IDX.get(c, UNK_IDX) for c in text]


# --------------------------------------------------------------------------
# SYNF media codec (fixture image format — header b"SYNF" + u32le w,h + pixels)
# --------------------------------------------------------------------------

SYNF_MAGIC = b"SYNF"


def encode_synf(img: np.ndarray) -> bytes:
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    return SYNF_MAGIC + struct.pack("<II", w, h) + img.tobytes()


def decode_synf(data: bytes) -> np.ndarray:
    """Returns grayscale uint8 (h, w). Raises ValueError on bad magic or a
    truncated header/payload (the skip-policy contract: decoders raise
    ONLY ValueError / NotImplementedError)."""
    if data[:4] != SYNF_MAGIC:
        raise ValueError("not a SYNF frame")
    try:
        w, h = struct.unpack("<II", data[4:12])
        img = np.frombuffer(data[12 : 12 + h * w], dtype=np.uint8)
        return img.reshape(h, w).copy()
    except (struct.error, ValueError) as e:
        raise ValueError(f"corrupt SYNF frame: {e}") from e


# --------------------------------------------------------------------------
# PNG codec — pure numpy + stdlib zlib (no Pillow/cv2 in this container).
# Gives S2 (the reference's polymorphic imread, /root/reference/utils/
# image.py:4-11) a real second on-disk format: 8-bit grayscale / RGB /
# RGBA / palette-less PNGs, all five scanline filters. Color converts to
# grayscale with cv2's exact BGR2GRAY fixed-point luma so downstream
# detection is deterministic.
# --------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: decode-side plausibility cap shared by every codec: output buffers are
#: allocated from HEADER dims, so a corrupt 4-byte field could demand a
#: multi-GB memset before any pixel data is validated (found by fuzzing —
#: a 2s decode stall per bad frame is a stage straggler at 10^12 docs).
#: 2^26 px = an 8192x8192 page — beyond poster-size at 600 dpi, while
#: keeping worst-case decode buffers (palette expansion x4) sub-second.
MAX_DECODE_PIXELS = 1 << 26


def _check_dims(w: int, h: int, what: str) -> None:
    if w <= 0 or h <= 0 or w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"implausible {what} dimensions {w}x{h}")


def _png_chunks(data: bytes):
    off = 8
    while off + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, off)
        typ = data[off + 4 : off + 8]
        yield typ, data[off + 8 : off + 8 + ln]
        off += 12 + ln  # len + type + payload + crc
        if typ == b"IEND":
            break


#: Cost of one anti-diagonal wavefront step, in per-byte list-loop
#: iterations. Measured on a 4-vCPU x86-64 box (numpy 1.26): a Paeth step
#: (10 small ufunc calls over one diagonal, 9-23 us) cost as much as 29-50
#: list-loop bytes (0.3-0.48 us each) across frame shapes and runs.
_WAVE_STEP_BYTES = 32

#: Cap on one wavefront block's skewed int16 buffer (8 MB); a taller run is
#: split into row blocks, each seeded with the last row of the one before.
_WAVE_MAX_CELLS = 1 << 22


def _unfilter_png(raw: np.ndarray, h: int, rb: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4) — per-spec byte arithmetic
    over ``h`` rows of ``rb`` bytes with filter offset ``bpp`` (= max(1,
    channels*depth/8), so sub-byte depths filter at 1-byte distance).
    ``rb`` need not be a multiple of ``bpp`` (PDF predictors): rows are
    padded to whole pixels internally and the padding is cut off.

    None/Up/Sub are one vector step per row (Sub via a modular prefix sum
    per lane). Average and Paeth read the reconstructed left neighbour, so
    a row cannot be done in one step; instead each maximal run of
    consecutive Average/Paeth rows goes one of two ways, whichever the
    cost model says is cheaper for the run's shape:

    * a per-byte Python-list loop (``rows x rb`` byte iterations) — best
      for short runs, e.g. a lone Paeth row;
    * an anti-diagonal wavefront (``rows + width`` vector steps): pixel
      (y, x) depends only on (y, x-1), (y-1, x) and (y-1, x-1), so every
      anti-diagonal is one numpy step (see ``_unfilter_wavefront``).

    Raises ValueError for a bad filter type (before any row is undone) or
    for ``raw`` shorter than ``h * (1 + rb)``."""
    need = h * (1 + rb)
    if len(raw) < need:
        raise ValueError("PNG pixel data truncated")
    rows = raw[:need].reshape(h, 1 + rb)
    ftypes = rows[:, 0].tolist()
    for f in ftypes:
        if f > 4:
            raise ValueError(f"bad PNG filter type {f}")
    npx = -(-rb // bpp)
    out = np.zeros((h, npx * bpp), np.uint8)
    out[:, :rb] = rows[:, 1:]
    y = 0
    while y < h:
        f = ftypes[y]
        if f >= 3:  # Average / Paeth: undo the whole run at once
            y1 = y + 1
            while y1 < h and ftypes[y1] >= 3:
                y1 += 1
            block = _wavefront_block(y1 - y, npx, bpp)
            steps = -(-(y1 - y) // block) * (block + npx)
            if steps * _WAVE_STEP_BYTES < (y1 - y) * npx * bpp:
                for b0 in range(y, y1, block):
                    _unfilter_wavefront(out, b0, min(y1, b0 + block), ftypes, npx, bpp)
            else:
                for r in range(y, y1):
                    _unfilter_row_loop(out, r, ftypes[r], bpp)
            y = y1
            continue
        if f == 1:  # Sub: per-lane modular prefix sum (uint8 wraps mod 256,
            # and modular addition is associative, so it equals the recurrence)
            out[y] = np.cumsum(out[y].reshape(npx, bpp), axis=0, dtype=np.uint8).reshape(-1)
        elif f == 2 and y:  # Up (row 0's prior row is all zero)
            np.add(out[y], out[y - 1], out=out[y])
        y += 1
    return out[:, :rb]


def _unfilter_row_loop(out: np.ndarray, y: int, ftype: int, bpp: int) -> None:
    """One Average (3) or Paeth (4) row, undone in place as a tight
    Python-list loop (~30x faster than numpy scalar indexing)."""
    cl = out[y].tolist()
    pl = out[y - 1].tolist() if y else [0] * len(cl)
    rbp = len(cl)
    if ftype == 3:
        for x in range(bpp):
            cl[x] = (cl[x] + (pl[x] >> 1)) & 0xFF
        for x in range(bpp, rbp):
            cl[x] = (cl[x] + ((cl[x - bpp] + pl[x]) >> 1)) & 0xFF
    else:
        for x in range(bpp):
            # a = c = 0: predictor reduces to b
            cl[x] = (cl[x] + pl[x]) & 0xFF
        for x in range(bpp, rbp):
            a = cl[x - bpp]
            b = pl[x]
            c = pl[x - bpp]
            p = a + b - c
            pa = p - a if p >= a else a - p
            pb = p - b if p >= b else b - p
            pc = p - c if p >= c else c - p
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            cl[x] = (cl[x] + pred) & 0xFF
    out[y] = cl


def _wavefront_block(n: int, npx: int, bpp: int) -> int:
    """Rows per wavefront block: the most (at most ``n``) whose skewed
    buffer, (rows + npx + 1) x (rows + 1) x bpp cells, fits the cap."""
    cap = _WAVE_MAX_CELLS // bpp
    # largest k with (k + npx + 1) * (k + 1) <= cap
    q = npx + 2
    k = (math.isqrt(q * q - 4 * (npx + 1 - cap)) - q) // 2 if cap > npx + 1 else 1
    return max(1, min(n, k))


@functools.cache
def _paeth_lut() -> np.ndarray:
    """Paeth predictor minus c, by key 511*(b - c) + (a - c): the choice
    depends only on those two differences (pa = |b-c|, pb = |a-c|,
    pc = |(b-c) + (a-c)|). The keys span -130560..130560; entry k sits at
    k mod 511^2, so ``take(..., mode="wrap")`` reads negative keys too."""
    db = np.arange(-255, 256, dtype=np.int16)[:, None]
    da = np.arange(-255, 256, dtype=np.int16)[None, :]
    pa, pb, pc = abs(db), abs(da), abs(db + da)
    d = np.where((pa <= pb) & (pa <= pc), da, np.where(pb <= pc, db, np.int16(0)))
    return np.roll(d.ravel(), -(d.size // 2))  # key order → wrap order


def _unfilter_wavefront(
    out: np.ndarray, y0: int, y1: int, ftypes: list, npx: int, bpp: int
) -> None:
    """Undo Average/Paeth rows ``y0:y1`` of ``out`` in place, one
    anti-diagonal per numpy step.

    Let G be the run's pixel grid with a zero column on the left and the
    row above the run (out[y0-1], or zeros) on top, so a pixel at grid
    (i, j) depends on a = G[i, j-1], b = G[i-1, j], c = G[i-1, j-1]. G is
    stored skewed: T[i + j, i] = G[i, j], each pixel's ``bpp`` bytes as
    independent lanes. Anti-diagonal e is then the contiguous slice
    T[e, lo:hi], and its a, b, c are the contiguous slices T[e-1, lo:hi],
    T[e-1, lo-1:hi-1] and T[e-2, lo-1:hi-1] — one vector step per
    diagonal, with values kept in int16 so differences cannot wrap.
    Constant operands are arrays, not Python scalars, which numpy would
    convert on every call."""
    n = y1 - y0
    width = (n + 1) * bpp
    t = np.zeros((n + npx + 1, width), np.int16)
    s0, s1 = t.strides
    g = np.lib.stride_tricks.as_strided(
        t, shape=(n + 1, npx + 1, bpp), strides=(s0 + bpp * s1, s0, s1)
    )
    if y0:
        g[0, 1:] = out[y0 - 1].reshape(npx, bpp)
    g[1:, 1:] = out[y0:y1].reshape(n, npx, bpp)
    kinds = ftypes[y0:y1]
    avg_rows = None
    if 3 in kinds and 4 in kinds:  # mixed run: per-row choice, a fixed lane mask
        avg_rows = np.repeat(np.array([False] + [f == 3 for f in kinds]), bpp)
    lut = _paeth_lut() if 4 in kinds else None
    tp, tv = np.empty(width, np.int16), np.empty(width, np.int16)
    tk = np.empty(width, np.int32)
    c511 = np.full(width, 511, np.int32)
    c255 = np.full(width, 255, np.int16)
    c1 = np.ones(width, np.int16)
    diag = list(t)
    for e in range(2, n + npx + 1):
        lo = (e - npx if e > npx else 1) * bpp
        hi = (e if e <= n else n + 1) * bpp
        m = hi - lo
        cur = diag[e][lo:hi]
        a = diag[e - 1][lo:hi]
        b = diag[e - 1][lo - bpp : hi - bpp]
        pred = tp[:m]
        if lut is not None:
            c = diag[e - 2][lo - bpp : hi - bpp]
            key = tk[:m]
            np.subtract(b, c, out=pred)
            np.multiply(pred, c511[:m], out=key)
            np.subtract(a, c, out=pred)
            np.add(key, pred, out=key)
            lut.take(key, out=pred, mode="wrap")
            np.add(pred, c, out=pred)
            if avg_rows is not None:
                avg = tv[:m]
                np.add(a, b, out=avg)
                np.right_shift(avg, c1[:m], out=avg)
                np.copyto(pred, avg, where=avg_rows[lo:hi])
        else:
            np.add(a, b, out=pred)
            np.right_shift(pred, c1[:m], out=pred)
        np.add(cur, pred, out=cur)
        np.bitwise_and(cur, c255[:m], out=cur)
    out[y0:y1].reshape(n, npx, bpp)[...] = g[1:, 1:]


#: Adam7 pass layout: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unpack(rows: np.ndarray, w: int, nch: int, depth: int) -> np.ndarray:
    """(h, row_bytes) filtered-out rows → (h, w, nch) RAW sample values
    (16-bit reduced to the high byte; sub-byte values NOT yet scaled)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * nch].reshape(h, w, nch)
    if depth == 16:
        return rows[:, : w * nch * 2].reshape(h, w, nch, 2)[..., 0]
    # 1/2/4-bit: MSB-first bit groups
    bits = np.unpackbits(rows, axis=1)[:, : w * nch * depth]
    groups = bits.reshape(h, w * nch, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (groups * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(h, w, nch)


def rgb_to_gray(rgb: np.ndarray) -> np.ndarray:
    """cv2 COLOR_RGB2GRAY exact fixed-point luma: deterministic uint8.

    cv2 quantizes the BT.601 weights at shift 14 — 4899R + 9617G + 1868B
    with +2^13 rounding (verified exhaustively over all 16.7M RGB triples
    against cv2's formula; the shift-15 variant disagrees on 0.26% of
    triples by ±1)."""
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    return ((4899 * r + 9617 * g + 1868 * b + (1 << 13)) >> 14).astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG → grayscale uint8 (h, w). Supports bit depths 1/2/4/8/16,
    color types 0 (gray), 2 (RGB), 3 (palette + PLTE), 4 (gray+alpha),
    6 (RGBA); interlace 0 (none) and 1 (Adam7). Alpha is dropped, 16-bit
    reduces to the high byte, sub-byte gray scales to full range,
    palette indices expand through PLTE before the shared rgb_to_gray.

    Error contract: NotImplementedError for valid-but-unsupported variants,
    ValueError for anything malformed (truncated chunks, bad zlib stream,
    short pixel data) — corrupt blobs must stay classifiable, never leak
    zlib.error/struct.error into callers."""
    import zlib

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    w = h = None
    nch = 0
    depth = ctype = interlace = 0
    idat = []
    plte = None
    try:
        for typ, payload in _png_chunks(data):
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", payload
                )
                if depth not in (1, 2, 4, 8, 16):
                    raise NotImplementedError(f"PNG bit depth {depth} unsupported")
                if interlace not in (0, 1):
                    raise NotImplementedError(f"PNG interlace {interlace} unsupported")
                nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
                if nch is None:
                    raise NotImplementedError(f"PNG color type {ctype} unsupported")
                _check_dims(w, h, "PNG")
                if ctype in (2, 4, 6) and depth not in (8, 16):
                    raise ValueError(f"PNG depth {depth} invalid for color type {ctype}")
                if ctype == 3 and depth == 16:
                    raise ValueError("PNG palette images cannot be 16-bit")
            elif typ == b"PLTE":
                if len(payload) % 3:
                    raise ValueError("PNG PLTE length not a multiple of 3")
                plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat.append(payload)
        if w is None or not idat:
            raise ValueError("PNG missing IHDR/IDAT")
        if ctype == 3 and plte is None:
            raise ValueError("PNG palette image missing PLTE")
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
        bpp = max(1, nch * depth // 8)

        def read_pass(buf, pos, pw, ph):
            rb = (pw * nch * depth + 7) // 8
            need = ph * (1 + rb)
            if len(buf) - pos < need:
                raise ValueError("PNG pixel data truncated")
            rows = _unfilter_png(buf[pos : pos + need], ph, rb, bpp)
            return _png_unpack(rows, pw, nch, depth), pos + need

        if interlace:
            px = np.zeros((h, w, nch), np.uint8)
            pos = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                sub, pos = read_pass(raw, pos, pw, ph)
                px[y0::dy, x0::dx] = sub
        else:
            px, _ = read_pass(raw, 0, w, h)
    except (zlib.error, struct.error, IndexError) as e:
        raise ValueError(f"corrupt PNG: {e}") from e
    if ctype == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG pixel index outside the palette")
        return rgb_to_gray(plte[idx])
    if depth in (1, 2, 4):  # scale sub-byte gray to full range
        mx = (1 << depth) - 1
        return (px[:, :, 0].astype(np.uint16) * 255 // mx).astype(np.uint8)
    if nch in (1, 2):  # gray / gray+alpha: drop alpha
        return px[:, :, 0].copy()
    return rgb_to_gray(px[:, :, :3])


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal grayscale PNG writer (one IDAT, selectable filter — the
    non-zero filters exist so tests can exercise every unfilter path)."""
    import zlib

    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    f = img.astype(np.int32)
    lines = []
    prev = np.zeros(w, np.int32)
    for y in range(h):
        cur = f[y]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = (cur - np.concatenate(([0], cur[:-1]))) & 0xFF
        elif filter_type == 2:
            enc = (cur - prev) & 0xFF
        elif filter_type == 3:
            a = np.concatenate(([0], cur[:-1]))
            enc = (cur - ((a + prev) >> 1)) & 0xFF
        elif filter_type == 4:
            a = np.concatenate(([0], cur[:-1]))
            c = np.concatenate(([0], prev[:-1]))
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c))
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError("bad filter type")
        lines.append(bytes([filter_type]) + enc.astype(np.uint8).tobytes())
        prev = cur
    idat = zlib.compress(b"".join(lines))

    def chunk(typ: bytes, payload: bytes) -> bytes:
        body = typ + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def encode_png_ext(
    samples: np.ndarray,
    depth: int = 8,
    ctype: int = 0,
    interlace: int = 0,
    palette: np.ndarray | None = None,
) -> bytes:
    """Extended PNG fixture writer: gray at depth 1/2/4/8/16, palette
    (ctype 3 + PLTE), RGB (ctype 2), optional Adam7 interlace. ``samples``
    holds RAW sample values (0..2^depth-1 for sub-byte gray and palette
    indices; uint8 for depth 8/16 — 16-bit writes v*257 so the high byte
    round-trips). Filter type 0 per scanline (the non-zero filters are
    exercised by encode_png at depth 8)."""
    import zlib

    h, w = samples.shape[:2]
    nch = {0: 1, 2: 3, 3: 1}[ctype]
    if ctype == 2:
        assert samples.ndim == 3 and samples.shape[2] == 3

    def pack_rows(sub: np.ndarray) -> bytes:
        sh, sw = sub.shape[:2]
        flat = sub.reshape(sh, sw * nch).astype(np.uint16)
        out = bytearray()
        for y in range(sh):
            out.append(0)  # filter type none
            if depth == 8:
                out += flat[y].astype(np.uint8).tobytes()
            elif depth == 16:
                out += (flat[y] * 257).astype(">u2").tobytes()
            else:
                bits = ((flat[y][:, None] >> np.arange(depth - 1, -1, -1)) & 1)
                out += np.packbits(bits.reshape(-1).astype(np.uint8)).tobytes()
        return bytes(out)

    if interlace:
        body = b"".join(
            pack_rows(samples[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if samples[y0::dy, x0::dx].shape[0] and samples[y0::dy, x0::dx].shape[1]
        )
    else:
        body = pack_rows(samples)
    idat = zlib.compress(body)

    def chunk(typ: bytes, payload: bytes) -> bytes:
        b = typ + payload
        return struct.pack(">I", len(payload)) + b + struct.pack(
            ">I", zlib.crc32(b) & 0xFFFFFFFF
        )

    out = PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    )
    if ctype == 3:
        assert palette is not None
        out += chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    return out + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_image(data: bytes) -> np.ndarray:
    """Polymorphic reader (S2, /root/reference/utils/image.py:4-11): SYNF,
    PNG, baseline JPEG, BMP or TIFF → grayscale uint8 — the reference's
    full accepted list (png/jpg/jpeg/bmp/tiff, /root/reference/engine.py:46)
    plus the synthetic container, GIF (beyond-reference: web corpora are
    full of GIFs; animations yield their first composited frame),
    Netpbm P1-P6 (the OCR-tooling interchange format; pnm.py), JBIG2
    standalone files (jbig2.py), and JPEG 2000 — JP2 containers or raw
    codestreams, the PDF JPXDecode payload (jpeg2000.py)."""
    if data[:4] == SYNF_MAGIC:
        return decode_synf(data)
    if data[:8] == PNG_MAGIC:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:2] == b"BM":
        from .bmptiff import decode_bmp

        return decode_bmp(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from .bmptiff import decode_tiff

        return decode_tiff(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(data)
    if data[:8] == b"\x97JB2\r\n\x1a\n":
        from .jbig2 import decode_jbig2

        # bilevel wire convention 1 = black → gray 0
        return ((1 - decode_jbig2(data)) * 255).astype(np.uint8)
    if (data[:8] == b"\x00\x00\x00\x0cjP  "
            or data[:4] == b"\xff\x4f\xff\x51"):
        from .jpeg2000 import decode_jpeg2000

        return decode_jpeg2000(data)
    if (
        len(data) > 2
        and data[0:1] == b"P"
        and data[1:2] in b"123456"
        and (data[2:3].isspace() or data[2:3] == b"#")
    ):
        from .pnm import decode_pnm

        return decode_pnm(data)
    raise ValueError("unknown image format")


#: injectable http(s) fetcher for decode_image_ref — None in this sandbox
#: (no network); a cluster deployment registers one per worker process
_URL_FETCHER = None


def set_url_fetcher(fn) -> None:
    """Register the http(s) fetch callable ``fn(url) -> bytes`` (or None
    to unregister) — the network half of the reference's ``imread``
    surface (/root/reference/utils/image.py:5-11 urlopen path). This
    sandbox has no network, so nothing registers one here; on a cluster
    the ingest bootstrap installs e.g. a pooled HTTP client once per
    worker, and decode_image_ref routes URLs through it. Kept an explicit
    seam (not a default urllib call) so the no-external-data stance of
    this repo is a REGISTRATION decision, visible at deploy time."""
    global _URL_FETCHER
    _URL_FETCHER = fn


def decode_image_ref(src: "bytes | str") -> np.ndarray:
    """Polymorphic source reference — the reference's ``imread`` surface
    (/root/reference/utils/image.py:4-11): raw bytes route to
    decode_image; ``data:image/...;base64,...`` URIs (and bare base64
    strings, utils/image.py:56-58 from_base64) decode inline; http(s)
    URLs route through the fetcher registered via ``set_url_fetcher``
    and raise the documented ingest-stage seam when none is (this
    sandbox: always — no network)."""
    import base64
    import binascii

    if isinstance(src, (bytes, bytearray)):
        return decode_image(bytes(src))
    if src.startswith(("http://", "https://")):
        if _URL_FETCHER is None:
            raise NotImplementedError(
                "URL sources need a fetcher: register one with "
                "kernels.set_url_fetcher(fn) in the worker bootstrap "
                "(no network exists in this sandbox)"
            )
        return decode_image(bytes(_URL_FETCHER(src)))
    if src.startswith("data:"):
        if "," not in src:
            raise ValueError("malformed data: URI")
        meta, payload = src.split(",", 1)
        if ";base64" not in meta:
            raise NotImplementedError("non-base64 data: URI unsupported")
        src = payload
    try:
        raw = base64.b64decode(src, validate=True)
    except (binascii.Error, ValueError) as e:
        raise ValueError(f"invalid base64 image: {e}") from e
    return decode_image(raw)


# --------------------------------------------------------------------------
# Detection — Otsu fallback path (/root/reference/detect/db.py:10-23:
# GaussianBlur(5,5) → Otsu THRESH_BINARY_INV → close×2 → open×1, prob map is
# the cleaned binary mask as float)
# --------------------------------------------------------------------------

# cv2 GaussianBlur(ksize=5, sigma=0) derives sigma = 0.3*((5-1)*0.5-1)+0.8 = 1.1.
# Kernel quantized to /256 fixed-point (sum exactly 256): the whole blur is
# int32 arithmetic — half the memory traffic of float64 and bit-deterministic
# under any parallelism (SURVEY.md §7.3 float-reproducibility requirement).
_G5F = np.exp(-((np.arange(5) - 2.0) ** 2) / (2.0 * 1.1 * 1.1))
_G5F = _G5F / _G5F.sum()
_G5 = np.rint(_G5F * 256).astype(np.int32)
_G5[2] += 256 - int(_G5.sum())  # exact fixed-point normalization


_G5_U16 = _G5.astype(np.uint16)


def gaussian_blur5(img: np.ndarray) -> np.ndarray:
    """Separable 5-tap Gaussian (fixed-point /256), reflect-101 border;
    uint8 in/out. Final scale: round(v / 256^2) via (v + 2^15) >> 16.

    Horizontal pass in uint16 (per-tap product <= 255*93, accumulated sum
    <= 255*256 = 65280 because the taps sum to exactly 256 — no overflow);
    vertical pass in int32. Half the memory traffic of the int32
    formulation, bit-identical output (property-tested)."""
    p = np.pad(img, ((0, 0), (2, 2)), mode="reflect").astype(np.uint16)
    w = img.shape[1]
    # symmetric taps (g0==g4, g1==g3): 3 multiplies instead of 5, exact in
    # integer arithmetic (g*(a+b) == g*a + g*b; a+b <= 510, g*(a+b) <= 47430,
    # full sum <= 65280 — no uint16 overflow anywhere)
    h = _G5_U16[0] * (p[:, 0:w] + p[:, 4 : 4 + w])
    h += _G5_U16[1] * (p[:, 1 : 1 + w] + p[:, 3 : 3 + w])
    h += _G5_U16[2] * p[:, 2 : 2 + w]
    p2 = np.pad(h, ((2, 2), (0, 0)), mode="reflect").astype(np.int32)
    n = img.shape[0]
    v = _G5[0] * (p2[0:n, :] + p2[4 : 4 + n, :])
    v += _G5[1] * (p2[1 : 1 + n, :] + p2[3 : 3 + n, :])
    v += _G5[2] * p2[2 : 2 + n, :]
    return ((v + (1 << 15)) >> 16).astype(np.uint8)


def otsu_threshold(img: np.ndarray) -> int:
    """Classic Otsu over a 256-bin histogram (max between-class variance)
    of a uint8 image (any strides).

    The histogram counts pixel PAIRS: a uint16 view of the flat pixels,
    one bincount over 65,536 bins (half the elements to cast and scatter),
    folded to 256 by summing the low and high byte marginals. With an odd
    pixel count the last pixel has no partner and is counted alone."""
    flat = img.ravel()
    n = flat.size
    c = np.bincount(flat[: n & ~1].view(np.uint16), minlength=1 << 16).reshape(256, 256)
    hist = c.sum(0) + c.sum(1)
    if n & 1:
        hist[flat[-1]] += 1
    hist = hist.astype(np.float64)
    total = hist.sum()
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256, dtype=np.float64))
    mu_t = mu[-1]
    denom = omega * (total - omega)
    sigma_b = np.zeros(256, dtype=np.float64)
    valid = denom > 0
    sigma_b[valid] = (mu_t * omega[valid] - mu[valid] * total) ** 2 / denom[valid]
    return int(np.argmax(sigma_b))


def _morph(m: np.ndarray, r: int, op) -> np.ndarray:
    """Separable binary morphology with a (2r+1)×(2r+1) square: ``op`` is
    np.bitwise_or to dilate, np.bitwise_and to erode. Outside the image
    counts as op's identity (False for dilation, True for erosion — cv2's
    morphology border), so radius r equals r radius-1 passes exactly.

    Every pass is a contiguous loop: each row gets r identity columns on
    its right, so the horizontal shifts can run over the flat array (rows
    back to back, ~4x faster than a 2-D strided pass) — a shift across a
    row end only ever reads identity columns."""
    r = max(r, 0)
    hh, w = m.shape
    p = np.empty((hh, w + r), dtype=bool)
    p[:, :w] = m
    p[:, w:] = op.identity
    v = p.copy()
    for k in range(1, r + 1):
        op(v[k:], p[:-k], out=v[k:])
        op(v[:-k], p[k:], out=v[:-k])
    out = v.copy()
    fo, fv = out.ravel(), v.ravel()
    for k in range(1, r + 1):
        op(fo[k:], fv[:-k], out=fo[k:])
        op(fo[:-k], fv[k:], out=fo[:-k])
    return np.ascontiguousarray(out[:, :w])


def _dilate(m: np.ndarray, r: int = 1) -> np.ndarray:
    return _morph(m, r, np.bitwise_or)


def _erode(m: np.ndarray, r: int = 1) -> np.ndarray:
    return _morph(m, r, np.bitwise_and)


def detect_prob(gray: np.ndarray) -> np.ndarray:
    """Fallback 'detector' forward: the cleaned binary text mask, as bool.

    Mirrors /root/reference/detect/db.py:10-23 (blur → Otsu inverse-binary →
    morphological close ×2 → open ×1), with cv2 replaced by numpy. The
    reference's probability map is this mask as 0.0/1.0; extract_boxes and
    extract_boxes_rotated take either form and give identical boxes, so no
    float copy is made.
    """
    bl = gaussian_blur5(gray)
    t = otsu_threshold(bl)
    mask = bl <= t  # THRESH_BINARY_INV: foreground where value <= threshold
    # close ×2 == dilate×2 then erode×2 ; open ×1 == erode then dilate. The
    # 3×3 passes compose into square ones (two 3×3 squares make a 5×5), so
    # the two erosions in a row run as one radius-3 pass: dilate r2 →
    # erode r3 → dilate r1, bit-identical (property-tested).
    return _dilate(_erode(_dilate(mask, 2), 3))


def _label_runs(mask: np.ndarray):
    """Run-based union-find labeling shared by the AABB and rotated-geometry
    component aggregators. Returns (sy, sx, ex, find) — per-run start row,
    start col, exclusive end col (row-major run order) and the union-find
    root function — or None when the mask is empty."""
    h, w = mask.shape
    if not mask.any():
        return None
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    # run edges: flat index y*(w+1) + x marks a change between padded
    # columns x and x+1 of row y. One flat scan finds both kinds; row-major
    # order keeps starts and ends paired per row (runs alternate within a
    # row). An edge opens a run when the pixel after it is set.
    flat = np.flatnonzero(padded[:, 1:] != padded[:, :-1])
    yy, xx = np.divmod(flat, w + 1)
    pos = padded.ravel()[flat + yy + 1]
    sy = yy[pos]                     # run starts (row-major order)
    sx = xx[pos].tolist()
    ex = xx[~pos].tolist()           # run ends, aligned with starts per row
    n = len(sx)
    parent = list(range(n))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    # scanline union of vertically (8-conn) touching runs, two-pointer per row
    row_start = np.searchsorted(sy, np.arange(h + 1)).tolist()
    for y in range(1, h):
        i, i1 = row_start[y], row_start[y + 1]
        j, j1 = row_start[y - 1], row_start[y]
        while i < i1 and j < j1:
            if sx[i] <= ex[j] and sx[j] <= ex[i]:  # overlap with ±1 slack
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
            if ex[i] < ex[j]:
                i += 1
            else:
                j += 1
    return sy, sx, ex, find


def connected_components(mask: np.ndarray) -> list[tuple[int, int, int, int, int]]:
    """8-connected component bounding boxes via run-based union-find.

    Replaces cv2.findContours (/root/reference/detect/postprocess.py:18) per
    SURVEY.md §2.7 K7 — north_star sanctions connected-component detection.
    Returns [(x0, y0, x1, y1, area)] with exclusive x1/y1, sorted by
    (y0, x0, x1, y1) for a deterministic order.
    """
    labeled = _label_runs(mask)
    if labeled is None:
        return []
    sy, sx, ex, find = labeled
    n = len(sx)
    sy_l = sy.tolist()
    agg: dict[int, list[int]] = {}
    for k in range(n):
        r = find(k)
        b = agg.get(r)
        if b is None:
            agg[r] = [sx[k], sy_l[k], ex[k], sy_l[k] + 1, ex[k] - sx[k]]
        else:
            if sx[k] < b[0]:
                b[0] = sx[k]
            if ex[k] > b[2]:
                b[2] = ex[k]
            b[3] = sy_l[k] + 1
            b[4] += ex[k] - sx[k]
    out = [(b[0], b[1], b[2], b[3], b[4]) for b in agg.values()]
    out.sort(key=lambda t: (t[1], t[0], t[2], t[3]))
    return out


def connected_components_hulls(mask: np.ndarray, prob: np.ndarray | None = None) -> list[tuple]:
    """Like connected_components, but also returns each component's run
    endpoints (the exact support of its convex hull) for rotated geometry,
    and — when ``prob`` is given — the mean probability over the component's
    OWN pixels (the run union), the run-exact analog of the reference's
    fillPoly-mask mean (/root/reference/detect/postprocess.py:33-35
    _box_score). The bbox-region mean the AABB path uses dilutes on skewed
    lines (a 10° line fills ~40% of its envelope), so the rotated path needs
    in-support scoring.

    Returns [(x0, y0, x1, y1, area, points (M,2) float64, score float)]
    sorted identically to connected_components — points are pixel-index
    coordinates of the left and right end pixels of every run.
    """
    h, w = mask.shape
    labeled = _label_runs(mask)
    if labeled is None:
        return []
    sy, sx, ex, find = labeled
    n = len(sx)
    sy_l = sy.tolist()
    if prob is not None:
        cs = np.zeros((h, w + 1), dtype=np.float64)
        np.cumsum(prob, axis=1, out=cs[:, 1:])  # row prefix sums: O(1)/run
    agg: dict[int, list] = {}
    for k in range(n):
        r = find(k)
        y = sy_l[k]
        psum = float(cs[y, ex[k]] - cs[y, sx[k]]) if prob is not None else 0.0
        b = agg.get(r)
        if b is None:
            agg[r] = [sx[k], y, ex[k], y + 1, ex[k] - sx[k],
                      [(sx[k], y), (ex[k] - 1, y)], psum]
        else:
            if sx[k] < b[0]:
                b[0] = sx[k]
            if ex[k] > b[2]:
                b[2] = ex[k]
            b[3] = y + 1
            b[4] += ex[k] - sx[k]
            b[5].append((sx[k], y))
            b[5].append((ex[k] - 1, y))
            b[6] += psum
    out = [
        (b[0], b[1], b[2], b[3], b[4], np.asarray(b[5], dtype=np.float64),
         b[6] / b[4] if b[4] else 0.0)
        for b in agg.values()
    ]
    out.sort(key=lambda t: (t[1], t[0], t[2], t[3]))
    return out


def order_quad(pts: np.ndarray) -> np.ndarray:
    """Adjacency-safe quad ordering: tl-most corner first, then around the
    quad's own cycle. The reference's sum/diff rule (order_points) picks
    each role independently and can pair DIAGONAL corners as 'adjacent'
    on rects rotated toward 45° (review finding r3 — the recomputed edge
    lengths then measure diagonals). Here the cycle is recovered by angle
    sort around the centroid (exact for any convex quad), the start corner
    is the reference's min-(x+y), and the traversal direction is chosen by
    the reference's min-(y-x) rule for the second corner, so roughly
    upright quads order identically to order_points."""
    pts = np.asarray(pts, dtype=np.float32)
    c = pts.mean(axis=0)
    ang = np.arctan2(pts[:, 1] - c[1], pts[:, 0] - c[0])
    cyc = pts[np.argsort(ang)]
    start = int(np.argmin(cyc.sum(axis=1)))
    idx = [(start + k) % 4 for k in range(4)]
    fwd = cyc[idx]
    bwd = cyc[[(start - k) % 4 for k in range(4)]]
    d_f = fwd[1, 1] - fwd[1, 0]
    d_b = bwd[1, 1] - bwd[1, 0]
    return fwd if d_f <= d_b else bwd


def order_points(pts: np.ndarray) -> np.ndarray:
    """Order 4 quad points as top-left, top-right, bottom-right, bottom-left
    by the reference's sum/diff rule (/root/reference/postprocess.py:11-14
    `_order_points`; dup /root/reference/utils/image.py:37-40). Valid for
    roughly-upright quads; rotated-rect internals use order_quad."""
    pts = np.asarray(pts, dtype=np.float32)
    rect = np.zeros((4, 2), dtype=np.float32)
    sm = pts.sum(axis=1)
    df = pts[:, 1] - pts[:, 0]
    rect[0] = pts[np.argmin(sm)]
    rect[2] = pts[np.argmax(sm)]
    rect[1] = pts[np.argmin(df)]
    rect[3] = pts[np.argmax(df)]
    return rect


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Convex hull (Andrew monotone chain), counter-clockwise in image
    coordinates (y down). Collinear points dropped. Returns (H,2) float64."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)  # lex sort
    if len(pts) <= 2:
        return pts

    def half(seq):
        out: list[np.ndarray] = []
        for p in seq:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def min_area_rect(points: np.ndarray) -> tuple[np.ndarray, float, float]:
    """Minimum-area enclosing rectangle of a point set (rotating calipers
    over the convex hull — one rect side is always flush with a hull edge).

    Replaces cv2.minAreaRect+boxPoints (/root/reference/detect/postprocess.py:47-52
    `_get_mini_box`) without cv2. Points are pixel-index coordinates; the
    returned quad uses the repo's index-extent convention (quad corner p0 is
    the first sample position, p1 = p0 + W*ux is one-past-last — the exact
    rotated analog of the AABB [x0, x1) exclusive convention), so extents
    are (max_proj - min_proj) + 1 like x1 - x0 = (max_idx - min_idx) + 1.

    Returns (quad (4,2) float32 ordered tl,tr,br,bl, W, H).
    """
    pts = np.asarray(points, dtype=np.float64)
    hull = convex_hull(pts)
    if len(hull) <= 2:
        # degenerate (single point / collinear): axis-aligned fallback
        x0, y0 = pts.min(axis=0)
        x1, y1 = pts.max(axis=0)
        quad = np.array(
            [[x0, y0], [x1 + 1.0, y0], [x1 + 1.0, y1 + 1.0], [x0, y1 + 1.0]],
            dtype=np.float32,
        )
        return quad, float(x1 - x0 + 1.0), float(y1 - y0 + 1.0)
    edges = np.roll(hull, -1, axis=0) - hull
    lens = np.hypot(edges[:, 0], edges[:, 1])
    keep = lens > 1e-12
    ux = edges[keep] / lens[keep, None]          # (E,2) unit edge directions
    # The flush-edge optimality theorem holds for TRUE area; the pixel
    # objective below is (extent+1)^2-style, for which a hull-edge-flush
    # orientation can lose to axis-aligned on small point sets (review
    # finding r3). Adding the axis-aligned candidate guarantees the result
    # never exceeds the AABB under the pixel objective (property-tested).
    ux = np.vstack([ux, [[1.0, 0.0]]])
    uy = np.stack([-ux[:, 1], ux[:, 0]], axis=1)  # perpendiculars
    pu = hull @ ux.T                              # (H,E) projections
    pv = hull @ uy.T
    mnu, mxu = pu.min(axis=0), pu.max(axis=0)
    mnv, mxv = pv.min(axis=0), pv.max(axis=0)
    areas = (mxu - mnu + 1.0) * (mxv - mnv + 1.0)
    e = int(np.argmin(areas))                     # first min edge: deterministic
    w_ext = float(mxu[e] - mnu[e] + 1.0)
    h_ext = float(mxv[e] - mnv[e] + 1.0)
    p0 = mnu[e] * ux[e] + mnv[e] * uy[e]
    quad = np.stack(
        [
            p0,
            p0 + w_ext * ux[e],
            p0 + w_ext * ux[e] + h_ext * uy[e],
            p0 + h_ext * uy[e],
        ]
    ).astype(np.float32)
    quad = order_quad(quad)
    # ordering may swap which side is "width": recompute extents from the
    # (adjacency-safe) ordered corners
    w_ord = float(np.hypot(*(quad[1] - quad[0])))
    h_ord = float(np.hypot(*(quad[3] - quad[0])))
    return quad, w_ord, h_ord


def quad_to_aabb(quad: np.ndarray) -> np.ndarray:
    """Axis-aligned envelope [x0,y0,x1,y1] of a quad (float32)."""
    q = np.asarray(quad)
    return np.array(
        [q[:, 0].min(), q[:, 1].min(), q[:, 0].max(), q[:, 1].max()],
        dtype=np.float32,
    )


def _is_axis_aligned(quad: np.ndarray, tol: float = 1e-4) -> bool:
    q = np.asarray(quad)
    return (
        abs(q[0, 1] - q[1, 1]) <= tol
        and abs(q[3, 1] - q[2, 1]) <= tol
        and abs(q[0, 0] - q[3, 0]) <= tol
        and abs(q[1, 0] - q[2, 0]) <= tol
    )


def _bilinear_sample(img: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Bilinear sample `img` at float coords (clamped to borders), rounded
    to uint8 — the one sampling definition shared by crop_quad and
    rotate_any so their semantics can never diverge."""
    ih, iw = img.shape
    xs = np.clip(xs, 0.0, iw - 1.0)
    ys = np.clip(ys, 0.0, ih - 1.0)
    x0 = np.floor(xs).astype(np.intp)
    y0 = np.floor(ys).astype(np.intp)
    x1 = np.minimum(x0 + 1, iw - 1)
    y1 = np.minimum(y0 + 1, ih - 1)
    fx = xs - x0
    fy = ys - y0
    im = img.astype(np.float64)
    top = im[y0, x0] * (1.0 - fx) + im[y0, x1] * fx
    bot = im[y1, x0] * (1.0 - fx) + im[y1, x1] * fx
    out = top * (1.0 - fy) + bot * fy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def crop_quad(img: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Perspective-crop a quad to an upright (th, tw) patch.

    Mirrors /root/reference/postprocess.py:5-10 `crop_poly`
    (getPerspectiveTransform + warpPerspective) with two documented
    deviations: (1) exact axis-aligned quads take the integer slice path
    (bit-identical to crop_box — the upright common case costs no resample);
    (2) dst corners map to (tw, th) one-past-last, not (tw-1, th-1), i.e.
    unit-step sampling with no half-pixel stretch, consistent with the
    repo's exclusive-extent box convention.

    General path: 4-point homography (closed-form DLT, exact affine for
    parallelograms) + bilinear sampling clamped at image borders.
    """
    quad = order_quad(quad)
    if _is_axis_aligned(quad):
        return crop_box(img, quad_to_aabb(quad))
    p0, p1, p2, p3 = quad.astype(np.float64)
    tw = max(int(round(max(np.hypot(*(p1 - p0)), np.hypot(*(p2 - p3))))), 1)
    th = max(int(round(max(np.hypot(*(p3 - p0)), np.hypot(*(p2 - p1))))), 1)
    dst = np.array([[0, 0], [tw, 0], [tw, th], [0, th]], dtype=np.float64)
    H = homography(dst, np.stack([p0, p1, p2, p3]))
    return _warp_by_homography(img, H, th, tw)


def homography(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """3x3 projective transform mapping the 4 src points onto the 4 dst
    points (closed-form DLT; the cv2.getPerspectiveTransform analog)."""
    A = np.zeros((8, 8))
    b = np.zeros(8)
    for i in range(4):
        u, v = src[i]
        x, y = dst[i]
        A[2 * i] = [u, v, 1, 0, 0, 0, -u * x, -v * x]
        A[2 * i + 1] = [0, 0, 0, u, v, 1, -u * y, -v * y]
        b[2 * i] = x
        b[2 * i + 1] = y
    hvec = np.linalg.solve(A, b)
    return np.append(hvec, 1.0).reshape(3, 3)


def _warp_by_homography(img: np.ndarray, H: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Sample img at H(output grid) — H maps OUTPUT coords to SOURCE coords
    (the inverse map, as cv2.warpPerspective uses internally)."""
    uu, vv = np.meshgrid(np.arange(out_w, dtype=np.float64),
                         np.arange(out_h, dtype=np.float64))
    den = H[2, 0] * uu + H[2, 1] * vv + H[2, 2]
    xs = (H[0, 0] * uu + H[0, 1] * vv + H[0, 2]) / den
    ys = (H[1, 0] * uu + H[1, 1] * vv + H[1, 2]) / den
    return _bilinear_sample(img, xs, ys)


def extract_boxes_rotated(
    prob: np.ndarray,
    orig_size: tuple[int, int],
    th: float = 0.3,
    bth: float = 0.6,
    ur: float = 1.5,
    ms: int = 3,
    dil: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Prob map → scored min-area-rect quads in ORIGINAL image coordinates.

    The rotated-geometry analog of extract_boxes, mirroring the reference's
    full path (/root/reference/detect/postprocess.py:12-31: threshold →
    dilate → components → score → unclip → minAreaRect → min-size →
    per-axis rescale+clip). Scoring is the mean probability over the
    component's OWN pixels (run-exact analog of the reference's fillPoly
    mask mean, detect/postprocess.py:33-35) — the AABB path's bbox-region
    mean would dilute below bth on skewed lines; the unclip offset
    d = area*ur/perimeter expands the rect by d along its own axes (the
    exact rectangle offset — what pyclipper's rounded offset converges to
    for rectangles). On an axis-aligned component the returned quad equals
    the extract_boxes AABB exactly.

    ``prob`` is a float probability map or detect_prob's bool mask.
    Returns (quads (N,4,2) float32 ordered tl,tr,br,bl, scores (N,)).
    """
    dh, dw = prob.shape
    oh, ow = orig_size
    mask = _dilate(prob > th, dil)  # dil 3×3 dilations == one of radius dil
    quads, scores = [], []
    fx, fy = ow / dw, oh / dh
    for x0, y0, x1, y1, _area, pts, sc in connected_components_hulls(mask, prob):
        if sc < bth:
            continue
        quad, w_ext, h_ext = min_area_rect(pts)
        d = (w_ext * h_ext) * ur / (2.0 * (w_ext + h_ext)) if (w_ext + h_ext) > 0 else 0.0
        if min(w_ext + 2 * d, h_ext + 2 * d) < ms:
            continue
        # expand by d along the rect's own axes (tl,tr,br,bl ordering)
        ux = (quad[1] - quad[0]) / max(w_ext, 1e-9)
        uy = (quad[3] - quad[0]) / max(h_ext, 1e-9)
        grow = np.stack([-ux - uy, ux - uy, ux + uy, -ux + uy]) * d
        q = quad + grow.astype(np.float32)
        # per-axis rescale back to the original frame, clipped (reference
        # scales+clips the quad points at detect/postprocess.py:29)
        q[:, 0] = np.clip(q[:, 0] * fx, 0.0, ow)
        q[:, 1] = np.clip(q[:, 1] * fy, 0.0, oh)
        quads.append(q)
        scores.append(sc)
    if not quads:
        return np.zeros((0, 4, 2), np.float32), np.zeros((0,), np.float32)
    return np.stack(quads).astype(np.float32), np.asarray(scores, np.float32)


def extract_boxes(
    prob: np.ndarray,
    orig_size: tuple[int, int],
    th: float = 0.3,
    bth: float = 0.6,
    ur: float = 1.5,
    ms: int = 3,
    dil: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Prob map → scored axis-aligned boxes in ORIGINAL image coordinates.

    Mirrors /root/reference/detect/postprocess.py:12-31 with AABB geometry
    (SURVEY.md §7.3): threshold → dilate → components → score filter →
    unclip (exact rectangle offset d = area*ur/perimeter, K9) → min-size
    filter → rescale per-axis to the original frame with clipping.

    ``prob`` is a float probability map or detect_prob's bool mask.
    Returns (boxes (N,4) float32 [x0,y0,x1,y1], scores (N,) float32).
    """
    dh, dw = prob.shape
    oh, ow = orig_size
    mask = _dilate(prob > th, dil)  # dil 3×3 dilations == one of radius dil
    boxes, scores = [], []
    for x0, y0, x1, y1, _area in connected_components(mask):
        region = prob[y0:y1, x0:x1]
        # float32 mean of a float map or of the detector's bool mask: on 0/1
        # data every partial sum is an integer <= 2^24 (det.mxs <= 4096), so
        # both forms give the same score
        sc = float(region.mean(dtype=np.float32)) if region.size else 0.0
        if sc < bth:
            continue
        bw, bh = float(x1 - x0), float(y1 - y0)
        d = (bw * bh) * ur / (2.0 * (bw + bh)) if (bw + bh) > 0 else 0.0
        ex0, ey0, ex1, ey1 = x0 - d, y0 - d, x1 + d, y1 + d
        if min(ex1 - ex0, ey1 - ey0) < ms:
            continue
        # per-axis rescale back to the original frame, clipped (reference
        # clips at detect/postprocess.py:29)
        fx, fy = ow / dw, oh / dh
        boxes.append(
            (
                min(max(ex0 * fx, 0.0), ow),
                min(max(ey0 * fy, 0.0), oh),
                min(max(ex1 * fx, 0.0), ow),
                min(max(ey1 * fy, 0.0), oh),
            )
        )
        scores.append(sc)
    if not boxes:
        return np.zeros((0, 4), np.float32), np.zeros((0,), np.float32)
    return np.asarray(boxes, np.float32), np.asarray(scores, np.float32)


# --------------------------------------------------------------------------
# Geometry / resizing
# --------------------------------------------------------------------------


_RESIZE_IDX_CACHE: dict[tuple[int, int, int, int], tuple] = {}


def _resize_indices(h: int, w: int, nh: int, nw: int) -> tuple:
    """Gather indices + fixed-point weights for a (h,w)->(nh,nw) resize.

    Cached: recognition resizes hit a small set of (crop_h, crop_w, 48, nw)
    shapes repeatedly, and the per-call float64 index arithmetic is a
    measurable fraction of small-crop resize cost."""
    key = (h, w, nh, nw)
    ent = _RESIZE_IDX_CACHE.get(key)
    if ent is None:
        ys = (np.arange(nh, dtype=np.float64) + 0.5) * (h / nh) - 0.5
        xs = (np.arange(nw, dtype=np.float64) + 0.5) * (w / nw) - 0.5
        y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
        x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
        y1 = np.minimum(y0 + 1, h - 1)
        x1 = np.minimum(x0 + 1, w - 1)
        wyq = np.rint(np.clip(ys - y0, 0.0, 1.0) * 256).astype(np.int32)[:, None]
        wxq = np.rint(np.clip(xs - x0, 0.0, 1.0) * 256).astype(np.uint16)[None, :]
        ent = (y0, y1, x0, x1, wyq, wxq)
        if len(_RESIZE_IDX_CACHE) > 4096:
            _RESIZE_IDX_CACHE.clear()
        _RESIZE_IDX_CACHE[key] = ent
    return ent


def resize_bilinear(img: np.ndarray, nh: int, nw: int) -> np.ndarray:
    """Pixel-center-aligned bilinear resize, uint8 in/out.

    Separable fixed-point (/256 weights) integer arithmetic, deterministic
    under any parallelism. Horizontal pass in uint16: per-pixel value is
    v0*(256-a) + v1*a <= 255*256 = 65280 (weights complement to 256), so it
    cannot overflow; vertical pass promotes to int32 (<= 255*256*256 < 2^31).
    Each pass gathers with np.take and lerps in place, one temporary per
    pass; bit-identical to the two-product formulation (property-tested
    against its twin in tests/test_property_kernels.py)."""
    h, w = img.shape
    if (h, w) == (nh, nw):
        return img.copy()
    y0, y1, x0, x1, wyq, wxq = _resize_indices(h, w, nh, nw)
    # horizontal pass on the source rows: (h, w) -> (h, nw), as the lerp
    # (a << 8) + (b - a)*wx in place. In uint16 the difference wraps, but the
    # sum is exact mod 2^16 and the true value is <= 65280.
    hx = np.take(img, x0, axis=1).astype(np.uint16)
    d = np.take(img, x1, axis=1).astype(np.uint16)
    d -= hx
    d *= wxq
    hx <<= 8
    hx += d
    # vertical pass: (h, nw) -> (nh, nw), the same lerp in int32
    v = np.take(hx, y0, axis=0).astype(np.int32)
    d = np.take(hx, y1, axis=0).astype(np.int32)
    d -= v
    d *= wyq
    v <<= 8
    v += d
    v += 1 << 15
    v >>= 16
    return v.astype(np.uint8)


def det_resize(img: np.ndarray, mxs: int = 960) -> np.ndarray:
    """Keep-ratio resize capped at mxs, floored to multiples of 32.

    Mirrors /root/reference/preprocess/core.py:26-30:
    sc = min(mxs/h, mxs/w, 1.0); nh = (h*sc)//32*32 or 32 (same for w).
    """
    h, w = img.shape
    sc = min(mxs / h, mxs / w, 1.0)
    nh = max((int(h * sc) // 32) * 32, 32)
    nw = max((int(w * sc) // 32) * 32, 32)
    return resize_bilinear(img, nh, nw)


def crop_box(img: np.ndarray, box: np.ndarray) -> np.ndarray:
    """Axis-aligned crop (exact analog of the perspective crop for AABBs,
    /root/reference/postprocess.py:5-10 — SURVEY.md §2.7 K10)."""
    h, w = img.shape
    x0 = max(int(np.floor(box[0])), 0)
    y0 = max(int(np.floor(box[1])), 0)
    x1 = min(int(np.ceil(box[2])), w)
    y1 = min(int(np.ceil(box[3])), h)
    x1 = max(x1, x0 + 1)
    y1 = max(y1, y0 + 1)
    return img[y0:y1, x0:x1]


def aabb_iou(b1, b2) -> float:
    """Axis-aligned IoU (replaces the shapely polygon IoU of
    /root/reference/postprocess.py:43-50 exactly for rectangles, K23)."""
    ix0, iy0 = max(b1[0], b2[0]), max(b1[1], b2[1])
    ix1, iy1 = min(b1[2], b2[2]), min(b1[3], b2[3])
    iw, ih = max(ix1 - ix0, 0.0), max(iy1 - iy0, 0.0)
    inter = iw * ih
    a1 = (b1[2] - b1[0]) * (b1[3] - b1[1])
    a2 = (b2[2] - b2[0]) * (b2[3] - b2[1])
    union = a1 + a2 - inter
    return float(inter / union) if union > 0 else 0.0


def nms(boxes: np.ndarray, scores: np.ndarray, th: float = 0.5) -> list[int]:
    """Greedy NMS, /root/reference/detect/postprocess.py:58-70 verbatim."""
    if len(boxes) == 0:
        return []
    idxs = np.argsort(scores)[::-1]
    keep = []
    while len(idxs) > 0:
        i = int(idxs[0])
        keep.append(i)
        if len(idxs) == 1:
            break
        ious = np.array([aabb_iou(boxes[i], boxes[j]) for j in idxs[1:]])
        idxs = idxs[1:][ious < th]
    return keep


# --------------------------------------------------------------------------
# Recognition — frozen seeded integer CRNN + CTC greedy
# --------------------------------------------------------------------------

_WEIGHT_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def crnn_weights(seed: int = 20260816) -> tuple[np.ndarray, np.ndarray]:
    """Frozen seeded weights (fixture artifact, SURVEY.md §2.8): the
    reference's recognition nets draw fresh random weights per call
    (/root/reference/recognize/svtr.py:24,36,68) which would make goldens
    unreproducible; we freeze them. INTEGER weights so the forward pass is
    exact and order-independent across BLAS/thread configurations.

    W1: patch-embed (192→96), W2: vocab head (96→VOCAB_SIZE). int64.
    """
    cached = _WEIGHT_CACHE.get(seed)
    if cached is None:
        rng = np.random.default_rng(seed)
        # Stored as float32 holding exact small integers so the forward pass
        # can run through BLAS sgemm. Exactness: |any partial sum| <=
        # 192*128*31 = 761,856 (layer 1) and 96*127*31 = 377,952 (layer 2),
        # both < 2^24 — every intermediate is an exactly-representable
        # float32 integer, so the GEMM result is bit-identical to integer
        # arithmetic REGARDLESS of accumulation order (and ~10x faster than
        # numpy's non-BLAS int32 matmul path).
        w1 = rng.integers(-31, 32, size=(192, 96), dtype=np.int64).astype(np.float32)
        w2 = rng.integers(-31, 32, size=(96, VOCAB_SIZE), dtype=np.int64).astype(np.float32)
        cached = (w1, w2)
        _WEIGHT_CACHE[seed] = cached
    return cached


def load_weights_file(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Externally supplied recognition weights (VERDICT r4 next-step #7) —
    the weight-loading seam mirroring the reference's pretrained-model
    path (/root/reference/recognize/recognizer.py:18-25 loads ONNX from
    models/pretrained/weights/). This sandbox has no onnx runtime, so the
    interchange format is a ``.npz`` archive holding ``w1`` (192, 96) and
    ``w2`` (96, VOCAB_SIZE); the pipeline only ever sees the (w1, w2)
    tuple, so on a cluster the same broadcast seam carries whatever a
    real loader produces. Shapes are validated loudly. Integer-valued
    weights with |w| <= 31 keep the seeded path's bit-exactness-under-
    any-BLAS guarantee (partial-sum bound in ``crnn_weights``); other
    values are accepted — real pretrained tensors are floats — but the
    forward becomes ordinary float32 arithmetic (deterministic per BLAS
    build, not bit-pinned across builds), and a warning records the
    downgrade once per file."""
    import warnings

    key = ("file", path, os.path.getmtime(path))
    cached = _WEIGHT_CACHE.get(key)
    if cached is not None:
        return cached
    with np.load(path) as z:
        if "w1" not in z or "w2" not in z:
            raise ValueError(
                f"weights file {path!r} must contain arrays 'w1' and 'w2'"
                f" (has {sorted(z.files)})"
            )
        w1 = np.asarray(z["w1"], dtype=np.float32)
        w2 = np.asarray(z["w2"], dtype=np.float32)
    want1, want2 = (192, 96), (96, VOCAB_SIZE)
    if w1.shape != want1 or w2.shape != want2:
        raise ValueError(
            f"weights file {path!r} shape mismatch: w1 {w1.shape} != "
            f"{want1} or w2 {w2.shape} != {want2} (vocab size "
            f"{VOCAB_SIZE})"
        )
    exact = (
        np.all(w1 == np.round(w1)) and np.all(np.abs(w1) <= 31)
        and np.all(w2 == np.round(w2)) and np.all(np.abs(w2) <= 31)
    )
    if not exact:
        warnings.warn(
            f"weights {path!r} are not small integers: forward pass is "
            "float32 (deterministic per BLAS build, not bit-pinned across "
            "builds — the seeded path's exactness bound does not apply)",
            stacklevel=2,
        )
    _WEIGHT_CACHE[key] = (w1, w2)
    return w1, w2


def resolve_weights(rec_cfg) -> tuple[np.ndarray, np.ndarray]:
    """The one weight-resolution entry point every pipeline/oracle/api
    site uses: ``rec.weights_path`` (external file) when set, else the
    frozen seeded fixture weights — so swapping seeded↔file weights never
    changes any other code path (golden equality under each is pinned by
    tests/test_weights_seam.py)."""
    path = getattr(rec_cfg, "weights_path", None)
    if path:
        return load_weights_file(path)
    return crnn_weights(rec_cfg.weight_seed)


def rec_resize(crop: np.ndarray, h: int = 48, mw: int = 320, min_w: int = 8) -> np.ndarray:
    """Resize a crop to fixed height, width proportional, capped.

    Mirrors /root/reference/recognize/recognizer.py:44-49 (h=48, mw=320)."""
    ch, cw = crop.shape
    nw = int(round(cw * h / max(ch, 1)))
    nw = max(min(nw, mw), min_w)
    return resize_bilinear(crop, h, nw)


def crnn_logits(crop48: np.ndarray, weights: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
    """CRNN-shaped forward: 4-px patch embed → clip 'mixing' → vocab head.

    Shape mirrors /root/reference/recognize/svtr.py:11-16,63-68 (patch embed,
    mixing, height pool folded into the patch flatten, linear head). All
    integer until the final float cast — bit-stable under any parallelism.
    Input: uint8 (48, W). Output: float32 (T, VOCAB_SIZE), T = ceil(W/4).
    """
    return _crnn_tail(_crnn_feats(crop48), weights)


def softmax(x: np.ndarray) -> np.ndarray:
    """Stabilized softmax, /root/reference/recognize/ctc.py:42-44."""
    ex = np.exp(x - np.max(x, axis=-1, keepdims=True))
    return ex / np.sum(ex, axis=-1, keepdims=True)


def ctc_greedy(logits: np.ndarray) -> tuple[str, float]:
    """CTC greedy decode, /root/reference/recognize/ctc.py:16-24 verbatim:
    argmax per step, drop blanks (idx 0) and repeats, score = mean of kept
    max-softmax probabilities (0.0 when nothing kept)."""
    probs = softmax(logits)
    preds = np.argmax(probs, axis=-1)
    scores = probs.max(axis=-1)
    return _ctc_collapse(preds.tolist(), scores.tolist())


def _ctc_collapse(preds: list, scores: list) -> tuple[str, float]:
    """The blank/repeat collapse half of ctc_greedy (shared with the
    batch-softmax path in recognize_crop_groups)."""
    chars, scs = [], []
    prev = -1
    for p, sc in zip(preds, scores):
        if p != 0 and p != prev:
            chars.append(idx2char(p))
            scs.append(sc)
        prev = p
    return "".join(chars), float(np.mean(scs)) if scs else 0.0


def recognize_crop(crop: np.ndarray, weights, h=48, mw=320, min_w=8) -> tuple[str, float]:
    """Full recognition of one crop (resize → normalize-by-shape → CRNN →
    CTC). Per-crop, independent of batch composition (batch-invariance,
    SURVEY.md §5.2(4))."""
    return ctc_greedy(crnn_logits(rec_resize(crop, h, mw, min_w), weights))


def _crnn_feats(crop48: np.ndarray) -> np.ndarray:
    """Patch-embed features of one crop (the front half of crnn_logits,
    split out so crops can share one GEMM)."""
    h, w = crop48.shape
    t = (w + 3) // 4
    padded = np.full((h, t * 4), 255, dtype=np.uint8)
    padded[:, :w] = crop48
    feats = padded.reshape(h, t, 4).transpose(1, 0, 2).reshape(t, h * 4)
    return feats.astype(np.float32) - 128.0


def _crnn_tail(feats: np.ndarray, weights) -> np.ndarray:
    """GEMM → integer 'mixing' → GEMM → scale (the back half of
    crnn_logits; rows are independent so batched and per-crop calls are
    bit-identical — exactness bounds in crnn_weights)."""
    w1, w2 = weights
    hid = feats @ np.asarray(w1, np.float32)   # sgemm, exact
    # floor(x/64) == arithmetic >>6 for integers; x*2^-6 and floor are both
    # exact in float32 (|x| < 2^24, power-of-two scale), so this stays the
    # same integer 'mixing' without the int32 round-trip. In-place ops:
    # the mixing would otherwise allocate three hidden-size temporaries
    # per Arrow batch (~100 MB churn at 10^3-frame batches) for identical
    # bits — multiply/floor/clip are value-exact here regardless of
    # destination buffer
    np.multiply(hid, np.float32(0.015625), out=hid)
    np.floor(hid, out=hid)
    np.clip(hid, -127, 127, out=hid)
    out = hid @ np.asarray(w2, np.float32)     # sgemm, exact
    out /= np.float32(512.0)
    return out


def recognize_crops(
    crops: list[np.ndarray], weights, h=48, mw=320, min_w=8,
    decode="greedy", beam_width=5,
) -> list[tuple[str, float]]:
    """Recognize all crops of a frame with ONE GEMM pair.

    Bit-identical to per-crop recognize_crop (property-tested): GEMM rows
    are independent, and because every intermediate is an exact float32
    integer (crnn_weights bounds), concatenating time-steps across crops
    cannot change any value — the reference's own batch-pad-then-decode
    pattern (/root/reference/recognize/recognizer.py:59-67) without the
    padding waste. ~2x fewer BLAS/numpy dispatches per frame.

    ``decode`` selects the CTC decoder (reference config.py:35 bm:
    'greedy' | 'beam'); the GEMM half is decoder-independent."""
    return recognize_crop_groups(
        [crops], weights, h, mw, min_w, decode, beam_width)[0]


def recognize_crop_groups(
    groups: list[list[np.ndarray]], weights, h=48, mw=320, min_w=8,
    decode="greedy", beam_width=5,
) -> list[list[tuple[str, float]]]:
    """Recognize the crops of MANY frames with ONE GEMM pair.

    ``groups[i]`` is frame i's crop list; returns the per-frame
    (text, score) lists in the same shape. Bit-identical to per-frame
    recognize_crops — and hence to per-crop recognize_crop — because GEMM
    rows are independent and every intermediate is an exact float32
    integer (crnn_weights bounds): concatenating time-steps across FRAMES
    is the same property already pinned for concatenating across crops.
    Amortizes the numpy/BLAS dispatch over an entire Arrow batch instead
    of one frame (the mapInPandas hot path hands ~10^3 frames per batch)."""
    if decode == "beam":
        dec = lambda lg: ctc_beam(lg, beam_width=beam_width)  # noqa: E731
    elif decode == "greedy":
        dec = None  # greedy runs the batched softmax/collapse path below
    else:
        raise ValueError(f"unknown CTC decode mode {decode!r}")
    fl, lens, counts = [], [], []
    for crops in groups:
        counts.append(len(crops))
        for c in crops:
            r = rec_resize(c, h, mw, min_w)
            rh, rw = r.shape
            t = (rw + 3) // 4
            p = np.full((rh, t * 4), 255, dtype=np.uint8)
            p[:, :rw] = r
            # per-crop patch layout stays a small cache-resident transpose;
            # the float conversion is deferred to ONE batch-wide pass below
            fl.append(
                np.ascontiguousarray(
                    p.reshape(rh, t, 4).transpose(1, 0, 2)
                ).reshape(t, rh * 4)
            )
            lens.append(t)
    if not fl:
        return [[] for _ in groups]
    # concat in uint8 (4x less traffic than float32), then one astype and
    # one subtract over the whole batch — exactly np.concatenate of the
    # per-crop _crnn_feats outputs
    allu = np.concatenate(fl, axis=0) if len(fl) > 1 else fl[0]
    allf = allu.astype(np.float32) - 128.0
    logits = _crnn_tail(allf, weights)
    flat, pos = [], 0
    if decode == "greedy":
        # softmax/argmax/max are row-wise: computing them over the whole
        # batch is bit-identical to per-crop ctc_greedy, and replaces
        # ~3 numpy dispatches PER CROP with 3 per Arrow batch. In-place
        # (logits is local to this call): same subtract-max/exp/divide
        # sequence as softmax(), minus two batch-size temporaries
        logits -= np.max(logits, axis=-1, keepdims=True)
        np.exp(logits, out=logits)
        logits /= np.sum(logits, axis=-1, keepdims=True)
        probs = logits
        preds = np.argmax(probs, axis=-1).tolist()
        scores = probs.max(axis=-1).tolist()
        for ln in lens:
            flat.append(
                _ctc_collapse(preds[pos : pos + ln], scores[pos : pos + ln]))
            pos += ln
    else:
        for ln in lens:
            flat.append(dec(logits[pos : pos + ln]))
            pos += ln
    out, pos = [], 0
    for n in counts:
        out.append(flat[pos : pos + n])
        pos += n
    return out


# --------------------------------------------------------------------------
# Layout — reading order, paragraphs, boilerplate strip
# --------------------------------------------------------------------------


def reading_order_lines(boxes: np.ndarray, items: list, line_th: float = 10.0) -> list[list]:
    """Group items into reading-order lines.

    Exact semantics of /root/reference/postprocess.py:54-68
    (_Reading.sort_reading_order): sort by (y_mean, x_mean); start a new line
    when |y - curr_y| > line_th where curr_y is the y of the FIRST item of
    the current line (not the previous item — the subtlety SURVEY.md §2.5 W2
    flags); each line re-sorted by x_mean. Returns a list of lines, each a
    list of (box, item) tuples.
    """
    n = len(items)
    if n == 0:
        return []
    ys = (boxes[:, 1] + boxes[:, 3]) / 2.0
    xs = (boxes[:, 0] + boxes[:, 2]) / 2.0
    order = sorted(range(n), key=lambda i: (float(ys[i]), float(xs[i])))
    lines: list[list[int]] = []
    curr: list[int] = []
    curr_y = float(ys[order[0]])
    for i in order:
        y = float(ys[i])
        if abs(y - curr_y) > line_th:
            if curr:
                lines.append(sorted(curr, key=lambda j: float(xs[j])))
                curr = []
            curr_y = y
        curr.append(i)
    if curr:
        lines.append(sorted(curr, key=lambda j: float(xs[j])))
    return [[(boxes[i], items[i]) for i in line] for line in lines]


def group_paragraphs(boxes: np.ndarray, texts: list[str], para_th: float = 30.0) -> list[list[str]]:
    """Paragraph grouping, /root/reference/postprocess.py:69-79 verbatim:
    sort by y_mean; a new paragraph starts when y_min - prev_y_max > para_th."""
    n = len(texts)
    if n == 0:
        return []
    ys = (boxes[:, 1] + boxes[:, 3]) / 2.0
    order = sorted(range(n), key=lambda i: float(ys[i]))
    paras: list[list[str]] = []
    curr: list[str] = []
    prev_y = float(boxes[order[0], 3])
    for i in order:
        y_min = float(boxes[i, 1])
        if y_min - prev_y > para_th and curr:
            paras.append(curr)
            curr = []
        curr.append(texts[i])
        prev_y = float(boxes[i, 3])
    if curr:
        paras.append(curr)
    return paras


def strip_boilerplate_lines(
    lines: list[list],
    img_h: int,
    header_frac: float = 0.10,
    footer_frac: float = 0.90,
    min_lines: int = 3,
) -> list[list]:
    """Header/footer boilerplate strip (north_rule stage; the reference only
    documents the intent at demo/05_data_flow.puml:124-130 — semantics are
    ours, shared oracle↔engine): when a page has >= min_lines lines, drop
    lines whose mean y-center falls in the top header_frac or bottom
    (1-footer_frac) band of the image."""
    if len(lines) < min_lines:
        return lines
    out = []
    for line in lines:
        yc = float(np.mean([(b[1] + b[3]) / 2.0 for b, _ in line]))
        if yc < header_frac * img_h or yc > footer_frac * img_h:
            continue
        out.append(line)
    return out


# --------------------------------------------------------------------------
# Invoice field grouping (key-value extraction; target schema from the
# reference ER diagram demo/07_database_er.puml:66-93 — no extraction code
# exists in the reference, the regex rules are ours)
# --------------------------------------------------------------------------

# Name = sequence of Capitalized words ([A-Z][a-z]+). ALL-CAPS keywords
# (VENDOR, BUYER, TOTAL, …) can never be swallowed into a captured name,
# and the engine's lowercase body words never start one. Every pattern here
# is valid simultaneously in Python re, Java regex (Spark regexp_extract)
# and RE2 (DuckDB) — the invoice_fields driver query relies on that.
_NAME = r"((?:[A-Z][a-z]+)(?: [A-Z][a-z]+)*)"
_AMT = r"([0-9]+\.[0-9]{2})\b"

# field -> pattern STRING, in the ER schema's column order
# (demo/07_database_er.puml:66-93; extracted_at/ids are sink-side concerns).
# One table, three regex engines: Python re (oracle + per-doc UDF paths),
# Java regex (Spark regexp_extract in the frames plan), RE2 (the DuckDB
# driver oracle) — every construct used here ((?i) prefix, \b,
# non-capturing groups) behaves identically in all three.
INVOICE_FIELD_PATTERNS: dict[str, str] = {
    "invoice_number": r"(?i)\bINV-?([A-Za-z0-9]{3,})\b",
    "invoice_date": r"\b(\d{4}-\d{2}-\d{2})\b",
    "vendor_name": r"\bVENDOR[:\s]+" + _NAME,
    "vendor_tax_id": r"\bVENDOR-TAX-ID[:\s]+([A-Z]{2}[0-9]{6,12})\b",
    "buyer_name": r"\bBUYER[:\s]+" + _NAME,
    "buyer_tax_id": r"\bBUYER-TAX-ID[:\s]+([A-Z]{2}[0-9]{6,12})\b",
    "subtotal": r"(?i)\bSUBTOTAL[:\s]*" + _AMT,
    "tax_amount": r"(?i)\bTAX[:\s]*" + _AMT,
    "total_amount": r"(?i)\bTOTAL[:\s]*" + _AMT,
    "currency": r"\b(USD|EUR|GBP|JPY|CHF|PLN)\b",
}

INVOICE_FIELD_RES: dict[str, re.Pattern] = {
    k: re.compile(v) for k, v in INVOICE_FIELD_PATTERNS.items()
}


def extract_invoice_fields(texts: list[str]) -> dict[str, str]:
    """First-match-wins key-value grouping over a document's span texts —
    the full ER-schema field set (demo/07_database_er.puml:66-93)."""
    fields: dict[str, str] = {}
    for t in texts:
        for name, pat in INVOICE_FIELD_RES.items():
            if name not in fields:
                m = pat.search(t)
                if m:
                    fields[name] = m.group(1)
        if len(fields) == len(INVOICE_FIELD_RES):
            break
    return fields


# --------------------------------------------------------------------------
# Metrics helpers (test-side; /root/reference/train/metrics.py)
# --------------------------------------------------------------------------


def edit_distance(a: str, b: str) -> int:
    """Classic DP edit distance, /root/reference/train/metrics.py:38-46."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return prev[lb]


# --------------------------------------------------------------------------
# Box merging / ordering variants (SURVEY.md §2.5 W1/W5/W6, §2.6 O1-O3)
# --------------------------------------------------------------------------


def sort_boxes(boxes: np.ndarray, mode: str = "tb_lr") -> list[int]:
    """Argsort boxes by (y_mean, x_mean) or (x_mean, y_mean).

    /root/reference/postprocess.py:18-23 verbatim (W1)."""
    n = len(boxes)
    if n == 0:
        return []
    ys = (boxes[:, 1] + boxes[:, 3]) / 2.0
    xs = (boxes[:, 0] + boxes[:, 2]) / 2.0
    if mode == "tb_lr":
        return sorted(range(n), key=lambda i: (float(ys[i]), float(xs[i])))
    if mode == "lr_tb":
        return sorted(range(n), key=lambda i: (float(xs[i]), float(ys[i])))
    return list(range(n))


def merge_boxes_iou(boxes: np.ndarray, iou_th: float = 0.5) -> np.ndarray:
    """Union-group boxes with IoU > th into bounding rectangles.

    /root/reference/postprocess.py:32-42 (merge_boxes) semantics with AABB
    IoU (exact for rectangles, W6). Greedy single pass: each unused box
    seeds a group, later boxes join if IoU(seed, box) > th."""
    n = len(boxes)
    if n < 2:
        return np.asarray(boxes, np.float32).reshape(n, 4)
    used: set[int] = set()
    merged = []
    for i in range(n):
        if i in used:
            continue
        group = [boxes[i]]
        used.add(i)
        for j in range(i + 1, n):
            if j in used:
                continue
            if aabb_iou(boxes[i], boxes[j]) > iou_th:
                group.append(boxes[j])
                used.add(j)
        g = np.asarray(group, np.float32)
        merged.append(
            (g[:, 0].min(), g[:, 1].min(), g[:, 2].max(), g[:, 3].max())
        )
    return np.asarray(merged, np.float32)


def merge_horizontal(boxes: np.ndarray, th_y: float = 10.0, th_x: float = 50.0) -> np.ndarray:
    """Merge chains of horizontally-adjacent boxes into bounding rects.

    /root/reference/detect/postprocess.py:80-102 (_BoxMerger) semantics:
    sort by (y_mean, x_min); grow the group's bounding rect while the next
    box's y-center is within th_y of the CURRENT merged rect's center and
    its x_min is within th_x of the merged rect's x_max (W5)."""
    n = len(boxes)
    if n < 2:
        return np.asarray(boxes, np.float32).reshape(n, 4)
    order = sorted(
        range(n),
        key=lambda i: (float((boxes[i][1] + boxes[i][3]) / 2.0), float(boxes[i][0])),
    )
    bs = [np.asarray(boxes[i], np.float64) for i in order]
    used: set[int] = set()
    merged = []
    for i in range(n):
        if i in used:
            continue
        cur = bs[i].copy()
        used.add(i)
        for j in range(i + 1, n):
            if j in used:
                continue
            cy_cur = (cur[1] + cur[3]) / 2.0
            cy_j = (bs[j][1] + bs[j][3]) / 2.0
            if abs(cy_cur - cy_j) < th_y and bs[j][0] - cur[2] < th_x:
                used.add(j)
                cur = np.array(
                    [
                        min(cur[0], bs[j][0]),
                        min(cur[1], bs[j][1]),
                        max(cur[2], bs[j][2]),
                        max(cur[3], bs[j][3]),
                    ]
                )
        merged.append(cur)
    return np.asarray(merged, np.float32)


# --------------------------------------------------------------------------
# CTC beam search (SURVEY.md §2.7 K14; /root/reference/recognize/ctc.py:25-41)
# --------------------------------------------------------------------------


def ctc_beam(logits: np.ndarray, beam_width: int = 5) -> tuple[str, float]:
    """Prefix beam search with max-merge, reference semantics verbatim:
    blank extends without emitting, repeats collapse, beams keep the MAX
    (not sum) probability per prefix; final score is the geometric mean
    per emitted char (score ** (1/len))."""
    probs = softmax(logits)
    t_steps, v = probs.shape
    beams: list[tuple[tuple, float]] = [(tuple(), 1.0)]
    for t in range(t_steps):
        new: dict[tuple, float] = {}
        row = probs[t]
        for seq, sc in beams:
            for idx in range(v):
                nsc = sc * float(row[idx])
                if idx == 0:
                    ns = seq
                elif len(seq) == 0 or seq[-1] != idx:
                    ns = seq + (idx,)
                else:
                    ns = seq
                if ns in new:
                    if nsc > new[ns]:
                        new[ns] = nsc
                else:
                    new[ns] = nsc
        beams = sorted(new.items(), key=lambda x: -x[1])[:beam_width]
    if not beams:
        return "", 0.0
    seq, sc = beams[0]
    text = "".join(idx2char(i) for i in seq)
    return text, float(sc ** (1.0 / max(len(seq), 1)))


# --------------------------------------------------------------------------
# Orientation / padding utilities (SURVEY.md §2.7 K17-K20)
# --------------------------------------------------------------------------


#: The highest confidence textline_flip_class ever returns.
TEXTLINE_CLS_MAX_CONF = 0.7


def textline_flip_class(crop: np.ndarray) -> tuple[int, float]:
    """180° textline heuristic, /root/reference/preprocess/orientation.py:53-61
    verbatim: compare variance of left vs right thirds; class 1 (flipped)
    when left variance exceeds right by >= 50."""
    h, w = crop.shape[:2]
    if h > w * 2:
        return 0, 0.5
    lv = float(np.var(crop[:, : w // 3]))
    rv = float(np.var(crop[:, 2 * w // 3 :]))
    if abs(lv - rv) < 50:
        return 0, 0.6
    return (1, TEXTLINE_CLS_MAX_CONF) if lv > rv else (0, TEXTLINE_CLS_MAX_CONF)


def correct_textline(crop: np.ndarray, th: float = 0.9) -> np.ndarray:
    """Flip a textline crop 180° when the classifier clears the gate —
    the reference's per-crop cls stage (engine.py applies cls when
    cfg.cls.en; gating at cls.th, reference config.py:41-42). The
    reference's heuristic classifier tops out at TEXTLINE_CLS_MAX_CONF
    (0.7), so a gate above that returns the crop without classifying it:
    at the default th=0.9 the stage is a no-op — exactly the reference's
    fallback behavior. A model-backed classifier plugged into
    textline_flip_class must raise the ceiling to start flipping."""
    if th > TEXTLINE_CLS_MAX_CONF:
        return crop
    cls, conf = textline_flip_class(crop)
    if cls == 1 and conf >= th:
        return np.ascontiguousarray(np.rot90(crop, k=2))
    return crop


def rotate_quadrant(img: np.ndarray, cls: int) -> np.ndarray:
    """Rotate by orientation class {0:none,1:90cw,2:180,3:90ccw}
    (/root/reference/preprocess/core.py:9 rotation table, np.rot90-based)."""
    if cls == 1:
        return np.rot90(img, k=-1)
    if cls == 2:
        return np.rot90(img, k=2)
    if cls == 3:
        return np.rot90(img, k=1)
    return img


def rotate_any(
    img: np.ndarray, angle_deg: float, expand: bool = True, fill: int = 255
) -> np.ndarray:
    """Rotate by an arbitrary angle (bilinear, out-of-bounds filled).

    Mirrors /root/reference/utils/image.py:46-53 `rotate`
    (getRotationMatrix2D + warpAffine with optional canvas expansion) —
    positive angle rotates counter-clockwise like cv2. Used to synthesize
    skewed-text fixtures for the rotated-geometry (cfg.det.rotated) path.
    """
    h, w = img.shape
    th = np.deg2rad(angle_deg)
    c, s = np.cos(th), np.sin(th)
    # snap quadrant angles exactly so 90/180/270 match the rot90 path
    c = round(c) if abs(c - round(c)) < 1e-12 else c
    s = round(s) if abs(s - round(s)) < 1e-12 else s
    cx, cy = (w - 1) / 2.0, (h - 1) / 2.0
    if expand:
        nw = int(np.ceil(h * abs(s) + w * abs(c) - 1e-9))
        nh = int(np.ceil(h * abs(c) + w * abs(s) - 1e-9))
    else:
        nw, nh = w, h
    ncx, ncy = (nw - 1) / 2.0, (nh - 1) / 2.0
    uu, vv = np.meshgrid(
        np.arange(nw, dtype=np.float64) - ncx, np.arange(nh, dtype=np.float64) - ncy
    )
    # inverse map: output (u,v) -> source coords (rotate by -angle about center)
    xs = c * uu - s * vv + cx
    ys = s * uu + c * vv + cy
    inb = (xs >= 0) & (xs <= w - 1) & (ys >= 0) & (ys <= h - 1)
    out = _bilinear_sample(img, xs, ys)
    return np.where(inb, out, np.uint8(fill))


def _dp_polyline(pts: np.ndarray, eps: float) -> np.ndarray:
    """Douglas-Peucker simplification of an open polyline (iterative)."""
    n = len(pts)
    keep = np.zeros(n, bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = pts[i], pts[j]
        ab = b - a
        ln = np.hypot(*ab)
        seg = pts[i + 1 : j]
        if ln < 1e-12:
            d = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
        else:
            d = np.abs(ab[0] * (seg[:, 1] - a[1]) - ab[1] * (seg[:, 0] - a[0])) / ln
        k = int(np.argmax(d))
        if d[k] > eps:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return pts[keep]


def approx_poly(hull: np.ndarray, eps: float) -> np.ndarray:
    """Closed-polygon Douglas-Peucker (the cv2.approxPolyDP analog): split
    the ring at its two mutually-farthest vertices, simplify both arcs."""
    n = len(hull)
    if n <= 3:
        return hull
    # farthest pair (hull is small: O(n^2) is fine)
    d2 = ((hull[:, None, :] - hull[None, :, :]) ** 2).sum(axis=2)
    i, j = np.unravel_index(int(np.argmax(d2)), d2.shape)
    if i > j:
        i, j = j, i
    arc1 = hull[i : j + 1]
    arc2 = np.concatenate([hull[j:], hull[: i + 1]])
    s1 = _dp_polyline(arc1, eps)
    s2 = _dp_polyline(arc2, eps)
    return np.concatenate([s1[:-1], s2[:-1]])


def find_page_quad(gray: np.ndarray) -> tuple[np.ndarray | None, float]:
    """Locate the document page as a quadrilateral, or fail gracefully.

    The no-cv2 analog of the reference unwarper's fallback
    (/root/reference/preprocess/unwarp.py:32-53 _predict_fallback:
    Canny → largest contour → approxPolyDP → require exactly 4 vertices).
    Here: Otsu segmentation of the LIGHT region (a scanned page on a
    darker bed — a documented substitution for Canny edges; deterministic,
    no hysteresis), largest component's convex hull, closed-polygon
    Douglas-Peucker at eps = 0.02 x perimeter (the reference's epsilon).
    Returns (quad ordered tl,tr,br,bl, confidence): (quad, 0.7) on a clean
    4-vertex fit, (None, 0.3) otherwise — the reference's same scores.
    """
    mask = (gray > otsu_threshold(gray)).astype(np.uint8)
    comps = connected_components_hulls(mask)
    if not comps:
        return None, 0.3
    comp = max(comps, key=lambda c: c[4])
    h, w = gray.shape
    if comp[4] < 0.1 * h * w:  # page must dominate the frame
        return None, 0.3
    hull = convex_hull(comp[5])
    if len(hull) < 4:
        return None, 0.3
    closed = np.vstack([hull, hull[:1]])
    per = float(np.hypot(*(np.diff(closed, axis=0).T)).sum())
    quad = approx_poly(hull, eps=0.02 * per)
    if len(quad) != 4:
        return None, 0.3
    # a quad covering (almost) the whole frame means the page is already
    # flat/full-frame — nothing to rectify (identity homography); report
    # the no-warp outcome instead of paying a pointless resample
    x = quad[:, 0]
    y = quad[:, 1]
    area = 0.5 * abs(
        float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    )
    if area >= 0.97 * h * w:
        return None, 0.3
    return order_quad(quad.astype(np.float32)), 0.7


def unwarp_page(gray: np.ndarray, uwth: float = 0.5) -> tuple[np.ndarray, float]:
    """Perspective-rectify a photographed/warped page to the full frame.

    K19/F6 made real for the reference's own fallback path
    (/root/reference/preprocess/unwarp.py + preprocess/core.py:18-25
    `unwarp`, gated at cfg.uwth=0.5; the U-Net flow predictor remains an
    external-model seam): page quad → homography onto the frame corners →
    bilinear resample. Below the gate (no clean quad) the image passes
    through unchanged, exactly like the reference's zero flow field.
    """
    quad, conf = find_page_quad(gray)
    if quad is None or conf < uwth:
        return gray, conf
    h, w = gray.shape
    frame = np.array([[0, 0], [w, 0], [w, h], [0, h]], dtype=np.float64)
    H = homography(frame, quad.astype(np.float64))  # output -> source
    return _warp_by_homography(gray, H, h, w), conf


def pad_to_multiple(img: np.ndarray, m: int = 32) -> tuple[np.ndarray, tuple[int, int]]:
    """Zero-pad bottom/right to multiples of m,
    /root/reference/utils/image.py:40-44 verbatim (K20)."""
    h, w = img.shape[:2]
    nh, nw = (h + m - 1) // m * m, (w + m - 1) // m * m
    if nh == h and nw == w:
        return img, (0, 0)
    padded = np.zeros((nh, nw), dtype=img.dtype)
    padded[:h, :w] = img
    return padded, (nw - w, nh - h)


# --------------------------------------------------------------------------
# Preprocessing parity (SURVEY.md §2.7 K2, K16, K21)
# --------------------------------------------------------------------------

IMAGENET_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float32)
IMAGENET_STD = np.array([0.229, 0.224, 0.225], dtype=np.float32)


def normalize_det(img: np.ndarray) -> np.ndarray:
    """Detection normalization, /root/reference/preprocess/core.py:31-33:
    /255, −ImageNet mean, /std, HWC→1CHW float32. Unused by the Otsu
    fallback detector (which re-derives uint8, detect/db.py:12-17) but kept
    for parity with the reference preprocessing surface."""
    if img.ndim == 2:
        img = np.stack([img, img, img], axis=-1)
    f = img.astype(np.float32) / 255.0
    f = (f - IMAGENET_MEAN) / IMAGENET_STD
    return f.transpose(2, 0, 1)[np.newaxis, ...]


def _ink_mask(img: np.ndarray) -> np.ndarray:
    """Dark-ink-on-light-page binary mask via Otsu."""
    return img < otsu_threshold(img)


def _max_blank_run(has_ink: np.ndarray) -> int:
    """Longest run of ink-free positions strictly between the first and
    last inked positions of a boolean profile."""
    idx = np.where(has_ink)[0]
    if len(idx) < 2:
        return 0
    gaps = ~has_ink[idx[0] : idx[-1] + 1]
    if not gaps.any():
        return 0
    d = np.diff(np.concatenate(([0], gaps.astype(np.int8), [0])))
    starts = np.where(d == 1)[0]
    ends = np.where(d == -1)[0]
    return int((ends - starts).max())


def _edge_raggedness(mask: np.ndarray) -> float:
    """var(right text edges) - var(left text edges) over ink rows.

    Left-aligned documents (the overwhelmingly common layout) have
    consistent left edges and ragged right edges, so positive means
    'reading-upright', negative means 'rotated 180°'. Near zero =
    undecidable (single line, centered layout)."""
    rows = mask.any(axis=1)
    if not rows.any():
        return 0.0
    m = mask[rows]
    w = m.shape[1]
    lefts = m.argmax(axis=1)
    rights = w - 1 - m[:, ::-1].argmax(axis=1)
    return float(np.var(rights.astype(np.float64)) - np.var(lefts.astype(np.float64)))


def classify_orientation(img: np.ndarray) -> tuple[int, float]:
    """Document-orientation classifier (K16), numpy stand-in for the
    reference's classifier + Canny/Hough fallback
    (/root/reference/preprocess/orientation.py:30-52).

    Two votes, both O(pixels):
      1. Text-axis: variance of the ink-mask row profile vs column profile.
         Horizontal text lines alternate band/gap down the page → the row
         profile dominates; rotated 90°/270° the column profile does. (The
         reference's Hough median-angle mod 90 measures the same quantity;
         a projection profile is the classic deskew formulation and needs
         no edge detector.)
      2. 180° disambiguation the reference fallback structurally cannot do
         (angles mod 90 are blind to it): left-aligned text has consistent
         left edges and ragged right edges (_edge_raggedness sign).

    Returns (correction class {0,1,2,3} for rotate_quadrant, confidence).
    Confidence is 0.95 only when BOTH votes are decisive — upright pages
    and ambiguous pages (blank, single-line, centered) stay below the 0.9
    gate so correct_orientation never rotates on a guess (reference
    core.py:13-17 semantics)."""
    if img.ndim != 2 or img.size == 0:
        return 0, 0.5
    # classify on a 2x2-subsampled view: 4x less memory traffic, and every
    # signal survives (text bands are >=12 px, inter-line gaps >=14 px, so
    # >=6/>=7 px after subsampling; thresholds below are in subsampled px)
    if min(img.shape) >= 64:
        img = img[::2, ::2]
    mask = _ink_mask(img)
    if not mask.any() or mask.mean() > 0.9:
        return 0, 0.5
    # Axis vote via blank-run structure: between text LINES there are tall
    # all-blank row bands (>= inter-line gap), while interior blank columns
    # are at most glyph-gap wide. The longest interior blank run along each
    # axis therefore separates horizontal from vertical text far more
    # robustly than profile variance (which glyph-grid periodicity pollutes).
    rr = _max_blank_run(mask.any(axis=1))
    cc = _max_blank_run(mask.any(axis=0))
    axis_decisive = max(rr, cc) >= 3 and max(rr, cc) >= 2 * max(min(rr, cc), 1)
    if rr >= cc:
        d_up = _edge_raggedness(mask)
        cls = 0 if d_up >= 0 else 2
        ragged_decisive = abs(d_up) > 4.0
    else:
        # candidate corrections: 1 = rotate cw, 3 = rotate ccw; pick the one
        # whose corrected page looks left-aligned
        d1 = _edge_raggedness(np.rot90(mask, k=-1))
        d3 = _edge_raggedness(np.rot90(mask, k=1))
        cls = 1 if d1 >= d3 else 3
        ragged_decisive = abs(d1 - d3) > 4.0
    conf = 0.95 if (axis_decisive and ragged_decisive) else 0.6
    return cls, conf


def correct_orientation(img: np.ndarray, oth: float = 0.9) -> tuple[np.ndarray, dict]:
    """/root/reference/preprocess/core.py:13-17: rotate when the classifier
    clears the confidence threshold."""
    cls, sc = classify_orientation(img)
    rotated = cls != 0 and sc >= oth
    if rotated:
        img = rotate_quadrant(img, cls)
    return img, {"cls": cls, "score": float(sc), "rotated": rotated}


def pad_crop_batch(crops: list[np.ndarray], h: int = 48) -> tuple[np.ndarray, list[int]]:
    """Batch pad-to-max-width (K21, /root/reference/recognize/recognizer.py:59-64
    and preprocess/core.py:38-46): resize each crop to height h, zero-pad
    widths into a dense (B, h, maxW) uint8 batch. Returns (batch, widths) so
    decoders can slice each crop back to its unpadded width — the
    batch-invariance requirement of SURVEY.md §5.2(4)."""
    resized = [rec_resize(c, h=h, mw=10**9, min_w=1) for c in crops]
    widths = [r.shape[1] for r in resized]
    mw = max(widths) if widths else 1
    batch = np.zeros((len(crops), h, mw), dtype=np.uint8)
    for i, r in enumerate(resized):
        batch[i, :, : r.shape[1]] = r
    return batch, widths
