"""Baseline JPEG codec, pure numpy + stdlib — the S2 polymorphic-reader
codec seam made real (/root/reference/engine.py:46 accepts png/jpg/jpeg;
/root/reference/utils/image.py:4-11 is the polymorphic imread).

Decoder: baseline sequential (SOF0) AND progressive (SOF2 — spectral
selection + successive approximation, T.81 Annex G: DC/AC first and
refinement scans, EOB runs, correction bits), Huffman entropy coding,
8-bit precision plus 12-bit extended sequential/progressive (SOF1/SOF2
with 16-bit quant tables; decoded at full 12-bit range then rounded
once to the engine's 8-bit grayscale), grayscale / YCbCr / Adobe RGB /
Adobe CMYK + YCCK (APP14 transform flag, inverted-ink convention) with
ANY integer sampling factors (4:4:4, 4:2:2, 4:2:0, ...), restart
markers, plus the LOSSLESS process (SOF3, T.81 Annex H: the seven
H.1.2.1 predictors, point transform, 2-16 bit precision, the
first-line 1-D rule at scan start and after every restart, SSSS=16
mod-2^16 wraparound; gray scales to 8-bit, RGB through the shared
luma). Arithmetic coding raises NotImplementedError
(valid-but-unsupported — arithmetic deliberately so: the QM-coder state
table of T.81 Table D.3 has no independent implementation in this
container to pin a transcription against, the same policy as the JBIG2
standard Huffman tables B.6-B.15);
malformed streams raise ValueError — the same error contract as
decode_png. The progressive ENCODER below exists to pin the decoder:
progressive transmission is a lossless reordering of the same quantized
coefficients, so decode(encode_progressive(x)) must be bit-identical to
decode(encode(x)) — asserted across geometries in the tests.

Encoder: baseline with the ITU T.81 Annex K tables (quality-scaled via the
standard 5000/q | 200-2q formula), grayscale or YCbCr 4:4:4/4:2:2/4:2:0 — it
exists so fixtures can generate real JPEG bytes without any external codec
library; round-trip is lossy (it's JPEG) but bit-deterministic.

Everything here is derived from the public ITU-T T.81 specification.
Decode cost matters at corpus scale (a JPEG-heavy corpus pays it on every
frame, next to the OCR kernels), so the entropy loop is engineered:
one-pass 0xFF00 unstuffing + RST segmentation up front, flat 16-bit
Huffman lookup tables (peek → symbol+length in two list indexes), a
32-bit int bit-buffer with no per-symbol masking, and dequant/dezigzag/
IDCT vectorized over ALL blocks after the scan — 82 → 36 ms for a
640×640 q90 page on this VM (~28 frames/s/core). FDCT/IDCT are batched
8×8 matmuls, deterministic under any thread count because every block is
independent.
"""

from __future__ import annotations

import functools

import numpy as np

# ---------------------------------------------------------------------------
# Tables (ITU T.81 Annex K)
# ---------------------------------------------------------------------------

QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# (bits-per-length 1..16, symbol values) — canonical Huffman specs
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _make_zigzag() -> np.ndarray:
    """zz[i] = flat (row*8+col) position of the i-th zigzag coefficient."""
    out = []
    for s in range(15):
        rows = range(max(0, s - 7), min(7, s) + 1)
        if s % 2 == 0:
            rows = reversed(list(rows))
        for r in rows:
            out.append(r * 8 + (s - r))
    return np.array(out, dtype=np.int32)


ZIGZAG = _make_zigzag()

_DCT_A = np.zeros((8, 8), dtype=np.float64)
for _k in range(8):
    for _n in range(8):
        _DCT_A[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    """Batched 2-D type-III DCT: (N, 8, 8) coefficients → spatial."""
    return _DCT_A.T @ coef @ _DCT_A


def _fdct_blocks(px: np.ndarray) -> np.ndarray:
    """Batched 2-D type-II DCT: (N, 8, 8) spatial → coefficients."""
    return _DCT_A @ px @ _DCT_A.T


class _HuffTable:
    """Canonical Huffman table with a flat 16-bit decode lookup:
    peek 16 bits → (symbol, code length) in two list indexes. ~10× the
    bit-by-bit walk — JPEG decode is on the per-frame path when a corpus
    is JPEG, so its cost stands next to the OCR kernels themselves."""

    def __init__(self, bits, vals):
        self.vals = vals
        sym = [0] * 65536
        lng = [0] * 65536  # 0 = invalid prefix
        code = 0
        k = 0
        self.enc = {}
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                self.enc[vals[k]] = (code, ln)
                base = code << (16 - ln)
                span = 1 << (16 - ln)
                sym[base : base + span] = [vals[k]] * span
                lng[base : base + span] = [ln] * span
                code += 1
                k += 1
            code <<= 1
        self.lut_sym = sym
        self.lut_len = lng


@functools.lru_cache(maxsize=32)
def _huff_table(bits: bytes, vals: bytes) -> _HuffTable:
    """The decode table for one DHT entry, shared across frames: a corpus
    mostly repeats a few tables (Annex K's above all), and building the
    lookups costs ~1.4 ms each. Bounded, so a stream of distinct tables
    cannot grow memory. Callers must treat the table as read-only."""
    return _HuffTable(list(bits), list(vals))


def _entropy_segments(data: bytes, pos: int) -> tuple[list[tuple[bytes, int]], int]:
    """Split the entropy-coded stream at RST markers, unstuffing 0xFF00
    once up front. Returns ([(unstuffed_bytes, rst_id_or_-1), ...], end) —
    one entry per restart interval (rst_id is the RSTn index TERMINATING
    the previous segment; -1 for the final segment); `end` is the absolute
    offset of the 0xFF starting the terminating marker (or len(data))."""
    raw = data[pos:]
    n = len(raw)
    segs: list[tuple[bytes, int]] = []
    pieces: list[bytes] = []
    start = 0
    i = raw.find(b"\xff", 0)
    while i != -1:
        if i < start:
            i = raw.find(b"\xff", start)
            continue
        nxt = raw[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            pieces.append(raw[start : i + 1])  # keep the 0xFF, drop stuffing
            start = i + 2
        elif 0xD0 <= nxt <= 0xD7:
            pieces.append(raw[start:i])
            segs.append((b"".join(pieces), nxt - 0xD0))
            pieces = []
            start = i + 2
        elif nxt == 0xFF:
            pieces.append(raw[start:i])  # fill byte
            start = i + 1
        else:  # real marker (EOI/...) — end of scan data
            pieces.append(raw[start:i])
            segs.append((b"".join(pieces), -1))
            return segs, pos + i
        i = raw.find(b"\xff", start)
    pieces.append(raw[start:])
    segs.append((b"".join(pieces), -1))
    return segs, len(data)


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline OR progressive JPEG → grayscale uint8 (h, w).

    Grayscale scans return Y directly; color scans reconstruct RGB per
    JFIF (R = Y + 1.402 Cr', …) and reduce with the same cv2-exact BT.601
    luma as the PNG path (kernels.rgb_to_gray) so every color format in
    the engine shares ONE grayscale definition. Progressive (SOF2) images
    accumulate coefficients across scans (spectral selection + successive
    approximation, T.81 Annex G) and reconstruct at EOI."""
    from .kernels import rgb_to_gray

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    restart_interval = 0
    frame = None  # (h, w, comps) ; comps: list of dict(id, hs, vs, tq)
    progressive = False
    lossless = False
    planes: dict[int, np.ndarray] | None = None  # lossless sample planes
    store: dict[int, np.ndarray] | None = None  # raster-grid zigzag coeffs
    adobe_transform = None  # APP14 color-transform flag (0 CMYK/RGB, 1 YCbCr, 2 YCCK)
    pos = 2
    n = len(data)
    try:
        while pos < n:
            if data[pos] != 0xFF:
                raise ValueError(f"marker expected at {pos}")
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD8:  # SOI (spurious)
                continue
            if marker == 0xD9:  # EOI
                if planes is not None:
                    return _reconstruct_lossless(planes, frame, rgb_to_gray)
                if store is not None:
                    return _reconstruct(store, frame, qt, rgb_to_gray, adobe_transform)
                raise ValueError("JPEG EOI before scan data")
            if 0xD0 <= marker <= 0xD7:
                continue
            seg_len = (data[pos] << 8) | data[pos + 1]
            seg = data[pos + 2 : pos + seg_len]
            if len(seg) != seg_len - 2:
                raise ValueError("JPEG segment truncated")
            if marker == 0xDB:  # DQT
                sp = 0
                while sp < len(seg):
                    pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                    sp += 1
                    nbytes = 128 if pq == 1 else 64
                    if len(seg) - sp < nbytes:
                        raise ValueError("JPEG DQT truncated")
                    if pq == 1:  # 16-bit entries (12-bit precision streams)
                        qt[tq] = np.frombuffer(
                            seg[sp : sp + 128], ">u2"
                        ).astype(np.int32)
                    else:
                        qt[tq] = np.frombuffer(
                            seg[sp : sp + 64], np.uint8
                        ).astype(np.int32)
                    sp += nbytes
            elif marker == 0xC4:  # DHT
                sp = 0
                while sp < len(seg):
                    tc, th = seg[sp] >> 4, seg[sp] & 0x0F
                    bits = bytes(seg[sp + 1 : sp + 17])
                    cnt = sum(bits)
                    vals = bytes(seg[sp + 17 : sp + 17 + cnt])
                    (huff_dc if tc == 0 else huff_ac)[th] = _huff_table(bits, vals)
                    sp += 17 + cnt
            elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
                # SOF0/1 baseline, SOF2 progressive, SOF3 lossless
                prec = seg[0]
                if marker == 0xC3:
                    if not 2 <= prec <= 16:
                        raise ValueError("lossless JPEG precision out of range")
                elif prec not in (8, 12):
                    raise NotImplementedError(f"{prec}-bit JPEG unsupported")
                if prec == 12 and marker == 0xC0:
                    raise ValueError("baseline SOF0 must be 8-bit (T.81)")
                h = (seg[1] << 8) | seg[2]
                w = (seg[3] << 8) | seg[4]
                nc = seg[5]
                if nc not in (1, 3, 4):
                    raise NotImplementedError(f"{nc}-component JPEG unsupported")
                comps = []
                for c in range(nc):
                    cid = seg[6 + c * 3]
                    hv = seg[7 + c * 3]
                    comps.append(
                        {"id": cid, "hs": hv >> 4, "vs": hv & 0x0F,
                         "tq": seg[8 + c * 3]}
                    )
                frame = (h, w, comps, prec)
                progressive = marker == 0xC2
                lossless = marker == 0xC3
            elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                            0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    "differential/hierarchical/arithmetic JPEG unsupported"
                )
            elif marker == 0xDD:  # DRI
                restart_interval = (seg[0] << 8) | seg[1]
            elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]  # APP14: CMYK/RGB=0, YCbCr=1, YCCK=2
            elif marker == 0xDA:  # SOS
                if frame is None:
                    raise ValueError("JPEG SOS before SOF")
                ns = seg[0]
                scan = []
                for c in range(ns):
                    cs = seg[1 + c * 2]
                    tdta = seg[2 + c * 2]
                    comp = next(
                        (cm for cm in frame[2] if cm["id"] == cs), None
                    )
                    if comp is None:
                        raise ValueError("scan references unknown component")
                    scan.append((comp, tdta >> 4, tdta & 0x0F))
                if lossless:
                    ss = seg[1 + ns * 2]           # predictor selector
                    pt = seg[3 + ns * 2] & 0x0F    # point transform
                    if planes is None:
                        planes = {
                            c["id"]: np.zeros(frame[:2], np.int32)
                            for c in frame[2]
                        }
                    pos = _decode_lossless_scan(
                        data, pos + seg_len, frame, scan, planes,
                        huff_dc, restart_interval, ss, pt,
                    )
                    continue
                if store is None:
                    hmax = max(c["hs"] for c in frame[2])
                    vmax = max(c["vs"] for c in frame[2])
                    mcux = -(-frame[1] // (8 * hmax))
                    mcuy = -(-frame[0] // (8 * vmax))
                    store = {
                        c["id"]: np.zeros(
                            (mcuy * c["vs"] * mcux * c["hs"], 64), np.int32
                        )
                        for c in frame[2]
                    }
                if progressive:
                    ss, se = seg[1 + ns * 2], seg[2 + ns * 2]
                    ahal = seg[3 + ns * 2]
                    pos = _decode_progressive_scan(
                        data, pos + seg_len, frame, scan, store,
                        huff_dc, huff_ac, restart_interval,
                        ss, se, ahal >> 4, ahal & 0x0F,
                    )
                else:
                    pos = _decode_baseline_scan(
                        data, pos + seg_len, frame, scan, store,
                        huff_dc, huff_ac, restart_interval,
                    )
                continue
            # APPn / COM / others: skip
            pos += seg_len
        if planes is not None:
            return _reconstruct_lossless(planes, frame, rgb_to_gray)
        if store is not None:
            # tolerate a missing EOI after the last scan
            return _reconstruct(store, frame, qt, rgb_to_gray, adobe_transform)
        raise ValueError("JPEG has no scan (SOS) segment")
    except (IndexError, OverflowError, MemoryError, ZeroDivisionError) as e:
        raise ValueError(f"corrupt JPEG: {e}") from e


def _lossless_predict(plane, x, y, sel):
    """T.81 H.1.2.1 prediction for samples past the first line of a
    restart interval: predictor 2 (above) at the start of each line,
    the scan-selected predictor elsewhere.  The default prediction at
    the first sample and the 1-D first-line rule live in the caller
    (they depend on restart-interval position, not just x/y)."""
    if x == 0:
        return int(plane[y - 1, 0])
    a = int(plane[y, x - 1])
    b = int(plane[y - 1, x])
    c = int(plane[y - 1, x - 1])
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return c
    if sel == 4:
        return a + b - c
    if sel == 5:
        return a + ((b - c) >> 1)
    if sel == 6:
        return b + ((a - c) >> 1)
    if sel == 7:
        return (a + b) >> 1
    raise ValueError(f"JPEG lossless predictor {sel} out of range")


def _decode_lossless_scan(data, pos, frame, scan, planes, huff_dc,
                          restart_interval, sel, pt):
    """One lossless-process scan (T.81 Annex H): per sample a DC-style
    Huffman category + extended difference bits, added to the H.1.2.1
    prediction mod 2^16; ssss=16 codes a difference of 32768. Restart
    intervals reset the entropy stream AND the prediction: per H.1.1
    the 1-D horizontal predictor is used for the whole first line of
    each restart interval (default prediction at its first sample),
    not just at the start of the scan.  Multi-component scans
    interleave sample-by-sample (1x1 sampling — the shape real
    lossless encoders emit; subsampled lossless stays loud).
    Point-transformed samples are shifted back at the end."""
    h, w, comps, prec = frame
    if len(scan) > 1 and any(
        c["hs"] != 1 or c["vs"] != 1 for c, _, _ in scan
    ):
        raise NotImplementedError(
            "lossless JPEG with subsampled components unsupported")
    # the loud seam must also fire for NON-interleaved scans of a frame
    # with relatively-subsampled components: this decoder walks h*w
    # samples per component, but a component with hs<hmax or vs<vmax has
    # ceil-scaled dimensions — decoding it at full size would desync the
    # Huffman stream mid-scan (review r4s5)
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    if any(c["hs"] != hmax or c["vs"] != vmax for c in comps):
        raise NotImplementedError(
            "lossless JPEG with subsampled components unsupported")
    if not 1 <= sel <= 7:
        raise ValueError("JPEG lossless predictor selector out of range")
    if pt >= prec:
        raise ValueError("JPEG lossless point transform >= precision")
    segs, end = _entropy_segments(data, pos)
    default = 1 << (prec - pt - 1)
    tabs = []
    for comp, td, _ta in scan:
        if td not in huff_dc:
            raise ValueError("JPEG scan references missing DC table")
        t = huff_dc[td]
        tabs.append((comp["id"], t.lut_sym, t.lut_len))
    br = _SegBits(segs[0][0])
    seg_i = 0
    reset_at = 0
    reset_y = 0
    total = h * w
    for m in range(total):
        if restart_interval and m and m % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("JPEG missing restart segment")
            br = _SegBits(segs[seg_i][0])
            reset_at = m
            reset_y = m // w
        y, x = divmod(m, w)
        for cid, lut_sym, lut_len in tabs:
            ssss = br.read_sym(lut_sym, lut_len)
            if ssss == 16:
                diff = 32768
            elif ssss > 16:
                raise ValueError("JPEG lossless category out of range")
            else:
                diff = _extend(br.receive(ssss), ssss)
            plane = planes[cid]
            if m == reset_at:
                pred = default
            elif y == reset_y:
                pred = int(plane[y, x - 1])  # H.1.1 first-line 1-D rule
            else:
                pred = _lossless_predict(plane, x, y, sel)
            plane[y, x] = (pred + diff) & 0xFFFF
    if pt:
        for cid, _ls, _ll in tabs:
            planes[cid] <<= pt
    return end


def _reconstruct_lossless(planes, frame, rgb_to_gray):
    """Lossless planes → the engine's shared grayscale: 1 component
    scales its precision to 8 bits; 3 components are RGB (lossless
    color is coded without a color transform) through the shared
    luma."""
    h, w, comps, prec = frame
    mx = (1 << prec) - 1
    out = []
    for c in comps:
        a = np.clip(planes[c["id"]], 0, mx).astype(np.float64)
        out.append(np.clip(np.rint(a * (255.0 / mx)), 0, 255)
                   .astype(np.uint8))
    if len(out) == 1:
        return out[0]
    if len(out) == 3:
        return rgb_to_gray(np.stack(out, axis=-1))
    raise NotImplementedError(
        f"{len(out)}-component lossless JPEG unsupported")


def _decode_baseline_scan(data, pos, frame, scan, store, huff_dc, huff_ac,
                          restart_interval):
    """One baseline (sequential) scan into `store`; returns the absolute
    offset of the next marker. A single-component scan is NON-interleaved
    per T.81 A.2.2 (covers only the component's real block grid, one block
    per restart unit) — the shape scan-per-component baseline writers emit;
    multi-component scans interleave over the padded MCU grid."""
    h, w, comps = frame[:3]
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if len(scan) == 1:
        ni_blocks = _comp_blocks(scan[0][0], h, w, hmax, vmax)
        n_units = len(ni_blocks)
    else:
        ni_blocks = None
        n_units = mcux * mcuy
    for comp, td, ta in scan:
        if huff_dc.get(td) is None or huff_ac.get(ta) is None:
            raise ValueError("JPEG scan uses undefined Huffman table")
    segs, end = _entropy_segments(data, pos)
    pred = {c["id"]: 0 for c in comps}
    seg, _rst = segs[0]
    seg_i = 0
    seglen = len(seg)
    buf = 0
    nb = 0
    p = 0
    for mcu in range(n_units):
        my, mx = divmod(mcu, mcux)
        if restart_interval and mcu and mcu % restart_interval == 0:
            # next restart interval: fresh byte-aligned segment, reset DC
            if seg_i + 1 >= len(segs):
                raise ValueError("JPEG missing RST marker")
            if segs[seg_i][1] != (seg_i % 8):
                raise ValueError("RST marker out of sequence")
            seg_i += 1
            seg, _rst = segs[seg_i]
            seglen = len(seg)
            buf = 0
            nb = 0
            p = 0
            pred = {c["id"]: 0 for c in comps}
        for comp, td, ta in scan:
            dc_sym = huff_dc[td].lut_sym
            dc_len = huff_dc[td].lut_len
            ac_sym = huff_ac[ta].lut_sym
            ac_len = huff_ac[ta].lut_len
            cid = comp["id"]
            coef = store[cid]
            cvs, chs = comp["vs"], comp["hs"]
            grid_w = mcux * chs
            n_blk = 1 if ni_blocks is not None else cvs * chs
            for _blk in range(n_blk):
                if ni_blocks is not None:
                    row = coef[ni_blocks[mcu]]
                else:
                    iby, ibx = divmod(_blk, chs)
                    row = coef[(my * cvs + iby) * grid_w + (mx * chs + ibx)]
                # --- DC ---  (consumed bits above `nb` stay as
                # garbage; every extraction masks after shifting, so no
                # per-symbol buf mask is needed — buf is bounded by the
                # 32-bit mask applied at refill)
                while nb < 16 and p < seglen:
                    buf = ((buf << 8) | seg[p]) & 0xFFFFFFFF
                    p += 1
                    nb += 8
                if nb == 0:
                    raise ValueError("JPEG entropy data truncated")
                idx = (buf >> (nb - 16)) & 0xFFFF if nb >= 16 else (buf << (16 - nb)) & 0xFFFF
                s = dc_sym[idx]
                ln = dc_len[idx]
                if ln == 0 or ln > nb:
                    raise ValueError("invalid or truncated Huffman code")
                nb -= ln
                if s:
                    while nb < s and p < seglen:
                        buf = ((buf << 8) | seg[p]) & 0xFFFFFFFF
                        p += 1
                        nb += 8
                    if s > nb:
                        raise ValueError("JPEG entropy data truncated")
                    nb -= s
                    v = (buf >> nb) & ((1 << s) - 1)
                    pred[cid] += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                row[0] = pred[cid]
                # --- AC ---
                k = 1
                while k < 64:
                    while nb < 16 and p < seglen:
                        buf = ((buf << 8) | seg[p]) & 0xFFFFFFFF
                        p += 1
                        nb += 8
                    if nb == 0:
                        raise ValueError("JPEG entropy data truncated")
                    idx = (buf >> (nb - 16)) & 0xFFFF if nb >= 16 else (buf << (16 - nb)) & 0xFFFF
                    rs = ac_sym[idx]
                    ln = ac_len[idx]
                    if ln == 0 or ln > nb:
                        raise ValueError("invalid or truncated Huffman code")
                    nb -= ln
                    s = rs & 0x0F
                    if s == 0:
                        if rs == 0xF0:
                            k += 16  # ZRL
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("AC run exceeds block")
                    while nb < s and p < seglen:
                        buf = ((buf << 8) | seg[p]) & 0xFFFFFFFF
                        p += 1
                        nb += 8
                    if s > nb:
                        raise ValueError("JPEG entropy data truncated")
                    nb -= s
                    v = (buf >> nb) & ((1 << s) - 1)
                    row[k] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                    k += 1
    return end


def _reconstruct(store, frame, qt, rgb_to_gray, adobe_transform=None):
    """Raster-grid zigzag coefficients → dequant → IDCT → planes → gray.
    Shared by the baseline one-shot path and the progressive EOI path.

    Color interpretation follows the APP14 Adobe transform flag when
    present: 3 components are YCbCr (flag 1 or absent — the JFIF
    default) or plain RGB (flag 0); 4 components are YCCK (flag 2) or
    CMYK (flag 0).  Adobe writers store 4-component data INVERTED
    (255 = no ink) — honored whenever APP14 is present; a 4-component
    stream with no APP14 at all is taken as non-inverted CMYK."""
    h, w, comps = frame[:3]
    prec = frame[3] if len(frame) > 3 else 8
    level, maxval = 1 << (prec - 1), (1 << prec) - 1
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        zz = store[c["id"]]
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError("JPEG component uses undefined quant table")
        nat = np.zeros_like(zz)
        nat[:, ZIGZAG] = zz * q[None, :]
        by, bx = mcuy * c["vs"], mcux * c["hs"]
        blocks = nat.reshape(by, bx, 8, 8)
        spatial = _idct_blocks(blocks.astype(np.float64))
        plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.clip(np.rint(plane) + level, 0, maxval)
        if prec > 8:
            # clamp at full 12-bit range, THEN one rounding rescale to
            # 8-bit (the engine's single grayscale depth)
            plane = (plane * 255 + maxval // 2) // maxval
        plane = plane.astype(np.uint8)
        # upsample to full-resolution grid (nearest/replication)
        ry, rx = vmax // c["vs"], hmax // c["hs"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return planes[0]

    def ycc_to_rgb(yp, cbp, crp):
        y = yp.astype(np.float64)
        cb = cbp.astype(np.float64) - 128.0
        cr = crp.astype(np.float64) - 128.0
        r = np.clip(np.rint(y + 1.402 * cr), 0, 255).astype(np.uint8)
        g = np.clip(
            np.rint(y - 0.344136 * cb - 0.714136 * cr), 0, 255
        ).astype(np.uint8)
        b = np.clip(np.rint(y + 1.772 * cb), 0, 255).astype(np.uint8)
        return np.stack([r, g, b], axis=-1)

    if len(planes) == 3:
        if adobe_transform == 0:  # APP14 flag 0 with 3 comps: already RGB
            return rgb_to_gray(np.stack(planes, axis=-1))
        return rgb_to_gray(ycc_to_rgb(*planes))
    # 4 components: recover INVERTED cmyk (255 = no ink) then composite
    if adobe_transform == 2:  # YCCK: YCbCr over inverted CMY, K separate
        inv_cmy = ycc_to_rgb(*planes[:3])
        inv_k = planes[3]
    else:
        inv_cmy = np.stack(planes[:3], axis=-1)
        inv_k = planes[3]
        if adobe_transform is None:  # no APP14: non-inverted CMYK
            inv_cmy = 255 - inv_cmy
            inv_k = 255 - inv_k
    rgb = (
        inv_cmy.astype(np.uint16) * inv_k[..., None].astype(np.uint16) + 127
    ) // 255
    return rgb_to_gray(rgb.astype(np.uint8))


class _SegBits:
    """LUT-driven bit reader over one pre-unstuffed entropy segment."""

    __slots__ = ("seg", "n", "p", "buf", "nb")

    def __init__(self, seg: bytes):
        self.seg = seg
        self.n = len(seg)
        self.p = 0
        self.buf = 0
        self.nb = 0

    def read_sym(self, lut_sym, lut_len) -> int:
        while self.nb < 16 and self.p < self.n:
            self.buf = ((self.buf << 8) | self.seg[self.p]) & 0xFFFFFFFF
            self.p += 1
            self.nb += 8
        if self.nb == 0:
            raise ValueError("JPEG entropy data truncated")
        nb = self.nb
        idx = (self.buf >> (nb - 16)) & 0xFFFF if nb >= 16 else (self.buf << (16 - nb)) & 0xFFFF
        ln = lut_len[idx]
        if ln == 0 or ln > nb:
            raise ValueError("invalid or truncated Huffman code")
        self.nb = nb - ln
        return lut_sym[idx]

    def receive(self, s: int) -> int:
        if s == 0:
            return 0
        while self.nb < s and self.p < self.n:
            self.buf = ((self.buf << 8) | self.seg[self.p]) & 0xFFFFFFFF
            self.p += 1
            self.nb += 8
        if s > self.nb:
            raise ValueError("JPEG entropy data truncated")
        self.nb -= s
        return (self.buf >> self.nb) & ((1 << s) - 1)

    def get_bit(self) -> int:
        return self.receive(1)


def _decode_progressive_scan(data, pos, frame, scan, store, huff_dc, huff_ac,
                             restart_interval, ss, se, ah, al):
    """One progressive scan (T.81 Annex G): DC first / DC refine /
    AC first / AC refine, restart-aware. Mutates `store` (raster-grid,
    zigzag order); returns the absolute offset just past the scan's
    entropy data (at the next marker)."""
    h, w, comps = frame[:3]
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    segs, end = _entropy_segments(data, pos)
    seg_i = 0
    br = _SegBits(segs[0][0])
    pred = {c["id"]: 0 for c in comps}
    eobrun = 0

    def next_segment():
        nonlocal seg_i, br, pred, eobrun
        if seg_i + 1 >= len(segs):
            raise ValueError("JPEG missing RST marker")
        if segs[seg_i][1] != (seg_i % 8):
            raise ValueError("RST marker out of sequence")
        seg_i += 1
        br = _SegBits(segs[seg_i][0])
        pred = {c["id"]: 0 for c in comps}
        eobrun = 0

    if ss == 0:  # DC scan (se must be 0; may be interleaved)
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        if len(scan) == 1:
            comp = scan[0][0]
            units = _comp_blocks(comp, h, w, hmax, vmax)
        else:
            units = None  # MCU-interleaved
        n_units = (mcux * mcuy) if units is None else len(units)
        for u in range(n_units):
            if restart_interval and u and u % restart_interval == 0:
                next_segment()
            if units is None:
                my, mx = divmod(u, mcux)
                targets = []
                for comp, td, _ta in scan:
                    grid_w = mcux * comp["hs"]
                    for iby in range(comp["vs"]):
                        for ibx in range(comp["hs"]):
                            targets.append(
                                (comp, td,
                                 (my * comp["vs"] + iby) * grid_w
                                 + (mx * comp["hs"] + ibx))
                            )
            else:
                comp, td, _ta = scan[0]
                targets = [(comp, td, units[u])]
            for comp, td, bi in targets:
                row = store[comp["id"]][bi]
                if ah == 0:
                    s = br.read_sym(huff_dc[td].lut_sym, huff_dc[td].lut_len)
                    diff = _extend(br.receive(s), s) if s else 0
                    pred[comp["id"]] += diff
                    row[0] = pred[comp["id"]] << al
                else:
                    if br.get_bit():
                        row[0] = int(row[0]) | (1 << al)
        return end
    # AC scan: exactly one component, non-interleaved
    if len(scan) != 1:
        raise ValueError("progressive AC scan must have one component")
    comp, _td, ta = scan[0]
    ac_sym = huff_ac[ta].lut_sym
    ac_len = huff_ac[ta].lut_len
    blocks = _comp_blocks(comp, h, w, hmax, vmax)
    coef = store[comp["id"]]
    p1 = 1 << al
    m1 = -1 << al
    for u, bi in enumerate(blocks):
        if restart_interval and u and u % restart_interval == 0:
            next_segment()
        row = coef[bi]
        if ah == 0:  # first scan for this band
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = br.read_sym(ac_sym, ac_len)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r < 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                        break
                    k += 16  # ZRL
                else:
                    k += r
                    if k > se:
                        raise ValueError("AC run exceeds spectral band")
                    row[k] = _extend(br.receive(s), s) << al
                    k += 1
        else:  # refinement scan (T.81 G.1.2.3 / the classic IJG structure)
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = br.read_sym(ac_sym, ac_len)
                    r, s = rs >> 4, rs & 0x0F
                    val = 0
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.receive(r)
                            break
                        # ZRL: advance past 16 zero-history coefficients
                    else:
                        val = p1 if br.get_bit() else m1
                    while k <= se:
                        c0 = int(row[k])
                        if c0 != 0:
                            if br.get_bit() and (c0 & p1) == 0:
                                row[k] = c0 + (p1 if c0 >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        row[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    c0 = int(row[k])
                    if c0 != 0:
                        if br.get_bit() and (c0 & p1) == 0:
                            row[k] = c0 + (p1 if c0 >= 0 else m1)
                    k += 1
                eobrun -= 1
    return end


def _comp_blocks(comp, h, w, hmax, vmax):
    """Raster-grid flat indexes of a component's REAL blocks (progressive
    non-interleaved scans cover ceil(samples/8), not the padded MCU grid)."""
    mcux = -(-w // (8 * hmax))
    sw = -(-(w * comp["hs"]) // hmax)
    sh = -(-(h * comp["vs"]) // vmax)
    bw = -(-sw // 8)
    bh = -(-sh // 8)
    grid_w = mcux * comp["hs"]
    return [by * grid_w + bx for by in range(bh) for bx in range(bw)]


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.buf = (self.buf << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                b = self.buf & 0xFF
                self.out.append(b)
                if b == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.buf = 0
                self.nbits = 0

    def flush(self) -> None:
        while self.nbits:
            self.write(1, 1)  # pad with 1s per spec


def _rgb_to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF RGB → (Y, Cb, Cr) uint8 planes — the ONE definition shared by
    the baseline and progressive encoders (drift here would break the
    decode(progressive) == decode(baseline) bit-equality oracle)."""
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255).astype(np.uint8)
    cb = np.clip(np.rint(128 - 0.168736 * r - 0.331264 * g + 0.5 * b), 0, 255).astype(np.uint8)
    cr = np.clip(np.rint(128 + 0.5 * r - 0.418688 * g - 0.081312 * b), 0, 255).astype(np.uint8)
    return y, cb, cr


def _downsample_chroma(plane: np.ndarray, hs: int, vs: int) -> np.ndarray:
    """Box-filter downsample by (vs, hs) with edge padding (shared by both
    encoders)."""
    if hs == 1 and vs == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // vs) * vs, -(-w // hs) * hs
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge").astype(np.uint32)
    area = hs * vs
    sums = p.reshape(ph // vs, vs, pw // hs, hs).sum(axis=(1, 3))
    return ((sums + area // 2) // area).astype(np.uint8)


def _scale_quant(tbl: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((tbl * scale + 50) // 100, 1, 255).astype(np.int32)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_component(bw: _BitWriter, blocks: np.ndarray, q: np.ndarray,
                      dc: _HuffTable, ac: _HuffTable, pred: int) -> int:
    """blocks: (N, 8, 8) spatial int. Returns updated DC predictor."""
    coef = _fdct_blocks(blocks.astype(np.float64))
    # quantize: round half away from zero (classic JPEG behavior)
    qz = np.sign(coef) * np.floor(
        np.abs(coef) / q.reshape(8, 8) + 0.5
    )
    qz = qz.astype(np.int64).reshape(len(blocks), 64)[:, ZIGZAG]
    for zz in qz:
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s = _category(diff)
        code, ln = dc.enc[s]
        bw.write(code, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = 0
        nz = np.nonzero(zz[1:])[0]
        last_nz = (nz[-1] + 1) if len(nz) else 0
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac.enc[0xF0]
                bw.write(code, ln)  # ZRL
                run -= 16
            s = _category(v)
            code, ln = ac.enc[(run << 4) | s]
            bw.write(code, ln)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = ac.enc[0x00]
            bw.write(code, ln)  # EOB
    return pred


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """Pad plane (edge-replicate) to multiples of 8 and return (N, 8, 8)
    blocks in raster order plus the block grid shape."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    p = np.pad(plane.astype(np.int32) - 128,
               ((0, ph - h), (0, pw - w)), mode="edge")
    by, bx = ph // 8, pw // 8
    return p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _dht_payload(tc: int, th: int, bits, vals) -> bytes:
    return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)


def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsampling: str = "gray", restart_interval: int = 0) -> bytes:
    """Encode uint8 image → baseline JFIF bytes.

    ``subsampling``: 'gray' (img 2-D), '444', '422' or '420' (img (h, w, 3) RGB).
    ``restart_interval``: emit a DRI segment and RSTn markers every N MCUs
    (0 = none) — exists mainly so tests can exercise the decoder's restart
    path, which real scanners/encoders commonly produce.
    """
    if subsampling == "gray":
        assert img.ndim == 2 and img.dtype == np.uint8
        ql = _scale_quant(QUANT_LUM, quality)
        dc0 = _HuffTable(DC_LUM_BITS, DC_LUM_VALS)
        ac0 = _HuffTable(AC_LUM_BITS, AC_LUM_VALS)
        h, w = img.shape
        bw = _BitWriter()
        blocks = _blocks_of(img)
        if restart_interval:
            pred = 0
            rst = 0
            for start in range(0, len(blocks), restart_interval):
                if start:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
                    rst += 1
                    pred = 0
                pred = _encode_component(
                    bw, blocks[start : start + restart_interval],
                    ql[ZIGZAG_INV], dc0, ac0, pred,
                )
        else:
            _encode_component(bw, blocks, ql[ZIGZAG_INV], dc0, ac0, 0)
        bw.flush()
        out = bytearray(b"\xff\xd8")
        out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        out += _seg(0xDB, bytes([0x00]) + bytes(ql.tolist()))
        out += _seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                    + bytes([1, 1, 0x11, 0]))
        out += _seg(0xC4, _dht_payload(0, 0, DC_LUM_BITS, DC_LUM_VALS))
        out += _seg(0xC4, _dht_payload(1, 0, AC_LUM_BITS, AC_LUM_VALS))
        if restart_interval:
            out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
        out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        out += bw.out
        out += b"\xff\xd9"
        return bytes(out)
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"unknown subsampling {subsampling!r}")
    assert img.ndim == 3 and img.shape[2] == 3 and img.dtype == np.uint8
    y, cb, cr = _rgb_to_ycbcr(img)
    h, w = y.shape
    ql = _scale_quant(QUANT_LUM, quality)
    qc = _scale_quant(QUANT_CHROM, quality)
    dc0 = _HuffTable(DC_LUM_BITS, DC_LUM_VALS)
    ac0 = _HuffTable(AC_LUM_BITS, AC_LUM_VALS)
    dc1 = _HuffTable(DC_CHROM_BITS, DC_CHROM_VALS)
    ac1 = _HuffTable(AC_CHROM_BITS, AC_CHROM_VALS)
    hs, vs = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    cb = _downsample_chroma(cb, hs, vs)
    cr = _downsample_chroma(cr, hs, vs)
    # build MCU-interleaved block streams
    mcux = -(-w // (8 * hs))
    mcuy = -(-h // (8 * vs))

    def grid(plane, bx_cnt, by_cnt):
        ph, pw = by_cnt * 8, bx_cnt * 8
        p = np.pad(plane.astype(np.int32) - 128,
                   ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                   mode="edge")
        return p.reshape(by_cnt, 8, bx_cnt, 8).transpose(0, 2, 1, 3)

    gy = grid(y, mcux * hs, mcuy * vs)
    gcb = grid(cb, mcux, mcuy)
    gcr = grid(cr, mcux, mcuy)
    bw_ = _BitWriter()
    pred = {"y": 0, "cb": 0, "cr": 0}
    qly = ql[ZIGZAG_INV]
    qcc = qc[ZIGZAG_INV]
    for my in range(mcuy):
        for mx in range(mcux):
            yb = [
                gy[my * vs + by, mx * hs + bx]
                for by in range(vs) for bx in range(hs)
            ]
            pred["y"] = _encode_component(
                bw_, np.stack(yb), qly, dc0, ac0, pred["y"])
            pred["cb"] = _encode_component(
                bw_, gcb[my, mx][None], qcc, dc1, ac1, pred["cb"])
            pred["cr"] = _encode_component(
                bw_, gcr[my, mx][None], qcc, dc1, ac1, pred["cr"])
    bw_.flush()
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(ql.tolist()))
    out += _seg(0xDB, bytes([0x01]) + bytes(qc.tolist()))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([3])
    sof += bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, _dht_payload(0, 0, DC_LUM_BITS, DC_LUM_VALS))
    out += _seg(0xC4, _dht_payload(1, 0, AC_LUM_BITS, AC_LUM_VALS))
    out += _seg(0xC4, _dht_payload(0, 1, DC_CHROM_BITS, DC_CHROM_VALS))
    out += _seg(0xC4, _dht_payload(1, 1, AC_CHROM_BITS, AC_CHROM_VALS))
    out += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw_.out
    out += b"\xff\xd9"
    return bytes(out)


# inverse zigzag: natural (row-major) position i holds quant entry for the
# coefficient at natural position i — used when quantizing in natural order
ZIGZAG_INV = np.zeros(64, dtype=np.int32)
ZIGZAG_INV[ZIGZAG] = np.arange(64)


def encode_jpeg_cmyk(cmyk: np.ndarray, quality: int = 90,
                     transform: int = 2) -> bytes:
    """Encode (h, w, 4) uint8 NON-inverted CMYK ink coverage (0 = no
    ink) as an Adobe 4-component baseline JPEG, 4:4:4.

    ``transform`` selects the APP14 color transform: 0 stores the four
    inverted ink planes directly (Adobe CMYK convention: 255 = no ink);
    2 stores YCCK (YCbCr over the inverted CMY planes + inverted K) —
    what Photoshop emits for print-workflow scans. Exists so the decoder
    can be exercised on the 4-component streams real print/scan
    pipelines produce."""
    assert cmyk.ndim == 3 and cmyk.shape[2] == 4 and cmyk.dtype == np.uint8
    if transform not in (0, 2):
        raise ValueError("CMYK transform must be 0 (CMYK) or 2 (YCCK)")
    inv = 255 - cmyk
    h, w = cmyk.shape[:2]
    ql = _scale_quant(QUANT_LUM, quality)
    qc = _scale_quant(QUANT_CHROM, quality)
    dc0 = _HuffTable(DC_LUM_BITS, DC_LUM_VALS)
    ac0 = _HuffTable(AC_LUM_BITS, AC_LUM_VALS)
    dc1 = _HuffTable(DC_CHROM_BITS, DC_CHROM_VALS)
    ac1 = _HuffTable(AC_CHROM_BITS, AC_CHROM_VALS)
    if transform == 2:
        y, cb, cr = _rgb_to_ycbcr(inv[..., :3])
        planes = [y, cb, cr, inv[..., 3]]
        tqs = [0, 1, 1, 0]  # luma table for Y and K, chroma for Cb/Cr
    else:
        planes = [inv[..., i] for i in range(4)]
        tqs = [0, 0, 0, 0]
    mcux, mcuy = -(-w // 8), -(-h // 8)

    def grid(plane):
        p = np.pad(plane.astype(np.int32) - 128,
                   ((0, mcuy * 8 - h), (0, mcux * 8 - w)), mode="edge")
        return p.reshape(mcuy, 8, mcux, 8).transpose(0, 2, 1, 3)

    grids = [grid(p) for p in planes]
    qnat = [ql[ZIGZAG_INV], qc[ZIGZAG_INV]]
    huffs = [(dc0, ac0), (dc1, ac1)]
    bw = _BitWriter()
    preds = [0, 0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(4):
                preds[ci] = _encode_component(
                    bw, grids[ci][my, mx][None], qnat[tqs[ci]],
                    *huffs[tqs[ci]], preds[ci],
                )
    bw.flush()
    out = bytearray(b"\xff\xd8")
    out += _seg(0xEE, b"Adobe\x00\x65\x00\x00\x00\x00" + bytes([transform]))
    out += _seg(0xDB, bytes([0x00]) + bytes(ql.tolist()))
    out += _seg(0xDB, bytes([0x01]) + bytes(qc.tolist()))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([4])
    for ci in range(4):
        sof += bytes([ci + 1, 0x11, tqs[ci]])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, _dht_payload(0, 0, DC_LUM_BITS, DC_LUM_VALS))
    out += _seg(0xC4, _dht_payload(1, 0, AC_LUM_BITS, AC_LUM_VALS))
    out += _seg(0xC4, _dht_payload(0, 1, DC_CHROM_BITS, DC_CHROM_VALS))
    out += _seg(0xC4, _dht_payload(1, 1, AC_CHROM_BITS, AC_CHROM_VALS))
    sos = bytes([4])
    for ci in range(4):
        sos += bytes([ci + 1, (tqs[ci] << 4) | tqs[ci]])
    out += _seg(0xDA, sos + bytes([0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (T.81 Annex G) — exists to exercise the progressive
# decoder without external codecs. Transmits the SAME quantized
# coefficients as the baseline encoder (spectral selection + successive
# approximation are lossless re-orderings), so for any image
# decode(encode_progressive(img, q)) must be BIT-IDENTICAL to
# decode(encode_jpeg(img, q)) — the round-trip oracle the tests pin.
# ---------------------------------------------------------------------------

# The Annex K AC tables lack EOBn (r>=1) symbols, which only exist in
# progressive streams; real encoders build custom tables. This flat table
# (every (run, size) symbol at code length 9) is valid canonical Huffman
# and covers everything the progressive encoder emits.
_AC_PROG_VALS = [(r << 4) | s_ for r in range(16) for s_ in range(11)]
_AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, 0, len(_AC_PROG_VALS), 0, 0, 0, 0, 0, 0, 0]


def _trunc_shift(v: int, al: int) -> int:
    """Point transform toward zero (T.81 G.1.2.2 for AC)."""
    return v >> al if v >= 0 else -((-v) >> al)


class _ProgWriter(_BitWriter):
    """BitWriter + the progressive bookkeeping: pending correction bits
    (flushed after each symbol) and an end-of-band run counter."""

    def __init__(self, ac: _HuffTable):
        super().__init__()
        self.ac = ac
        self.pending: list[int] = []
        self.eobrun = 0

    def sym(self, symbol: int) -> None:
        code, ln = self.ac.enc[symbol]
        self.write(code, ln)

    def flush_pending(self) -> None:
        for b in self.pending:
            self.write(b, 1)
        self.pending = []

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.write(self.eobrun - (1 << nbits), nbits)
            self.flush_pending()
            self.eobrun = 0


def _emit_dc_first(bw: _BitWriter, dc: _HuffTable, rows, preds, al):
    """rows: iterable of (key, coef_row); preds: dict key->pred."""
    for key, row in rows:
        v = int(row[0]) >> al  # arithmetic shift (exact under OR-refinement)
        diff = v - preds[key]
        preds[key] = v
        s = _category(diff)
        code, ln = dc.enc[s]
        bw.write(code, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)


def _emit_ac_first(pw: _ProgWriter, row, ss, se, al) -> None:
    band = [_trunc_shift(int(row[k]), al) for k in range(ss, se + 1)]
    if not any(band):
        pw.eobrun += 1
        if pw.eobrun == 0x7FFF:
            pw.flush_eobrun()
        return
    pw.flush_eobrun()
    r = 0
    for tv in band:
        if tv == 0:
            r += 1
            continue
        while r > 15:
            pw.sym(0xF0)
            r -= 16
        s = _category(tv)
        pw.sym((r << 4) | s)
        pw.write(tv if tv >= 0 else tv + (1 << s) - 1, s)
        r = 0
    if r > 0:
        pw.eobrun += 1


def _emit_ac_refine(pw: _ProgWriter, row, ss, se, al) -> None:
    vals = [int(row[k]) for k in range(ss, se + 1)]
    ts = [_trunc_shift(v, al) for v in vals]
    # The EOB run covering PREVIOUS blocks must be flushed before any of
    # THIS block's correction bits enter the pending buffer — the decoder
    # reads prior blocks' correction bits right after the EOBn symbol, and
    # this block's bits interleaved with its own symbols.
    if any(abs(t) == 1 for t in ts):
        pw.flush_eobrun()
        last_new = max(i for i, t in enumerate(ts) if abs(t) == 1)
        r = 0
        for i, (v, t) in enumerate(zip(vals, ts)):
            if t == 0:
                r += 1
                continue
            # drain ZRLs at ANY nonzero coefficient while still before the
            # last newly-significant index (the decoder consumes the
            # buffered correction bits inside each ZRL's 16-position span,
            # so bits buffered AFTER a span must flush with a LATER symbol)
            while r > 15 and i <= last_new:
                pw.sym(0xF0)
                pw.flush_pending()
                r -= 16
            if abs(t) > 1:  # history coefficient: one correction bit
                pw.pending.append(t & 1)
                continue
            # newly significant at this precision
            pw.sym((r << 4) | 1)
            pw.write(1 if v >= 0 else 0, 1)
            pw.flush_pending()
            r = 0
        if r > 0 or pw.pending:
            pw.eobrun += 1
            if pw.eobrun == 0x7FFF:
                pw.flush_eobrun()
    else:
        # no newly-significant coefficient: whole band rides the EOB run;
        # history correction bits buffer until the run is flushed
        for t in ts:
            if t != 0:
                pw.pending.append(t & 1)
        pw.eobrun += 1
        if pw.eobrun == 0x7FFF:
            pw.flush_eobrun()


def _quantize_plane(plane: np.ndarray, qnat: np.ndarray,
                    grid_bh: int, grid_bw: int) -> np.ndarray:
    """(h, w) plane → (grid_bh*grid_bw, 64) zigzag-order quantized coeffs,
    raster block order, edge-padded to the full grid."""
    ph, pw = grid_bh * 8, grid_bw * 8
    p = np.pad(plane.astype(np.int32) - 128,
               ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
               mode="edge")
    blocks = p.reshape(grid_bh, 8, grid_bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coef = _fdct_blocks(blocks.astype(np.float64))
    qz = np.sign(coef) * np.floor(np.abs(coef) / qnat.reshape(8, 8) + 0.5)
    return qz.astype(np.int32).reshape(-1, 64)[:, ZIGZAG]


def encode_jpeg_progressive(img: np.ndarray, quality: int = 90,
                            subsampling: str = "gray") -> bytes:
    """Progressive (SOF2) encode: DC first/refine + per-component AC
    first/refine scans with spectral selection — exercises every
    progressive decode path (EOB runs, ZRL, correction bits, interleaved
    DC with sampling factors). 'gray' or '420'."""
    if subsampling == "gray":
        assert img.ndim == 2 and img.dtype == np.uint8
        comps = [("y", img, _scale_quant(QUANT_LUM, quality), 1, 1, 0, 0)]
        hmax = vmax = 1
        h, w = img.shape
    elif subsampling == "420":
        assert img.ndim == 3 and img.shape[2] == 3 and img.dtype == np.uint8
        y, cb, cr = _rgb_to_ycbcr(img)
        h, w = y.shape
        cb2 = _downsample_chroma(cb, 2, 2)
        cr2 = _downsample_chroma(cr, 2, 2)
        ql = _scale_quant(QUANT_LUM, quality)
        qc = _scale_quant(QUANT_CHROM, quality)
        comps = [
            ("y", y, ql, 2, 2, 0, 0),
            ("cb", cb2, qc, 1, 1, 1, 1),
            ("cr", cr2, qc, 1, 1, 1, 1),
        ]
        hmax = vmax = 2
    else:
        raise ValueError(f"unsupported progressive subsampling {subsampling!r}")

    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    dc_tbls = {0: _HuffTable(DC_LUM_BITS, DC_LUM_VALS),
               1: _HuffTable(DC_CHROM_BITS, DC_CHROM_VALS)}
    ac_tbl = _HuffTable(_AC_PROG_BITS, _AC_PROG_VALS)

    coefs = {}
    meta = []  # (key, comp_id, hs, vs, tq, td, grid_bw, real_blocks)
    for ci, (key, plane, q, hs, vs, td, tq) in enumerate(comps):
        grid_bw, grid_bh = mcux * hs, mcuy * vs
        qnat = q[ZIGZAG_INV]
        coefs[key] = _quantize_plane(plane, qnat, grid_bh, grid_bw)
        sw = -(-(w * hs) // hmax)
        sh = -(-(h * vs) // vmax)
        real = [
            by * grid_bw + bx
            for by in range(-(-sh // 8))
            for bx in range(-(-sw // 8))
        ]
        meta.append((key, ci + 1, hs, vs, tq, td, grid_bw, real))

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    emitted_q = set()
    for key, plane, q, hs, vs, td, tq in comps:
        if tq not in emitted_q:
            out += _seg(0xDB, bytes([tq]) + bytes(q.tolist()))
            emitted_q.add(tq)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([len(comps)])
    for key, cid, hs, vs, tq, td, _gw, _rb in meta:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += _seg(0xC2, sof)
    out += _seg(0xC4, _dht_payload(0, 0, DC_LUM_BITS, DC_LUM_VALS))
    if len(comps) > 1:
        out += _seg(0xC4, _dht_payload(0, 1, DC_CHROM_BITS, DC_CHROM_VALS))
    out += _seg(0xC4, _dht_payload(1, 0, _AC_PROG_BITS, _AC_PROG_VALS))

    def sos_header(comp_metas, ss, se, ah, al):
        body = bytes([len(comp_metas)])
        for _key, cid, _hs, _vs, _tq, td, _gw, _rb in comp_metas:
            body += bytes([cid, (td << 4) | 0])
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    # ---- scan 1: DC first, Al=1, interleaved over all components ----
    out += sos_header(meta, 0, 0, 0, 1)
    bw = _BitWriter()
    preds = {m[0]: 0 for m in meta}
    if len(meta) == 1:
        key, _cid, _hs, _vs, _tq, td, _gw, real = meta[0]
        _emit_dc_first(
            bw, dc_tbls[td], ((key, coefs[key][bi]) for bi in real), preds, 1
        )
    else:
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            for key, _cid, hs, vs, _tq, td, gw, _rb in meta:
                rows = []
                for iby in range(vs):
                    for ibx in range(hs):
                        rows.append(
                            (key, coefs[key][(my * vs + iby) * gw + (mx * hs + ibx)])
                        )
                _emit_dc_first(bw, dc_tbls[td], rows, preds, 1)
    bw.flush()
    out += bw.out

    # ---- AC scans per component: first at Al=1 over two bands ----
    bands = [(1, 5), (6, 63)]
    for key, _cid, _hs, _vs, _tq, _td, _gw, real in meta:
        for ss, se in bands:
            out += sos_header([m for m in meta if m[0] == key], ss, se, 0, 1)
            pw = _ProgWriter(ac_tbl)
            for bi in real:
                _emit_ac_first(pw, coefs[key][bi], ss, se, 1)
            pw.flush_eobrun()
            pw.flush()
            out += pw.out

    # ---- DC refine to Al=0 ----
    out += sos_header(meta, 0, 0, 1, 0)
    bw = _BitWriter()
    if len(meta) == 1:
        key, _cid, _hs, _vs, _tq, _td, _gw, real = meta[0]
        for bi in real:
            bw.write(int(coefs[key][bi][0]) & 1, 1)
    else:
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            for key, _cid, hs, vs, _tq, _td, gw, _rb in meta:
                for iby in range(vs):
                    for ibx in range(hs):
                        v = int(coefs[key][(my * vs + iby) * gw + (mx * hs + ibx)][0])
                        bw.write(v & 1, 1)
    bw.flush()
    out += bw.out

    # ---- AC refine to Al=0 per component per band ----
    for key, _cid, _hs, _vs, _tq, _td, _gw, real in meta:
        for ss, se in bands:
            out += sos_header([m for m in meta if m[0] == key], ss, se, 1, 0)
            pw = _ProgWriter(ac_tbl)
            for bi in real:
                _emit_ac_refine(pw, coefs[key][bi], ss, se, 0)
            pw.flush_eobrun()
            pw.flush()
            out += pw.out

    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# MJPEG helper: Motion-JPEG streams (AVI 'MJPG', QuickTime 'jpeg') commonly
# omit the DHT segments and rely on the decoder supplying the ITU T.81
# Annex K tables — the convention the OpenDML AVI spec (and every ffmpeg/
# libavcodec MJPEG encoder) standardized. decode_jpeg demands explicit
# tables, so the demux layer normalizes frames with this helper first.
# ---------------------------------------------------------------------------

_MJPEG_DHT = None


def _annex_k_dht() -> bytes:
    """The four Annex K tables as two DHT segments (DC+AC luma, DC+AC
    chroma) — exactly what an MJPG frame without DHT implies."""
    global _MJPEG_DHT
    if _MJPEG_DHT is None:
        _MJPEG_DHT = (
            _seg(0xC4, _dht_payload(0, 0, DC_LUM_BITS, DC_LUM_VALS)
                 + _dht_payload(1, 0, AC_LUM_BITS, AC_LUM_VALS))
            + _seg(0xC4, _dht_payload(0, 1, DC_CHROM_BITS, DC_CHROM_VALS)
                   + _dht_payload(1, 1, AC_CHROM_BITS, AC_CHROM_VALS))
        )
    return _MJPEG_DHT


def ensure_jpeg_tables(data: bytes) -> bytes:
    """Return ``data`` unchanged if the stream carries a DHT segment before
    the first SOS; otherwise insert the Annex K default tables immediately
    before SOS (the MJPG missing-DHT convention). Malformed marker streams
    raise ValueError so the skip-policy contract holds upstream."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker stream desynchronized")
        marker = data[pos + 1]
        if marker == 0xC4:  # DHT present — nothing to do
            return data
        if marker == 0xDA:  # SOS without any DHT: inject Annex K here
            return data[:pos] + _annex_k_dht() + data[pos:]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        if seglen < 2 or pos + 2 + seglen > n:
            raise ValueError("JPEG segment truncated")
        pos += 2 + seglen
    raise ValueError("JPEG stream ended before SOS")
