"""PDF parse → interleaved (kind, text, media_ref, offset) spans, in pure
numpy/stdlib.

The north rule's ingestion front-end: "PDF/layout parse" feeding the
engine's interleaved text+media document model. A PDF *is* an
interleaved document — native text runs positioned by the text matrix,
with raster images (the scanned regions OCR handles) embedded as image
XObjects. This module parses the COS object layer (ISO 32000-1, public
spec): classic xref tables with /Prev chains, PDF 1.5 cross-reference
streams and /ObjStm compressed objects, the Flate (+ PNG predictors) /
LZW / RunLength / ASCII85 / ASCIIHex / DCT filter set, the page tree
with inherited resources, and enough of the content-stream operator set
(q/Q/cm, BT/ET, Tf/Td/TD/Tm/T*/TL, Tj/TJ/'/", Do with nested Form
XObjects, BI/ID/EI inline images) to recover positioned text runs and
placed images. Image XObjects cover DCT (JPEG, via this repo's
jpeg.py), raw gray/RGB, packed bilevel with /Decode, and CCITT G3/G4
fax (via fax.py) with /BlackIs1. Text decodes via latin-1 for simple
fonts (Standard/WinAnsi western invoices) and through the embedded
ToUnicode CMap (codespace ranges + bfchar/bfrange) for Type0/CID
composite fonts. Output spans are ordered by the same reading-order
discipline as the OCR side (top-to-bottom lines, left-to-right within
a line).

Type0 fonts WITHOUT a ToUnicode CMap decode through the embedded sfnt
font program's inverted cmap (cid → CIDToGIDMap → gid → unicode —
formats 4/12/6/0, the subset-font shape word processors emit).
Seams (loud): Type0 with a predefined (non-Identity) CMap and no
ToUnicode, no embedded sfnt, non-empty-user-password / public-key-handler
encryption (pdfcrypt.py covers the common owner-locked R2-R6 cases),
and unsupported codec variants inside JBIG2 (jbig2.py) / JPEG 2000
(jpeg2000.py) raise NotImplementedError naming the feature.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

from .kernels import _unfilter_png


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"{self.num} {self.gen} R"


class _Name(str):
    """PDF name object (/Foo) — distinct from strings."""


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.d, len(self.d)
        while self.pos < n:
            c = self.d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def peek(self) -> int:
        self._skip_ws()
        if self.pos >= len(self.d):
            raise ValueError("PDF object stream truncated")
        return self.d[self.pos]

    def _regular_token(self) -> bytes:
        self._skip_ws()
        start = self.pos
        d, n = self.d, len(self.d)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            raise ValueError(f"PDF syntax error at byte {start}")
        return d[start : self.pos]

    def obj(self):
        """Parse one object (dict/array/name/string/number/bool/null/ref)."""
        c = self.peek()
        d = self.d
        if c == 0x3C:  # < or <<
            if d[self.pos : self.pos + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == 0x28:
            return self._lit_string()
        if c == 0x5B:
            return self._array()
        if c == 0x2F:
            return self._name()
        tok = self._regular_token()
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — possibly the start of "num gen R"
        try:
            if b"." in tok:
                return float(tok)
            num = int(tok)
        except ValueError as e:
            raise ValueError(f"unexpected PDF token {tok!r}") from e
        save = self.pos
        try:
            tok2 = self._peek_regular()
            if tok2 is not None and tok2.isdigit():
                gen = int(tok2)
                tok3 = self._peek_regular()
                if tok3 == b"R":
                    return _Ref(num, gen)
        except ValueError:
            pass
        self.pos = save
        return num

    def _peek_regular(self):
        self._skip_ws()
        if self.pos >= len(self.d) or self.d[self.pos] in _DELIM:
            return None
        return self._regular_token()

    def _name(self) -> _Name:
        self.pos += 1  # /
        start = self.pos
        d, n = self.d, len(self.d)
        out = bytearray()
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            c = d[self.pos]
            if c == 0x23 and self.pos + 2 < n:  # #xx escape
                out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                self.pos += 3
            else:
                out.append(c)
                self.pos += 1
        del start
        return _Name(out.decode("latin-1"))

    def _lit_string(self) -> bytes:
        self.pos += 1  # (
        out = bytearray()
        depth = 1
        d, n = self.d, len(self.d)
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash
                if self.pos >= n:
                    break
                e = d[self.pos]
                self.pos += 1
                esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
                       0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
                if e in esc:
                    out.append(esc[e])
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = e - 0x30
                    for _ in range(2):
                        if self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                            val = val * 8 + (d[self.pos] - 0x30)
                            self.pos += 1
                    out.append(val & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
        raise ValueError("unterminated PDF string")

    def _hex_string(self) -> bytes:
        self.pos += 1  # <
        hexd = []
        d, n = self.d, len(self.d)
        while self.pos < n and d[self.pos] != 0x3E:
            c = d[self.pos]
            if c not in _WS:
                hexd.append(chr(c))
            self.pos += 1
        if self.pos >= n:
            raise ValueError("unterminated PDF hex string")
        self.pos += 1
        if len(hexd) % 2:
            hexd.append("0")
        try:
            return bytes.fromhex("".join(hexd))
        except ValueError as e:
            raise ValueError(f"invalid PDF hex string: {e}") from e

    def _array(self) -> list:
        self.pos += 1  # [
        out = []
        while True:
            c = self.peek()
            if c == 0x5D:
                self.pos += 1
                return out
            out.append(self.obj())

    def _dict(self) -> dict:
        self.pos += 2  # <<
        out = {}
        while True:
            c = self.peek()
            if self.d[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            if c != 0x2F:
                raise ValueError("PDF dict key must be a name")
            key = self._name()
            out[str(key)] = self.obj()

    def keyword(self) -> bytes:
        self._skip_ws()
        return self._regular_token()


class PdfDocument:
    """Random-access COS layer: xref resolution + object cache."""

    def __init__(self, data: bytes, password: bytes = b""):
        self.d = data
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF file")
        self.xref: dict[int, tuple] = {}  # num → ('f', offset) | ('c', stmnum, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._crypt = None
        self._crypt_skip: set[int] = set()
        try:
            self._load_xref()
        except (ValueError, struct.error, zlib.error):
            self._rebuild_xref()
        if not self.xref or "Root" not in self.trailer:
            self._rebuild_xref()
        if "Encrypt" in self.trailer:
            from .pdfcrypt import StandardSecurityHandler

            encref = self.trailer["Encrypt"]
            if isinstance(encref, _Ref):
                # the /Encrypt dictionary's own strings (O, U, OE, UE,
                # Perms) are never encrypted — exempt the object
                self._crypt_skip.add(encref.num)
            enc = self._resolve(encref)
            if not isinstance(enc, dict):
                raise ValueError("PDF /Encrypt is not a dictionary")
            ids = self._resolve(self.trailer.get("ID"))
            id0 = b""
            if isinstance(ids, list) and ids:
                id0 = bytes(self._resolve(ids[0]))
            self._crypt = StandardSecurityHandler(
                enc, id0, self._resolve, password=password)
            # anything fetched before the handler existed (e.g. during a
            # damaged-xref rebuild) was cached undecrypted — flush it
            self._cache.clear()
        if "Root" not in self.trailer:
            raise ValueError("PDF trailer missing /Root")

    # -- xref ----------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.d[-2048:]
        ms = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not ms:
            raise ValueError("PDF missing startxref")
        off = int(ms[-1].group(1))
        seen = set()
        while off and off not in seen:
            seen.add(off)
            off = self._load_xref_section(off)

    def _load_xref_section(self, off: int) -> int:
        if off >= len(self.d):
            raise ValueError("PDF xref offset out of bounds")
        lex = _Lexer(self.d, off)
        if self.d[off : off + 4] == b"xref":
            lex.pos += 4
            while True:
                lex._skip_ws()
                if self.d[lex.pos : lex.pos + 7] == b"trailer":
                    lex.pos += 7
                    trailer = lex.obj()
                    break
                start = int(lex._regular_token())
                count = int(lex._regular_token())
                lex._skip_ws()
                for i in range(count):
                    entry = self.d[lex.pos : lex.pos + 20]
                    if len(entry) < 18:
                        raise ValueError("PDF xref entry truncated")
                    eoff, _gen, typ = entry[:10], entry[11:16], entry[17:18]
                    if typ == b"n" and (start + i) not in self.xref:
                        self.xref[start + i] = ("f", int(eoff))
                    lex.pos += 20
        else:
            # PDF 1.5 cross-reference stream
            num = int(lex._regular_token())
            int(lex._regular_token())
            if lex.keyword() != b"obj":
                raise ValueError("bad xref stream object header")
            d = lex.obj()
            if d.get("Type") != "XRef":
                raise ValueError("xref stream is not /XRef")
            raw = self._read_stream_at(lex, d)
            data = _apply_filters(raw, d, self._resolve)
            w = [int(x) for x in d["W"]]
            index = d.get("Index", [0, d["Size"]])
            rowlen = sum(w)
            pos = 0
            for k in range(0, len(index), 2):
                first, cnt = int(index[k]), int(index[k + 1])
                for i in range(cnt):
                    row = data[pos : pos + rowlen]
                    if len(row) < rowlen:
                        raise ValueError("xref stream truncated")
                    pos += rowlen
                    fields = []
                    o = 0
                    for width in w:
                        fields.append(
                            int.from_bytes(row[o : o + width], "big") if width else 1
                        )
                        o += width
                    typ = fields[0]
                    objnum = first + i
                    if objnum in self.xref:
                        continue
                    if typ == 1:
                        self.xref[objnum] = ("f", fields[1])
                    elif typ == 2:
                        self.xref[objnum] = ("c", fields[1], fields[2])
            trailer = d
            del num
        if not isinstance(trailer, dict):
            raise ValueError("PDF trailer is not a dictionary")
        for k, v in trailer.items():
            self.trailer.setdefault(k, v)
        prev = trailer.get("Prev")
        return int(prev) if prev is not None else 0

    def _rebuild_xref(self) -> None:
        """Scan fallback for damaged xref tables: find every 'N G obj'."""
        self.xref = {k: v for k, v in self.xref.items() if v[0] == "c"}
        for m in re.finditer(rb"(\d+)\s+(\d+)\s+obj\b", self.d):
            self.xref[int(m.group(1))] = ("f", m.start())
        if "Root" not in self.trailer:
            for m in re.finditer(rb"trailer", self.d):
                try:
                    lex = _Lexer(self.d, m.end())
                    t = lex.obj()
                    for k, v in t.items():
                        self.trailer.setdefault(k, v)
                except ValueError:
                    continue
        if "Root" not in self.trailer:
            # last resort: any object with /Type /Catalog
            for num in self.xref:
                try:
                    o = self.get(num)
                except (ValueError, NotImplementedError):
                    continue
                if isinstance(o, dict) and o.get("Type") == "Catalog":
                    self.trailer["Root"] = _Ref(num, 0)
                    break

    # -- objects -------------------------------------------------------

    def _resolve(self, o):
        while isinstance(o, _Ref):
            o = self.get(o.num)
        return o

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None:
            return None
        self._cache[num] = None  # cycle guard
        if entry[0] == "f":
            lex = _Lexer(self.d, entry[1])
            got = int(lex._regular_token())
            gen = int(lex._regular_token())
            if lex.keyword() != b"obj" or got != num:
                raise ValueError(f"PDF object {num} not at its xref offset")
            obj = lex.obj()
            lex._skip_ws()
            if self._crypt is not None and num not in self._crypt_skip:
                obj = self._decrypt_strings(obj, num, gen)
            if self.d[lex.pos : lex.pos + 6] == b"stream":
                raw = self._read_stream_at(lex, obj)
                if self._crypt is not None and self._stream_encrypted(obj, num):
                    raw = self._crypt.decrypt_stream(raw, num, gen)
                obj = _Stream(obj, raw)
        else:  # compressed in an object stream
            _tag, stm_num, idx = entry
            stm = self._resolve(self.get(stm_num))
            if not isinstance(stm, _Stream) or stm.dict.get("Type") != "ObjStm":
                raise ValueError(f"PDF object {num} points into a non-ObjStm")
            data = _apply_filters(stm.raw, stm.dict, self._resolve)
            n = int(self._resolve(stm.dict["N"]))
            first = int(self._resolve(stm.dict["First"]))
            head = _Lexer(data, 0)
            pairs = [(int(head._regular_token()), int(head._regular_token()))
                     for _ in range(n)]
            if idx >= n or pairs[idx][0] != num:
                raise ValueError(f"PDF ObjStm index mismatch for object {num}")
            obj = _Lexer(data, first + pairs[idx][1]).obj()
        self._cache[num] = obj
        return obj

    def _decrypt_strings(self, o, num: int, gen: int):
        """Decrypt every literal/hex string in a top-level object tree.
        Strings inside ObjStm payloads are NOT individually encrypted
        (the container stream was), so only the 'f' fetch path calls
        this.  _Name is a str subclass and passes through untouched."""
        if isinstance(o, bytes):
            return self._crypt.decrypt_string(o, num, gen)
        if isinstance(o, list):
            return [self._decrypt_strings(v, num, gen) for v in o]
        if isinstance(o, dict):
            return {k: self._decrypt_strings(v, num, gen) for k, v in o.items()}
        return o

    def _stream_encrypted(self, d: dict, num: int) -> bool:
        """Streams the default stream crypt filter does NOT cover:
        cross-reference streams (never encrypted), the exempted
        /Encrypt object, XMP metadata when EncryptMetadata is false,
        and streams naming their own /Crypt filter (Identity passes
        through; a named filter is a loud seam)."""
        if num in self._crypt_skip:
            return False
        typ = d.get("Type")
        if typ == "XRef":
            return False
        if typ == "Metadata" and not self._crypt.encrypt_metadata:
            return False
        filt = self._resolve(d.get("Filter"))
        filters = filt if isinstance(filt, list) else [filt]
        if any(str(self._resolve(f)) == "Crypt" for f in filters if f is not None):
            parms = self._resolve(d.get("DecodeParms"))
            parms = parms if isinstance(parms, dict) else {}
            name = str(self._resolve(parms.get("Name", "Identity")))
            if name == "Identity":
                return False
            raise NotImplementedError(f"PDF per-stream crypt filter {name!r}")
        return True

    def _read_stream_at(self, lex: _Lexer, d: dict) -> bytes:
        lex._skip_ws()
        if self.d[lex.pos : lex.pos + 6] != b"stream":
            raise ValueError("PDF stream keyword missing")
        lex.pos += 6
        if self.d[lex.pos : lex.pos + 2] == b"\r\n":
            lex.pos += 2
        elif self.d[lex.pos : lex.pos + 1] in (b"\n", b"\r"):
            lex.pos += 1
        length = self._resolve(d.get("Length"))
        if not isinstance(length, int):
            end = self.d.find(b"endstream", lex.pos)
            if end < 0:
                raise ValueError("PDF stream missing endstream")
            length = end - lex.pos
        raw = self.d[lex.pos : lex.pos + length]
        if len(raw) < length:
            raise ValueError("PDF stream truncated")
        return raw


class _Stream:
    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """PNG predictors (Predictor >= 10): each row is a filter-type byte plus
    ceil(Colors*BPC*Columns/8) bytes, filtered at a distance of
    ceil(Colors*BPC/8) bytes (at least 1). A short final row is undone as
    far as it goes."""
    if min(colors, bpc, columns) < 1:
        raise ValueError("PDF PNG predictor needs positive Colors, BitsPerComponent, Columns")
    rb = (colors * bpc * columns + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    h = -(-len(data) // (1 + rb))
    buf = np.zeros(h * (1 + rb), np.uint8)
    buf[: len(data)] = np.frombuffer(data, np.uint8)
    n_out = len(data) - h  # every started row carries one filter byte
    return _unfilter_png(buf, h, rb, bpp).tobytes()[:n_out]


def _unpredict(raw: bytes, p: dict, resolve) -> bytes:
    """Predictor post-pass shared by FlateDecode and LZWDecode."""
    pred = int(resolve(p.get("Predictor", 1)))
    if pred == 1:
        return raw
    if pred >= 10:
        return _png_unpredict(
            raw,
            int(resolve(p.get("Colors", 1))),
            int(resolve(p.get("BitsPerComponent", 8))),
            int(resolve(p.get("Columns", 1))),
        )
    raise NotImplementedError(f"PDF TIFF predictor {pred}")


def _rle_decode(raw: bytes) -> bytes:
    """RunLengthDecode (ISO 32000-1 §7.4.5) — PackBits with an explicit
    128 EOD marker."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        l = raw[i]
        i += 1
        if l == 128:
            return bytes(out)
        if l < 128:
            chunk = raw[i : i + l + 1]
            if len(chunk) < l + 1:
                raise ValueError("PDF RunLength literal truncated")
            out += chunk
            i += l + 1
        else:
            if i >= n:
                raise ValueError("PDF RunLength repeat truncated")
            out += raw[i : i + 1] * (257 - l)
            i += 1
    raise ValueError("PDF RunLength stream missing EOD")


def _a85_decode(raw: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): base-85 groups, 'z' shorthand, '~>' EOD."""
    txt = bytes(c for c in raw.split(b"~>")[0] if c not in _WS)
    if txt.startswith(b"<~"):
        txt = txt[2:]
    out = bytearray()
    group: list[int] = []
    for c in txt:
        if c == 0x7A:  # 'z' = four zero bytes, only legal between groups
            if group:
                raise ValueError("PDF ASCII85 'z' inside group")
            out += b"\0\0\0\0"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError(f"PDF ASCII85 byte {c} out of range")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("PDF ASCII85 group overflow")
            out += v.to_bytes(4, "big")
            group = []
    if len(group) == 1:
        raise ValueError("PDF ASCII85 dangling single digit")
    if group:
        k = len(group)
        v = 0
        for g in group + [84] * (5 - k):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _apply_filters(raw: bytes, d: dict, resolve) -> bytes:
    filters = resolve(d.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(d.get("DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    for f, p in zip(filters, parms):
        f = str(resolve(f))
        p = resolve(p) or {}
        if f == "FlateDecode":
            try:
                raw = zlib.decompress(raw)
            except zlib.error as e:
                raise ValueError(f"PDF Flate stream corrupt: {e}") from e
            raw = _unpredict(raw, p, resolve)
        elif f == "LZWDecode":
            # PDF LZW with EarlyChange=1 (the default) is byte-identical
            # to the TIFF §13 variant bmptiff implements; EarlyChange=0
            # shifts the code-width bump by one table entry
            early = int(resolve(p.get("EarlyChange", 1)))
            if early not in (0, 1):
                raise ValueError(f"PDF LZW EarlyChange={early} invalid")
            from .bmptiff import _lzw_decode

            raw = _unpredict(_lzw_decode(raw, early=early), p, resolve)
        elif f == "RunLengthDecode":
            raw = _rle_decode(raw)
        elif f == "ASCII85Decode":
            raw = _a85_decode(raw)
        elif f == "ASCIIHexDecode":
            txt = raw.split(b">")[0]
            txt = bytes(c for c in txt if c not in _WS)
            if len(txt) % 2:
                txt += b"0"
            raw = bytes.fromhex(txt.decode("ascii", "replace"))
        elif f == "DCTDecode":
            return raw  # JPEG bytes — handed to the image layer as-is
        elif f == "Crypt":
            continue  # handled (or exempted) by the security layer
        else:
            raise NotImplementedError(f"PDF filter {f} unsupported")
    return raw


# --------------------------------------------------------------------------
# Content-stream interpretation → positioned runs
# --------------------------------------------------------------------------


def _mat_mul(a, b):
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _parse_tounicode(data: bytes):
    """Parse a ToUnicode CMap (Adobe CMap/PostScript syntax, the public
    9.10.3 subset): codespace ranges fix the code-unit byte widths,
    bfchar/bfrange map codes to UTF-16BE strings."""
    lex = _Lexer(data, 0)
    stack: list = []
    widths: set[int] = set()
    chars: dict[tuple[int, int], str] = {}
    ranges: list[tuple[int, int, int, int, int]] = []
    n = len(data)
    while True:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = data[lex.pos]
        if c in b"/[(<" or 0x30 <= c <= 0x39 or c in b"+-.":
            try:
                stack.append(lex.obj())
            except (ValueError, NotImplementedError):
                lex.pos += 1
            continue
        kw = lex.keyword()
        if kw == b"endcodespacerange":
            for i in range(0, len(stack) - 1, 2):
                lo = stack[i]
                if isinstance(lo, bytes) and lo:
                    widths.add(len(lo))
            stack.clear()
        elif kw == b"endbfchar":
            for i in range(0, len(stack) - 1, 2):
                src, dst = stack[i], stack[i + 1]
                if isinstance(src, bytes) and isinstance(dst, bytes) and src:
                    chars[(len(src), int.from_bytes(src, "big"))] = dst.decode(
                        "utf-16-be", "replace"
                    )
            stack.clear()
        elif kw == b"endbfrange":
            for i in range(0, len(stack) - 2, 3):
                lo, hi, dst = stack[i : i + 3]
                if not (isinstance(lo, bytes) and isinstance(hi, bytes) and lo):
                    continue
                w = len(lo)
                lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
                if isinstance(dst, list):
                    for k, d in enumerate(dst):
                        if isinstance(d, bytes) and lo_i + k <= hi_i:
                            chars[(w, lo_i + k)] = d.decode("utf-16-be", "replace")
                elif isinstance(dst, bytes) and dst:
                    ranges.append(
                        (w, lo_i, hi_i, int.from_bytes(dst, "big"), len(dst))
                    )
            stack.clear()
        elif kw in (b"begincodespacerange", b"beginbfchar", b"beginbfrange"):
            stack.clear()
        # other CMap/PostScript operators (def, begincmap, usecmap, …)
        # reset the operand stack like a content-stream op would
        elif kw not in (b"",):
            stack.clear()
    return (widths or {2}), chars, ranges


def _cmap_decoder(widths, chars, ranges):
    order = sorted(widths)

    def dec(b: bytes) -> str:
        out: list[str] = []
        i, n = 0, len(b)
        while i < n:
            hit = False
            for w in order:
                if i + w > n:
                    continue
                code = int.from_bytes(b[i : i + w], "big")
                s = chars.get((w, code))
                if s is None:
                    for rw, lo, hi, dlo, dbytes in ranges:
                        if rw == w and lo <= code <= hi:
                            v = dlo + (code - lo)
                            s = v.to_bytes(max(dbytes, 2), "big").decode(
                                "utf-16-be", "replace"
                            )
                            break
                if s is not None:
                    out.append(s)
                    i += w
                    hit = True
                    break
            if not hit:
                out.append("�")
                i += order[0]
        return "".join(out)

    return dec


def _ttf_cmap_gid_to_unicode(ttf: bytes) -> dict[int, str]:
    """Invert an sfnt font program's 'cmap' table into gid → unicode.

    Subset fonts embedded without a ToUnicode CMap still carry the
    character map their producer built the subset FROM; real
    extractors recover text by walking cid → gid → (inverted cmap) →
    unicode. Handles formats 4 (segmented BMP), 12 (segmented
    coverage), 6 (trimmed) and 0 (byte); subtables tried in Unicode-
    preference order; the LOWEST codepoint mapping to a gid wins.
    (3,0) symbol subtables unmask the 0xF000 page."""
    if len(ttf) < 12 or ttf[:4] not in (
        b"\x00\x01\x00\x00", b"true", b"OTTO"
    ):
        raise ValueError("not an sfnt font program")
    ntab = struct.unpack(">H", ttf[4:6])[0]
    cmap_off = None
    for i in range(ntab):
        rec = ttf[12 + 16 * i : 28 + 16 * i]
        if rec[:4] == b"cmap":
            cmap_off = struct.unpack(">I", rec[8:12])[0]
            break
    if cmap_off is None or cmap_off + 4 > len(ttf):
        raise ValueError("font program has no cmap table")
    nsub = struct.unpack(">H", ttf[cmap_off + 2 : cmap_off + 4])[0]
    subs = {}
    for i in range(nsub):
        pid, eid, off = struct.unpack(
            ">HHI", ttf[cmap_off + 4 + 8 * i : cmap_off + 12 + 8 * i]
        )
        subs[(pid, eid)] = cmap_off + off
    order = [(3, 10), (0, 4), (0, 6), (3, 1), (0, 3), (0, 2), (0, 1),
             (0, 0), (3, 0)]
    uni2gid: dict[int, int] = {}
    for key in order:
        off = subs.get(key)
        if off is None or off + 2 > len(ttf):
            continue
        fmt = struct.unpack(">H", ttf[off : off + 2])[0]
        if fmt == 4:
            seg2 = struct.unpack(">H", ttf[off + 6 : off + 8])[0]
            segs = seg2 // 2
            ends = struct.unpack(f">{segs}H",
                                 ttf[off + 14 : off + 14 + seg2])
            p = off + 16 + seg2
            starts = struct.unpack(f">{segs}H", ttf[p : p + seg2])
            p += seg2
            deltas = struct.unpack(f">{segs}H", ttf[p : p + seg2])
            p += seg2
            ro_base = p
            ros = struct.unpack(f">{segs}H", ttf[p : p + seg2])
            for si in range(segs):
                if starts[si] == 0xFFFF:
                    continue
                for c in range(starts[si], ends[si] + 1):
                    if ros[si] == 0:
                        g = (c + deltas[si]) & 0xFFFF
                    else:
                        gp = (ro_base + 2 * si + ros[si]
                              + 2 * (c - starts[si]))
                        if gp + 2 > len(ttf):
                            continue
                        g = struct.unpack(">H", ttf[gp : gp + 2])[0]
                        if g:
                            g = (g + deltas[si]) & 0xFFFF
                    if g:
                        uni2gid.setdefault(c, g)
        elif fmt == 12:
            ngroups = struct.unpack(">I", ttf[off + 12 : off + 16])[0]
            for gi in range(ngroups):
                sc, ec, sg = struct.unpack(
                    ">III", ttf[off + 16 + 12 * gi : off + 28 + 12 * gi]
                )
                for c in range(sc, min(ec, sc + 0x10000) + 1):
                    uni2gid.setdefault(c, sg + (c - sc))
        elif fmt == 6:
            first, cnt = struct.unpack(">HH", ttf[off + 6 : off + 10])
            gids = struct.unpack(f">{cnt}H",
                                 ttf[off + 10 : off + 10 + 2 * cnt])
            for j, g in enumerate(gids):
                if g:
                    uni2gid.setdefault(first + j, g)
        elif fmt == 0:
            for c, g in enumerate(ttf[off + 6 : off + 262]):
                if g:
                    uni2gid.setdefault(c, g)
        if uni2gid:
            if key == (3, 0):
                uni2gid = {
                    (c & 0xFF if 0xF000 <= c <= 0xF0FF else c): g
                    for c, g in uni2gid.items()
                }
            break
    if not uni2gid:
        raise ValueError("font cmap has no usable subtable")
    inv: dict[int, str] = {}
    for c in sorted(uni2gid):
        inv.setdefault(uni2gid[c], chr(c))
    return inv


def _cid_fontprogram_decoder(doc: PdfDocument, font: dict):
    """Type0 WITHOUT ToUnicode: decode through the embedded font
    program's own cmap — cid → gid (CIDToGIDMap, default Identity) →
    unicode (inverted sfnt cmap). Requires an Identity-H/V encoding
    (predefined CMaps stay loud) and an sfnt FontFile2/FontFile3."""
    enc = font.get("Encoding")
    if enc not in ("Identity-H", "Identity-V"):
        raise NotImplementedError(
            f"PDF Type0 font with predefined CMap {enc!r} and no "
            "ToUnicode unsupported"
        )
    df = doc._resolve(font.get("DescendantFonts"))
    desc = doc._resolve(df[0]) if isinstance(df, list) and df else None
    fd = doc._resolve(desc.get("FontDescriptor")) if desc else None
    ff = None
    if fd:
        for k in ("FontFile2", "FontFile3"):
            cand = doc._resolve(fd.get(k))
            if isinstance(cand, _Stream):
                ff = cand
                break
    if ff is None:
        raise NotImplementedError(
            "PDF Type0/CID font without a ToUnicode CMap or an "
            "embedded sfnt font program unsupported"
        )
    ttf = _apply_filters(ff.raw, ff.dict, doc._resolve)
    gid2uni = _ttf_cmap_gid_to_unicode(ttf)
    c2g = doc._resolve(desc.get("CIDToGIDMap")) if desc else None
    cid2gid = None
    if isinstance(c2g, _Stream):
        raw = _apply_filters(c2g.raw, c2g.dict, doc._resolve)
        cid2gid = [
            int.from_bytes(raw[i : i + 2], "big")
            for i in range(0, len(raw) - 1, 2)
        ]
    elif c2g not in (None, "Identity"):
        raise NotImplementedError(
            f"PDF CIDToGIDMap {c2g!r} unsupported"
        )

    def dec(b: bytes) -> str:
        out = []
        for i in range(0, len(b) - 1, 2):
            cid = int.from_bytes(b[i : i + 2], "big")
            gid = (cid2gid[cid] if cid2gid is not None
                   and cid < len(cid2gid) else cid)
            out.append(gid2uni.get(gid, "�"))
        return "".join(out)

    return dec


# Adobe Glyph List core subset (the names real subset fonts and
# pdfTeX /Differences arrays actually use): ASCII punctuation names,
# Latin-1 accents, typographic punctuation, ligatures, currency.
# Letters/digits whose glyph name IS the character resolve in code.
_AGL_CORE = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "fraction": "⁄",
    "minus": "−", "fi": "ﬁ", "fl": "ﬂ",
    "florin": "ƒ", "circumflex": "ˆ", "caron": "ˇ",
    "tilde": "˜", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "ogonek": "˛", "hungarumlaut": "˝",
    "macron": "¯", "cedilla": "¸", "dieresis": "¨",
    "acute": "´", "exclamdown": "¡", "cent": "¢",
    "sterling": "£", "currency": "¤", "yen": "¥",
    "brokenbar": "¦", "section": "§",
    "copyright": "©", "ordfeminine": "ª",
    "guillemotleft": "«", "logicalnot": "¬",
    "registered": "®", "degree": "°",
    "plusminus": "±", "twosuperior": "²",
    "threesuperior": "³", "mu": "µ", "paragraph": "¶",
    "periodcentered": "·", "onesuperior": "¹",
    "ordmasculine": "º", "guillemotright": "»",
    "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "multiply": "×", "divide": "÷", "euro": "€",
    "trademark": "™", "Euro": "€",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
    "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
    "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
    "Eacute": "É", "Ecircumflex": "Ê",
    "Edieresis": "Ë", "Igrave": "Ì", "Iacute": "Í",
    "Icircumflex": "Î", "Idieresis": "Ï", "Eth": "Ð",
    "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
    "Ocircumflex": "Ô", "Otilde": "Õ",
    "Odieresis": "Ö", "Oslash": "Ø", "Ugrave": "Ù",
    "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ",
    "germandbls": "ß", "agrave": "à", "aacute": "á",
    "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "aring": "å", "ae": "æ",
    "ccedilla": "ç", "egrave": "è", "eacute": "é",
    "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
    "otilde": "õ", "odieresis": "ö", "oslash": "ø",
    "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "thorn": "þ",
    "ydieresis": "ÿ", "dotlessi": "ı", "OE": "Œ",
    "oe": "œ", "Scaron": "Š", "scaron": "š",
    "Ydieresis": "Ÿ", "Zcaron": "Ž", "zcaron": "ž",
    "Lslash": "Ł", "lslash": "ł",
}


def _glyph_to_unicode(name: str) -> str | None:
    """AGL-style glyph name → unicode: single-char names are literal,
    uniXXXX[XXXX] / uXXXX..XXXXXX parse directly, the rest via the
    core AGL subset. None when unknown (caller keeps its base map)."""
    if len(name) == 1:
        return name
    if name.startswith("uni") and len(name) >= 7:
        try:
            return "".join(
                chr(int(name[i : i + 4], 16))
                for i in range(3, len(name) - 3, 4)
            )
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return _AGL_CORE.get(name)


def _base_encoding_table(name) -> list:
    """256-entry code→str table for a named simple-font base encoding
    (9.6.6): WinAnsi is cp1252 (the 0x80-0x9F typographic block real
    office output uses), MacRoman the classic Mac set; anything else
    keeps the latin-1 default. Codes undefined in the codec keep
    their latin-1 character."""
    codec = {"WinAnsiEncoding": "cp1252",
             "MacRomanEncoding": "mac_roman"}.get(name)
    table = [chr(i) for i in range(256)]
    if codec:
        for i in range(256):
            try:
                table[i] = bytes([i]).decode(codec)
            except UnicodeDecodeError:
                pass
    return table


def _differences_decoder(doc: PdfDocument, diffs: list,
                         base=None):
    """Simple-font /Encoding /Differences (9.6.6): integers set the
    current code, names remap it — resolved through the AGL core /
    uniXXXX forms; unknown names keep the base-encoding entry so the
    common re-encoded-subset case degrades no worse than before."""
    table = list(base) if base else [chr(i) for i in range(256)]
    code = 0
    for item in diffs:
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, str):
            if 0 <= code < 256:
                u = _glyph_to_unicode(item)
                if u is not None:
                    table[code] = u
            code += 1
    return lambda b: "".join(table[x] for x in b)


def _font_decoder(doc: PdfDocument, font: dict | None):
    """Per-font bytes→str decoder, built once at Tf time.

    Any font with a ToUnicode CMap decodes through it (the reference's
    text model is Unicode strings, so ToUnicode IS the authoritative
    map — simple fonts carry 1-byte codespaces, Type0 2-byte). Type0
    WITHOUT one falls back to the embedded font program's inverted
    cmap (_cid_fontprogram_decoder); simple fonts fall back to their
    /Encoding /Differences array (AGL names), then latin-1."""
    if not font:
        return lambda b: b.decode("latin-1")

    def simple_fallback():
        enc = doc._resolve(font.get("Encoding"))
        if isinstance(enc, dict):
            base = _base_encoding_table(enc.get("BaseEncoding"))
            diffs = doc._resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                return _differences_decoder(doc, diffs, base=base)
            return lambda b: "".join(base[x] for x in b)
        if isinstance(enc, str):
            table = _base_encoding_table(enc)
            return lambda b: "".join(table[x] for x in b)
        return lambda b: b.decode("latin-1")

    tu = doc._resolve(font.get("ToUnicode"))
    if isinstance(tu, _Stream):
        cache = getattr(doc, "_cmap_cache", None)
        if cache is None:
            cache = doc._cmap_cache = {}
        key = id(tu)
        if key not in cache:
            cache[key] = _cmap_decoder(
                *_parse_tounicode(_apply_filters(tu.raw, tu.dict, doc._resolve))
            )
        if font.get("Subtype") == "Type0":
            return cache[key]
        # simple font with a (possibly partial) ToUnicode: unmapped
        # codes fall back to the encoding, the convention real
        # extractors use, instead of replacement chars
        base, fb = cache[key], simple_fallback()
        table = [
            base(bytes([c])) if base(bytes([c])) != "�"
            else fb(bytes([c]))
            for c in range(256)
        ]
        return lambda b: "".join(table[x] for x in b)
    if font.get("Subtype") == "Type0":
        return _cid_fontprogram_decoder(doc, font)
    return simple_fallback()


_INLINE_KEYS = {
    "W": "Width", "H": "Height", "BPC": "BitsPerComponent",
    "CS": "ColorSpace", "F": "Filter", "DP": "DecodeParms",
    "D": "Decode", "IM": "ImageMask", "L": "Length",
}
_INLINE_VALS = {
    "G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK",
    "I": "Indexed", "AHx": "ASCIIHexDecode", "A85": "ASCII85Decode",
    "LZW": "LZWDecode", "Fl": "FlateDecode", "RL": "RunLengthDecode",
    "CCF": "CCITTFaxDecode", "DCT": "DCTDecode",
}


def _inline_image(img_d: dict, content: bytes, start: int, resolve):
    """BI/ID/EI inline image (§8.9.7): expand abbreviated keys/values to a
    synthetic image-XObject stream and find the data extent.

    Returns (_Stream, end_pos) with end_pos just before the EI keyword."""
    d: dict = {}
    for k, v in img_d.items():
        k = _INLINE_KEYS.get(k, k)
        if isinstance(v, _Name):
            v = _Name(_INLINE_VALS.get(str(v), str(v)))
        elif isinstance(v, list):
            v = [_Name(_INLINE_VALS.get(str(x), str(x)))
                 if isinstance(x, _Name) else x for x in v]
        d[k] = v
    if d.get("ImageMask"):
        # stencil mask: 1-bit, default Decode [0 1] → sample 0 paints
        # (black), same convention as _bits_to_gray's default
        d.setdefault("BitsPerComponent", 1)
        d.setdefault("ColorSpace", _Name("DeviceGray"))
    if d.get("Filter") is None:
        w = int(resolve(d.get("Width", 0)))
        h = int(resolve(d.get("Height", 0)))
        bpc = int(resolve(d.get("BitsPerComponent", 8)))
        ncomp = 3 if resolve(d.get("ColorSpace")) == "DeviceRGB" else 1
        n = h * ((w * bpc * ncomp + 7) // 8)
        data = content[start : start + n]
        if len(data) < n:
            raise ValueError("PDF inline image data truncated")
        return _Stream(d, data), start + n
    if "Length" in d:
        n = int(resolve(d["Length"]))
        data = content[start : start + n]
        if len(data) < n:
            raise ValueError("PDF inline image data truncated")
        return _Stream(d, data), start + n
    # filtered without /L: scan for whitespace-delimited EI (the standard
    # reader heuristic; AHx/A85 payloads can never contain it)
    m = re.search(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)",
                  content[start:])
    if m is None:
        raise ValueError("PDF inline image missing EI")
    return _Stream(d, content[start : start + m.start()]), start + m.start()


def _interp_content(
    doc: PdfDocument, content: bytes, resources: dict, runs: list,
    images: list, ctm, depth: int = 0,
) -> None:
    if depth > 8:
        raise ValueError("PDF Form XObject nesting too deep")
    resolve = doc._resolve
    fonts = resolve(resources.get("Font")) or {}
    xobjects = resolve(resources.get("XObject")) or {}
    lex = _Lexer(content, 0)
    stack: list = []
    gstack: list = []
    tm = tlm = _ID
    leading = 0.0
    font_size = 0.0
    cur_dec = _font_decoder(doc, None)

    def show(b: bytes) -> None:
        x, y = tm[4] * ctm[0] + tm[5] * ctm[2] + ctm[4], tm[4] * ctm[1] + tm[5] * ctm[3] + ctm[5]
        txt = cur_dec(b)
        if txt:
            runs.append((x, y, font_size * tm[3], txt))

    def newline(ty: float) -> None:
        nonlocal tm, tlm
        tlm = _mat_mul((1, 0, 0, 1, 0, ty), tlm)
        tm = tlm

    while True:
        lex._skip_ws()
        if lex.pos >= len(content):
            break
        c = content[lex.pos]
        if c in b"/[(<" or c == 0x3C or (0x30 <= c <= 0x39) or c in b"+-.":
            stack.append(lex.obj())
            continue
        op = lex.keyword()
        if op == b"q":
            gstack.append(ctm)
        elif op == b"Q":
            ctm = gstack.pop() if gstack else ctm
        elif op == b"cm" and len(stack) >= 6:
            m = tuple(float(v) for v in stack[-6:])
            ctm = _mat_mul(m, ctm)
        elif op == b"BT":
            tm = tlm = _ID
        elif op == b"ET":
            pass
        elif op == b"Tf" and len(stack) >= 2:
            font_size = float(stack[-1])
            fname = str(stack[-2])
            cur_dec = _font_decoder(doc, resolve(fonts.get(fname)))
        elif op == b"TL" and stack:
            leading = float(stack[-1])
        elif op == b"Td" and len(stack) >= 2:
            tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
            tm = tlm
        elif op == b"TD" and len(stack) >= 2:
            leading = -float(stack[-1])
            tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
            tm = tlm
        elif op == b"Tm" and len(stack) >= 6:
            tm = tlm = tuple(float(v) for v in stack[-6:])
        elif op == b"T*":
            newline(-leading)
        elif op == b"Tj" and stack:
            show(stack[-1])
        elif op == b"'" and stack:
            newline(-leading)
            show(stack[-1])
        elif op == b'"' and len(stack) >= 3:
            newline(-leading)
            show(stack[-1])
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            parts = [p for p in stack[-1] if isinstance(p, bytes)]
            show(b"".join(parts))
        elif op == b"Do" and stack:
            xo = resolve(xobjects.get(str(stack[-1])))
            if isinstance(xo, _Stream):
                sub = doc._resolve(xo.dict.get("Subtype"))
                if sub == "Image":
                    images.append((ctm, xo))
                elif sub == "Form":
                    inner_res = resolve(xo.dict.get("Resources")) or resources
                    inner_ctm = ctm
                    mtx = resolve(xo.dict.get("Matrix"))
                    if mtx:
                        inner_ctm = _mat_mul(tuple(float(v) for v in mtx), ctm)
                    _interp_content(
                        doc, _apply_filters(xo.raw, xo.dict, resolve),
                        inner_res, runs, images, inner_ctm, depth + 1,
                    )
        elif op == b"BI":
            img_d: dict = {}
            while True:
                lex._skip_ws()
                if lex.pos >= len(content):
                    raise ValueError("PDF inline image truncated")
                if content[lex.pos] == 0x2F:
                    key = str(lex.obj())
                    img_d[key] = lex.obj()
                else:
                    if lex.keyword() != b"ID":
                        raise ValueError("PDF inline image: expected ID")
                    break
            stream, end = _inline_image(img_d, content, lex.pos + 1, resolve)
            images.append((ctm, stream))
            lex.pos = end  # the main loop consumes the trailing EI keyword
        if op not in (b"q", b"Q"):
            stack.clear()


def _bits_to_gray(bits: np.ndarray, decode, resolve) -> np.ndarray:
    """1-bit sample values → uint8 gray via the /Decode array (default
    [0 1]: sample 0 → black)."""
    d0, d1 = 0.0, 1.0
    if decode is not None:
        vals = [float(resolve(v)) for v in decode]
        if len(vals) != 2:
            raise ValueError("PDF bilevel Decode array must have 2 entries")
        d0, d1 = vals
    gray01 = d0 + (d1 - d0) * bits.astype(np.float32)
    return np.clip(np.rint(gray01 * 255.0), 0, 255).astype(np.uint8)


def _image_payload(doc: PdfDocument, stream: _Stream) -> bytes:
    """Image XObject → bytes decodable by kernels.decode_image."""
    d = stream.dict
    resolve = doc._resolve
    filters = resolve(d.get("Filter"))
    flist = [str(resolve(f)) for f in (filters if isinstance(filters, list)
                                       else [filters] if filters else [])]
    parms = resolve(d.get("DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(flist)
    w = int(resolve(d.get("Width", 0)))
    h = int(resolve(d.get("Height", 0)))
    bpc = int(resolve(d.get("BitsPerComponent", 8)))
    cs = resolve(d.get("ColorSpace"))
    from . import kernels as K

    if "DCTDecode" in flist:
        raw = stream.raw
        for f in flist:
            if f == "DCTDecode":
                break
            raise NotImplementedError(f"PDF image filter chain {flist}")
        return raw  # JPEG stream, decoded by jpeg.py downstream
    if "JPXDecode" in flist:
        # JPEG 2000: outer transport filters first, then the raw JP2 /
        # J2K payload rides to kernels.decode_image (jpeg2000.py)
        i = flist.index("JPXDecode")
        if i != len(flist) - 1:
            raise ValueError("JPXDecode must be the final filter")
        return _apply_filters(
            stream.raw, {"Filter": flist[:i], "DecodeParms": parms[:i]},
            resolve,
        )
    if "JBIG2Decode" in flist:
        # scanned-invoice bilevel: outer transport filters first, then the
        # embedded JBIG2 stream (+ optional shared /JBIG2Globals)
        i = flist.index("JBIG2Decode")
        if i != len(flist) - 1:
            raise ValueError("JBIG2Decode must be the final filter")
        raw = _apply_filters(
            stream.raw, {"Filter": flist[:i], "DecodeParms": parms[:i]}, resolve
        )
        p = resolve(parms[i]) or {}
        gstream = resolve(p.get("JBIG2Globals"))
        gdata = b""
        if gstream is not None:
            if not isinstance(gstream, _Stream):
                raise ValueError("JBIG2Globals is not a stream")
            gdata = _apply_filters(gstream.raw, gstream.dict, resolve)
        from .jbig2 import decode_jbig2

        bitmap = decode_jbig2(raw, gdata)
        if bitmap.shape != (h, w):
            raise ValueError("JBIG2 page dims disagree with image dims")
        # JBIG2 wire convention: 1 = black; PDF sample convention: 0 = black
        gray = _bits_to_gray(
            (1 - bitmap).astype(np.uint8), resolve(d.get("Decode")), resolve
        )
        return K.encode_synf(np.ascontiguousarray(gray))
    if "CCITTFaxDecode" in flist:
        # scanned-invoice bilevel: outer transport filters (A85/AHx) first,
        # then the fax payload through this repo's T.4/T.6 decoder (fax.py)
        i = flist.index("CCITTFaxDecode")
        if i != len(flist) - 1:
            raise ValueError("CCITTFaxDecode must be the final filter")
        raw = _apply_filters(
            stream.raw, {"Filter": flist[:i], "DecodeParms": parms[:i]}, resolve
        )
        p = resolve(parms[i]) or {}
        k = int(resolve(p.get("K", 0)))
        cols = int(resolve(p.get("Columns", 1728)))
        rows = int(resolve(p.get("Rows", h)))
        byte_align = bool(resolve(p.get("EncodedByteAlign", False)))
        if cols != w or rows != h:
            raise ValueError("CCITT Columns/Rows disagree with image dims")
        from .fax import decode_g4, decode_mh, decode_t4

        if k < 0:
            # G4 / T.6; EncodedByteAlign starts each coded line on a byte
            mask = decode_g4(raw, cols, rows, byte_align=byte_align)
        elif k == 0:
            # G3 1D MH: one continuous bitstream unless EncodedByteAlign
            # pads each row to a byte boundary (PDF 1.7 §7.4.6)
            mask = decode_mh(raw, cols, rows, row_align=byte_align)
        else:
            # G3 mixed 2D: EncodedByteAlign only pads fill bits before
            # each EOL, which the EOL scanner already absorbs
            mask = decode_t4(raw, cols, rows, two_d=True)
        # wire format: mask 1 = black; /BlackIs1 picks the decoded bit
        # value for black (default false → black = sample 0)
        black_is_1 = bool(resolve(p.get("BlackIs1", False)))
        bits = mask.astype(np.uint8) if black_is_1 else (1 - mask).astype(np.uint8)
        gray = _bits_to_gray(bits, resolve(d.get("Decode")), resolve)
        return K.encode_synf(np.ascontiguousarray(gray))
    raw = _apply_filters(stream.raw, d, resolve)
    model, palette = _resolve_colorspace(cs, resolve, _apply_filters)
    if bpc == 1 and model == "gray":
        row_bytes = (w + 7) // 8
        need = h * row_bytes
        if len(raw) < need:
            raise ValueError("PDF image data truncated")
        packed = np.frombuffer(raw[:need], np.uint8).reshape(h, row_bytes)
        bits = np.unpackbits(packed, axis=1)[:, :w]
        gray = _bits_to_gray(bits, resolve(d.get("Decode")), resolve)
        return K.encode_synf(np.ascontiguousarray(gray))
    if model == "tint":
        ncomp = palette[0]
    else:
        ncomp = {"gray": 1, "rgb": 3, "cmyk": 4, "indexed": 1, "lab": 3}[model]
    decode_vals = None
    decode = resolve(d.get("Decode"))
    if model in ("tint", "lab"):
        # these spaces carry their own sample→component mapping
        # (§8.9.5.2): tint defaults to [0 1] per ink, Lab to
        # [0 100 Range] — handled in _special_cs_gray, not the generic
        # byte-widening below
        if decode is not None:
            sp_dec = [float(resolve(v)) for v in decode]
            if len(sp_dec) != 2 * ncomp:
                raise ValueError(
                    f"PDF /Decode needs {2 * ncomp} entries for {model}, "
                    f"got {len(sp_dec)}"
                )
        elif model == "lab":
            rng = palette[1]
            sp_dec = [0.0, 100.0, rng[0], rng[1], rng[2], rng[3]]
        else:
            sp_dec = [0.0, 1.0] * ncomp
    elif decode is not None:
        vals = [float(resolve(v)) for v in decode]
        if len(vals) != 2 * ncomp:
            raise ValueError(
                f"PDF /Decode needs {2 * ncomp} entries for {model}, "
                f"got {len(vals)}"
            )
        hival = (1 << bpc) - 1 if model == "indexed" else 1
        ident = [0.0, float(hival)] * ncomp
        if vals != ident:
            if model == "indexed":
                # a remapped palette-index range is vanishingly rare and
                # ambiguous with fractional results — keep the loud seam
                raise NotImplementedError(
                    f"PDF /Decode {vals} on Indexed image unsupported"
                )
            decode_vals = vals
    if bpc not in (1, 2, 4, 8) or (bpc != 8 and ncomp != 1):
        raise NotImplementedError(
            f"PDF raw image bpc {bpc} x {ncomp} components unsupported"
        )
    if bpc == 8:
        need = w * h * ncomp
        px = np.frombuffer(raw[:need], np.uint8)
        if px.size < need:
            raise ValueError("PDF image data truncated")
        samples = px.reshape(h, w, ncomp)
    else:
        # sub-byte samples: rows pad to byte boundaries (PDF 1.7 §8.9.3)
        row_bytes = (w * bpc + 7) // 8
        need = h * row_bytes
        if len(raw) < need:
            raise ValueError("PDF image data truncated")
        packed = np.frombuffer(raw[:need], np.uint8).reshape(h, row_bytes)
        bits = np.unpackbits(packed, axis=1)[:, : w * bpc]
        weights = 1 << np.arange(bpc - 1, -1, -1, dtype=np.uint8)
        samples = (
            (bits.reshape(h, w, bpc) * weights).sum(axis=2).astype(np.uint8)
        )[..., None]
    if model in ("tint", "lab"):
        return K.encode_synf(np.ascontiguousarray(
            _special_cs_gray(model, palette, samples, bpc, sp_dec)))
    if decode_vals is not None:
        # per-component /Decode mapping (PDF 1.7 §8.9.5.2):
        # v -> Dmin + v*(Dmax-Dmin)/maxval, the [0,1] result widened to a
        # full-range byte (handles inverted [1 0] scans and narrowed ranges)
        maxv = float((1 << bpc) - 1)
        s = samples.astype(np.float32)
        for c in range(ncomp):
            d0, d1 = decode_vals[2 * c], decode_vals[2 * c + 1]
            s[..., c] = (d0 + s[..., c] * ((d1 - d0) / maxv)) * 255.0
        samples = np.clip(np.rint(s), 0, 255).astype(np.uint8)
        bpc = 8  # components are now full-range bytes
    if model == "indexed":
        base_model, pal = palette
        idx = samples[..., 0].astype(np.int64)
        nc = {"gray": 1, "rgb": 3, "cmyk": 4}[base_model]
        lut = np.frombuffer(pal, np.uint8)
        if idx.max(initial=0) >= len(lut) // nc:
            raise ValueError("PDF indexed sample exceeds palette")
        samples = lut.reshape(-1, nc)[idx]
        model = base_model
        bpc = 8  # palette entries are full-range bytes regardless of index width
    if model == "cmyk":
        s = samples.astype(np.float32)
        rgb = (255.0 - s[..., :3]) * (255.0 - s[..., 3:4]) / 255.0
        gray = K.rgb_to_gray(np.clip(np.rint(rgb), 0, 255).astype(np.uint8))
    elif model == "rgb":
        gray = K.rgb_to_gray(samples)
    else:
        g = samples[..., 0]
        if bpc != 8:  # scale 2/4-bit gray levels to full range
            g = (g.astype(np.uint16) * 255 // ((1 << bpc) - 1)).astype(np.uint8)
        gray = g
    return K.encode_synf(np.ascontiguousarray(gray))


def _special_cs_gray(model, info, samples, bpc, dec):
    """Tint-transform (Separation/DeviceN) and Lab image samples →
    grayscale. Samples arrive as raw (h, w, n) integers; ``dec`` maps
    them per component (§8.9.5.2 defaults handled by the caller). The
    tint transform — an arbitrary §7.10 function — is evaluated on the
    image's UNIQUE ink tuples only (np.unique + inverse scatter): a
    document scan carries few distinct inks, so the Python-level
    function evaluator never runs per pixel."""
    from . import kernels as K
    from .pdffunc import lab_to_rgb255

    maxv = float((1 << bpc) - 1)
    h, w, nc = samples.shape
    s = samples.reshape(-1, nc).astype(np.float64)
    comps = np.empty_like(s)
    for c in range(nc):
        d0, d1 = dec[2 * c], dec[2 * c + 1]
        comps[:, c] = d0 + s[:, c] * ((d1 - d0) / maxv)
    if model == "lab":
        wp, _rng = info
        return K.rgb_to_gray(lab_to_rgb255(comps.reshape(h, w, 3), wp))
    _n_in, alt_model, alt_info, tint = info
    uniq, inv = np.unique(comps, axis=0, return_inverse=True)
    if len(uniq) > 65536:
        raise NotImplementedError(
            "PDF tint-transform image with >65536 distinct ink tuples "
            "unsupported"
        )
    n_alt = {"gray": 1, "rgb": 3, "cmyk": 4, "lab": 3}[alt_model]
    outs = np.empty((len(uniq), n_alt), np.float64)
    for i, row in enumerate(uniq):
        v = tint(tuple(row))
        if len(v) != n_alt:
            raise ValueError(
                f"PDF tint transform returned {len(v)} components for "
                f"a {alt_model} alternate"
            )
        outs[i] = v
    alt = outs[inv].reshape(h, w, n_alt)
    if alt_model == "lab":
        wp, _rng = alt_info
        return K.rgb_to_gray(lab_to_rgb255(alt, wp))
    alt = np.clip(alt, 0.0, 1.0)
    if alt_model == "gray":
        return np.clip(np.rint(alt[..., 0] * 255.0), 0, 255).astype(np.uint8)
    if alt_model == "cmyk":
        # same over-white composite as the DeviceCMYK image path
        alt = (1.0 - alt[..., :3]) * (1.0 - alt[..., 3:4])
    return K.rgb_to_gray(
        np.clip(np.rint(alt * 255.0), 0, 255).astype(np.uint8))


def _resolve_colorspace(cs, resolve, apply_filters):
    """PDF /ColorSpace → ('gray'|'rgb'|'cmyk'|'indexed', palette_info).

    Handles the color spaces placed raster invoices actually use:
    Device*/Cal* families, ICCBased by component count /N (the profile
    itself is advisory for grayscale extraction), Indexed with a
    string or stream lookup over any of those bases, CIE Lab
    (WhitePoint + Range → ('lab', (whitepoint, decode_range))), and
    Separation / DeviceN whose tint transform (any §7.10 function type,
    pdffunc.make_function) maps ink values into a gray/rgb/cmyk/lab
    alternate → ('tint', (n_inks, alt_model, alt_info, callable)).
    Pattern stays the loud NotImplementedError seam (a paint-server,
    not an image colour space)."""
    cs = resolve(cs)
    if cs is None or cs in ("DeviceGray", "CalGray", "G"):
        return "gray", None
    if cs in ("DeviceRGB", "CalRGB", "RGB"):
        return "rgb", None
    if cs in ("DeviceCMYK", "CMYK"):
        return "cmyk", None
    if isinstance(cs, list) and cs:
        head = str(resolve(cs[0]))
        if head in ("CalGray",):
            return "gray", None
        if head in ("CalRGB",):
            return "rgb", None
        if head == "ICCBased":
            if len(cs) < 2:
                raise ValueError("ICCBased colorspace missing stream")
            st = resolve(cs[1])
            n = int(resolve(st.dict.get("N", 0))) if isinstance(st, _Stream) else 0
            if n == 1:
                return "gray", None
            if n == 3:
                return "rgb", None
            if n == 4:
                return "cmyk", None
            raise NotImplementedError(f"ICCBased colorspace N={n} unsupported")
        if head == "Lab":
            params = resolve(cs[1]) if len(cs) > 1 else {}
            if not isinstance(params, dict):
                raise ValueError("Lab colorspace needs a parameter dict")
            wp = [float(resolve(v))
                  for v in resolve(params.get("WhitePoint", [1.0, 1.0, 1.0]))]
            if len(wp) != 3 or wp[1] <= 0:
                raise ValueError("Lab WhitePoint malformed")
            rng = [float(resolve(v))
                   for v in resolve(params.get("Range",
                                               [-100.0, 100.0, -100.0, 100.0]))]
            if len(rng) != 4:
                raise ValueError("Lab Range malformed")
            return "lab", (wp, rng)
        if head in ("Separation", "DeviceN"):
            if len(cs) < 4:
                raise ValueError(f"{head} colorspace needs 4 entries")
            names = [cs[1]] if head == "Separation" else list(resolve(cs[1]))
            if not names:
                raise ValueError("DeviceN colorspace with no colorants")
            alt_model, alt_info = _resolve_colorspace(
                cs[2], resolve, apply_filters)
            if alt_model not in ("gray", "rgb", "cmyk", "lab"):
                raise ValueError(
                    f"{head} alternate space {alt_model} not a base space")
            from .pdffunc import make_function

            tint = make_function(resolve(cs[3]), resolve, apply_filters)
            return "tint", (len(names), alt_model, alt_info, tint)
        if head in ("Indexed", "I"):
            if len(cs) != 4:
                raise ValueError("Indexed colorspace needs 4 entries")
            base_model, base_pal = _resolve_colorspace(cs[1], resolve, apply_filters)
            if base_model == "indexed":
                raise ValueError("Indexed base cannot itself be Indexed")
            if base_model in ("lab", "tint"):
                raise NotImplementedError(
                    f"PDF Indexed over {base_model} base unsupported")
            lookup = resolve(cs[3])
            if isinstance(lookup, _Stream):
                pal = apply_filters(lookup.raw, lookup.dict, resolve)
            elif isinstance(lookup, bytes):
                pal = lookup
            elif isinstance(lookup, str):
                pal = lookup.encode("latin-1")
            else:
                raise ValueError("Indexed lookup must be string or stream")
            nc = {"gray": 1, "rgb": 3, "cmyk": 4}[base_model]
            hival = int(resolve(cs[2]))
            if len(pal) < nc * (hival + 1):
                raise ValueError("Indexed lookup shorter than hival implies")
            # trailing pad bytes beyond hival+1 entries are legal — trim so
            # the palette reshapes cleanly
            return "indexed", (base_model, pal[: nc * (hival + 1)])
    raise NotImplementedError(f"PDF color space {cs} unsupported")


def pdf_spans(data: bytes, line_tol: float = 2.0, password: bytes = b""):
    """Parse a PDF into the engine's interleaved span model.

    ``password`` opens password-protected files (tried as user, then
    owner — pdfcrypt.StandardSecurityHandler).

    Returns (spans, media): spans is a list of dicts (kind 'text' |
    'image', text, media_ref, offset) in reading order (pages in order;
    within a page top-to-bottom, left-to-right with line grouping at
    ``line_tol`` points); media maps media_ref → image payload bytes
    (JPEG or SYNF) for every placed image.

    Error contract (same as decode_image): corrupt input raises
    ValueError, unimplemented features raise NotImplementedError —
    never a bare structural exception."""
    try:
        return _pdf_spans(data, line_tol, password)
    except (ValueError, NotImplementedError):
        raise
    except (
        AttributeError,
        TypeError,
        KeyError,
        IndexError,
        OverflowError,
        RecursionError,
        MemoryError,
        UnicodeDecodeError,
        struct.error,
        zlib.error,
    ) as e:
        raise ValueError(f"corrupt PDF: {type(e).__name__}: {e}") from e


def _pdf_spans(data: bytes, line_tol: float, password: bytes = b""):
    doc = PdfDocument(data, password=password)
    root = doc._resolve(doc.trailer["Root"])
    if not isinstance(root, dict):
        raise ValueError("PDF catalog missing or not a dictionary")
    pages: list[dict] = []

    def walk(node, inherited):
        node = doc._resolve(node)
        if node is None:
            return
        merged = dict(inherited)
        for k in ("Resources", "MediaBox"):
            if k in node:
                merged[k] = node[k]
        typ = node.get("Type")
        if typ == "Pages" or "Kids" in node:
            for kid in doc._resolve(node.get("Kids")) or []:
                walk(kid, merged)
        else:
            pages.append({**node, **{k: v for k, v in merged.items() if k not in node}})

    walk(root.get("Pages"), {})
    if not pages:
        raise ValueError("PDF has no pages")
    spans: list[dict] = []
    media: dict[str, bytes] = {}
    offset = 0
    for pno, page in enumerate(pages):
        contents = doc._resolve(page.get("Contents"))
        streams = contents if isinstance(contents, list) else [contents]
        body = b"\n".join(
            _apply_filters(s.raw, s.dict, doc._resolve)
            for s in (doc._resolve(s) for s in streams)
            if isinstance(s, _Stream)
        )
        resources = doc._resolve(page.get("Resources")) or {}
        runs: list = []
        images: list = []
        _interp_content(doc, body, resources, runs, images, _ID)
        items: list[tuple[float, float, str, object]] = []
        for x, y, _sz, txt in runs:
            items.append((y, x, "text", txt))
        for ctm, stm in images:
            # placement rectangle: unit square through the CTM; anchor at
            # its top edge so reading order interleaves correctly
            ys = (ctm[5], ctm[1] + ctm[3] + ctm[5])
            items.append((max(ys), min(ctm[4], ctm[0] + ctm[2] + ctm[4]),
                          "image", stm))
        # reading order: descending y (PDF origin is bottom-left), line
        # grouping within tolerance, then ascending x
        items.sort(key=lambda t: (-t[0], t[1]))
        lines: list[list] = []
        for it in items:
            if lines and abs(lines[-1][0][0] - it[0]) <= line_tol:
                lines[-1].append(it)
            else:
                lines.append([it])
        for line in lines:
            line.sort(key=lambda t: t[1])
            for y, x, kind, payload in line:
                if kind == "text":
                    spans.append(
                        {"kind": "text", "text": payload, "media_ref": None,
                         "offset": offset}
                    )
                else:
                    ref = f"pdf:p{pno}:img{len(media)}"
                    media[ref] = _image_payload(doc, payload)
                    spans.append(
                        {"kind": "image", "text": None, "media_ref": ref,
                         "offset": offset}
                    )
                offset += 1
    # AcroForm field values (interactive invoices routinely carry the
    # totals/numbers in form fields rather than page content): walk the
    # field tree in document order and append one span per filled text
    # or choice/button value, after the page content (the fields have no
    # page-intrinsic reading position of their own)
    acro = doc._resolve(root.get("AcroForm"))
    if isinstance(acro, dict):
        def walk_fields(node, inherited_ft):
            node = doc._resolve(node)
            if not isinstance(node, dict):
                return
            ft = node.get("FT", inherited_ft)
            kids = doc._resolve(node.get("Kids"))
            if isinstance(kids, list) and kids:
                for kid in kids:
                    walk_fields(kid, ft)
                return
            v = doc._resolve(node.get("V"))
            if v is None:
                return
            if isinstance(v, bytes):
                if v[:2] == b"\xfe\xff":
                    txt = v[2:].decode("utf-16-be", "replace")
                else:
                    txt = v.decode("latin-1")
            elif isinstance(v, (str, int, float)):
                txt = str(v)  # /Btn and /Ch values arrive as names
            else:
                return
            name = doc._resolve(node.get("T"))
            if isinstance(name, bytes):
                name = name.decode("latin-1")
            nonlocal_offset = spans[-1]["offset"] + 1 if spans else 0
            spans.append(
                {"kind": "text",
                 "text": f"{name}: {txt}" if name else txt,
                 "media_ref": None, "offset": nonlocal_offset}
            )

        for f in doc._resolve(acro.get("Fields")) or []:
            walk_fields(f, None)
    return spans, media


# --------------------------------------------------------------------------
# Fixture encoder — same strategy as every codec in this repo: tests
# round-trip through an independent writer without external tools.
# --------------------------------------------------------------------------


def _esc_pdf_string(s: str) -> bytes:
    out = s.encode("latin-1")
    return out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def encode_pdf(
    pages: list[list[tuple]],
    compress: bool = True,
    use_objstm: bool = False,
    encrypt: str | None = None,
    user_pwd: bytes = b"",
    owner_pwd: bytes = b"",
) -> bytes:
    """Fixture-side PDF writer. Each page is a list of items:
    ``("text", x, y, size, s)`` or ``("image", x, y, w, h, payload,
    fmt)`` with fmt 'jpeg' (DCTDecode bytes) | 'gray' | 'rgb' (raw
    numpy array, Flate-compressed). ``use_objstm=True`` writes PDF 1.5
    compressed object streams + a cross-reference stream with PNG
    predictor 12 — the modern layout — instead of a classic xref
    table. ``encrypt`` applies the standard security handler
    ('rc4-40' | 'rc4-128' | 'aesv2' | 'aesv3') with ``user_pwd`` /
    ``owner_pwd`` (empty by default = the owner-locked layout)."""
    objs: dict[int, bytes] = {}  # full object bodies (without N 0 obj wrapper)
    is_stream: dict[int, bool] = {}
    next_num = 1

    def add(body: bytes, stream: bool = False) -> int:
        nonlocal next_num
        n = next_num
        next_num += 1
        objs[n] = body
        is_stream[n] = stream
        return n

    def stream_obj(data: bytes, extra: str = "") -> bytes:
        head = "<< " + extra + f" /Length {len(data)} >>"
        return head.encode() + b"\nstream\n" + data + b"\nendstream"

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_nums = []
    page_objs = []
    for items in pages:
        content_parts = []
        xobjects = {}
        for it in items:
            if it[0] == "text":
                _k, x, y, size, s = it
                content_parts.append(
                    b"BT /F1 %d Tf 1 0 0 1 %d %d Tm (%s) Tj ET"
                    % (size, int(x), int(y), _esc_pdf_string(s))
                )
            else:
                _k, x, y, w, h, payload, fmt = it
                if fmt == "jpeg":
                    body = stream_obj(
                        payload,
                        "/Type /XObject /Subtype /Image /Width 0 /Height 0 "
                        "/BitsPerComponent 8 /ColorSpace /DeviceGray "
                        "/Filter /DCTDecode",
                    )
                else:
                    arr = np.asarray(payload, np.uint8)
                    ih, iw = arr.shape[:2]
                    cs = "DeviceRGB" if fmt == "rgb" else "DeviceGray"
                    data = zlib.compress(arr.tobytes())
                    body = stream_obj(
                        data,
                        f"/Type /XObject /Subtype /Image /Width {iw} "
                        f"/Height {ih} /BitsPerComponent 8 /ColorSpace "
                        f"/{cs} /Filter /FlateDecode",
                    )
                n = add(body, stream=True)
                name = f"Im{len(xobjects)}"
                xobjects[name] = n
                content_parts.append(
                    b"q %d 0 0 %d %d %d cm /%s Do Q"
                    % (int(w), int(h), int(x), int(y), name.encode())
                )
        content = b"\n".join(content_parts)
        if compress:
            cbody = stream_obj(zlib.compress(content), "/Filter /FlateDecode")
        else:
            cbody = stream_obj(content, "")
        content_num = add(cbody, stream=True)
        xo = "".join(f"/{k} {v} 0 R " for k, v in xobjects.items())
        page_objs.append((content_num, xo))
    pages_num = next_num + len(page_objs)  # pages node comes after page objects
    for content_num, xo in page_objs:
        body = (
            f"<< /Type /Page /Parent {pages_num} 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> "
            f"/XObject << {xo}>> >> /Contents {content_num} 0 R >>"
        ).encode()
        page_nums.append(add(body))
    kids = " ".join(f"{n} 0 R" for n in page_nums)
    got_pages_num = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)} >>".encode()
    )
    assert got_pages_num == pages_num
    catalog_num = add(f"<< /Type /Catalog /Pages {got_pages_num} 0 R >>".encode())

    crypt = None
    enc_num = None
    trailer_extra = b""
    if encrypt is not None:
        from .pdfcrypt import make_encryptor

        id0 = bytes.fromhex("0123456789abcdef0123456789abcdef")
        enc_body, crypt = make_encryptor(
            encrypt, id0, user_pwd=user_pwd, owner_pwd=owner_pwd)
        enc_num = add(enc_body)
        # the /Encrypt dictionary must stay a top-level object (it can
        # never live inside an ObjStm); flagging it keeps it out
        is_stream[enc_num] = True
        trailer_extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            enc_num, id0.hex().encode(), id0.hex().encode(),
        )

    def maybe_encrypt(n: int, body: bytes) -> bytes:
        """Re-cipher a finished stream object body for object n."""
        if crypt is None or n == enc_num or b"\nstream\n" not in body:
            return body
        head, sep, rest = body.partition(b"\nstream\n")
        m = re.search(rb"/Length (\d+)", head)
        payload, tail = rest[: int(m.group(1))], rest[int(m.group(1)) :]
        ct = crypt.encrypt_stream(payload, n, 0)
        head = head[: m.start()] + b"/Length %d" % len(ct) + head[m.end() :]
        return head + sep + ct + tail

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    if not use_objstm:
        for n in sorted(objs):
            offsets[n] = len(out)
            out += b"%d 0 obj\n" % n + maybe_encrypt(n, objs[n]) + b"\nendobj\n"
        xref_off = len(out)
        out += b"xref\n0 %d\n" % (next_num)
        out += b"0000000000 65535 f \n"
        for n in range(1, next_num):
            out += b"%010d 00000 n \n" % offsets[n]
        out += (
            b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
            % (next_num, catalog_num, trailer_extra, xref_off)
        )
        return bytes(out)
    # PDF 1.5 layout: streams stay top-level; plain objects go into ObjStm
    plain = [n for n in sorted(objs) if not is_stream[n]]
    streams = [n for n in sorted(objs) if is_stream[n]]
    for n in streams:
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + maybe_encrypt(n, objs[n]) + b"\nendobj\n"
    pairs = []
    pos = 0
    for n in plain:
        pairs.append(f"{n} {pos}")
        pos += len(objs[n]) + 1
    payload = b" ".join(objs[n] for n in plain)
    header = (" ".join(pairs)).encode() + b" "
    objstm_data = header + payload
    objstm_num = next_num
    offsets[objstm_num] = len(out)
    comp = zlib.compress(objstm_data)
    if crypt is not None:
        comp = crypt.encrypt_stream(comp, objstm_num, 0)
    out += b"%d 0 obj\n" % objstm_num
    out += (
        f"<< /Type /ObjStm /N {len(plain)} /First {len(header)} "
        f"/Filter /FlateDecode /Length {len(comp)} >>"
    ).encode()
    out += b"\nstream\n" + comp + b"\nendstream\nendobj\n"
    xref_num = objstm_num + 1
    size = xref_num + 1
    # xref stream rows: W [1 4 2]
    rows = bytearray()
    rows += bytes([1]) + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")
    for n in range(1, size):
        if n in offsets:
            rows += bytes([1]) + offsets[n].to_bytes(4, "big") + (0).to_bytes(2, "big")
        elif n in plain:
            rows += bytes([2]) + objstm_num.to_bytes(4, "big") + plain.index(n).to_bytes(2, "big")
        else:
            rows += bytes([0]) + (0).to_bytes(4, "big") + (0).to_bytes(2, "big")
    # PNG predictor 12 (Up) over 7-byte rows exercises _png_unpredict
    rowlen = 7
    pred = bytearray()
    prev = bytes(rowlen)
    for i in range(0, len(rows), rowlen):
        row = rows[i : i + rowlen]
        pred.append(2)
        pred += bytes((row[j] - prev[j]) & 0xFF for j in range(rowlen))
        prev = row
    xdata = zlib.compress(bytes(pred))
    xref_off = len(out)
    offsets[xref_num] = xref_off
    out += b"%d 0 obj\n" % xref_num
    out += (
        f"<< /Type /XRef /Size {size} /W [1 4 2] /Root {catalog_num} 0 R "
        f"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >> "
        f"/Length {len(xdata)}"
    ).encode() + trailer_extra + b" >>"
    out += b"\nstream\n" + xdata + b"\nendstream\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)
