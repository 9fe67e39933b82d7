"""EXIF metadata parsing and privacy scrubbing for JPEG media — the image
analog of the text PII redaction pass: a web-scale multimodal corpus must
strip GPS positions (and serial numbers, owner names, MakerNotes) before
training, exactly as it redacts emails/phones from text.

Everything here is segment/IFD STRUCTURE (public JPEG/JEITA-EXIF/TIFF
layouts, same IFD walking as this repo's bmptiff.py): a JPEG marker walk
finds the APP1 "Exif" segment; the TIFF header inside selects endianness;
IFD0 links the Exif sub-IFD (tag 0x8769) and the GPS IFD (tag 0x8825).

Scrubbing is WHITELIST RE-SERIALIZATION, not blacklist deletion: the new
APP1 contains ONLY the named safe tags (orientation, resolution,
timestamps, pixel dims), rebuilt from scratch with fresh offsets — so GPS
coordinates, MakerNotes blobs, body serial numbers and every unknown tag
vanish by construction, and a malformed source IFD cannot smuggle bytes
through. Image pixels are untouched (pure segment splice — no
re-encode), so decode_jpeg(scrubbed) is bit-identical to the original.

Pinned against an OS-shipped externally encoded JPEG with a real EXIF
segment, plus hand-built GPS IFDs in both byte orders
(tests/test_exif.py).
"""

from __future__ import annotations

import struct

#: IFD0 tags considered safe to keep (JEITA CP-3451 names)
SAFE_IFD0 = {
    0x0112: "orientation",      # SHORT
    0x011A: "x_resolution",     # RATIONAL
    0x011B: "y_resolution",     # RATIONAL
    0x0128: "resolution_unit",  # SHORT
    0x0132: "datetime",         # ASCII
}
#: Exif-IFD tags considered safe to keep
SAFE_EXIF = {
    0x9003: "datetime_original",   # ASCII
    0xA002: "pixel_x_dimension",   # SHORT/LONG
    0xA003: "pixel_y_dimension",   # SHORT/LONG
}
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
#: GPS IFD tags we can report (read-only; never re-emitted)
GPS_LAT_REF, GPS_LAT, GPS_LON_REF, GPS_LON = 0x0001, 0x0002, 0x0003, 0x0004

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def jpeg_segments(data: bytes):
    """Yield (marker, seg_start, seg_end) for every marker segment before
    SOS; seg_* bound the full FF-marker-length-payload span."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at {i}")
        m = data[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        ln = struct.unpack(">H", data[i + 2 : i + 4])[0]
        yield m, i, i + 2 + ln
        if m == 0xDA:
            return
        i += 2 + ln


def _find_exif(data: bytes):
    """(seg_start, seg_end, tiff_base) of the APP1 Exif segment, or None."""
    for m, a, b in jpeg_segments(data):
        if m == 0xE1 and data[a + 4 : a + 10] == b"Exif\x00\x00":
            return a, b, a + 10
    return None


_XMP_HDR = b"http://ns.adobe.com/xap/1.0/\x00"
_PSIR_HDR = b"Photoshop 3.0\x00"


def _jpeg_meta_spans(data: bytes):
    """Spans of the OTHER metadata carriers in a JPEG — each can hold
    location or free-text payloads the EXIF rebuild would miss: APP1-XMP
    (RDF/XML with exif:GPS* properties), APP13 Photoshop IRB (IPTC
    location/caption records), and COM comment segments."""
    out = []
    for m, a, b in jpeg_segments(data):
        if m == 0xE1 and data[a + 4 : a + 4 + len(_XMP_HDR)] == _XMP_HDR:
            out.append(("xmp", a, b))
        elif m == 0xED and data[a + 4 : a + 4 + len(_PSIR_HDR)] == _PSIR_HDR:
            out.append(("iptc", a, b))
        elif m == 0xFE:
            out.append(("comment", a, b))
    return out


def _read_ifd(data: bytes, base: int, off: int, fmt: str, end: int):
    """One IFD as {tag: (type, count, value_bytes)}; out-of-bounds entries
    are skipped (torn EXIF must not take the scan down)."""
    out = {}
    p = base + off
    if p + 2 > end:
        return out, 0
    (n,) = struct.unpack_from(fmt + "H", data, p)
    for k in range(n):
        e = p + 2 + 12 * k
        if e + 12 > end:
            break
        tag, typ, cnt = struct.unpack_from(fmt + "HHI", data, e)
        size = _TYPE_SIZE.get(typ, 1) * cnt
        if size <= 4:
            val = data[e + 8 : e + 8 + max(size, 0)]
        else:
            (voff,) = struct.unpack_from(fmt + "I", data, e + 8)
            if base + voff + size > end:
                continue
            val = data[base + voff : base + voff + size]
        out[tag] = (typ, cnt, val)
    nxt = 0
    q = p + 2 + 12 * n
    if q + 4 <= end:
        (nxt,) = struct.unpack_from(fmt + "I", data, q)
    return out, nxt


def _scalar(fmt: str, typ: int, cnt: int, val: bytes):
    if typ == 2:  # ASCII
        return val.split(b"\x00")[0].decode("ascii", "replace")
    if typ == 3 and cnt >= 1:
        return struct.unpack_from(fmt + "H", val)[0]
    if typ == 4 and cnt >= 1:
        return struct.unpack_from(fmt + "I", val)[0]
    if typ == 5 and cnt >= 1:
        n, d = struct.unpack_from(fmt + "II", val)
        return n / d if d else None
    return None


def _gps_deg(fmt: str, val: bytes) -> float | None:
    """Three RATIONALs (deg, min, sec) → decimal degrees."""
    if len(val) < 24:
        return None
    parts = []
    for i in range(3):
        n, d = struct.unpack_from(fmt + "II", val, 8 * i)
        parts.append(n / d if d else 0.0)
    return parts[0] + parts[1] / 60.0 + parts[2] / 3600.0


def png_chunks(data: bytes):
    """Yield (type, chunk_start, chunk_end, data_start, data_end) for
    every PNG chunk (length + type + data + crc spans)."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i = 8
    while i + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[i : i + 4])
        typ = data[i + 4 : i + 8]
        end = i + 12 + ln
        if end > len(data):
            break
        yield typ, i, end, i + 8, i + 8 + ln
        if typ == b"IEND":
            return
        i = end


#: PNG ancillary chunks carrying free-form metadata — dropped by the
#: scrub (eXIf holds a full TIFF/EXIF blob incl. GPS; tEXt/zTXt/iTXt
#: carry arbitrary key-value text; tIME is a capture timestamp)
PNG_META_CHUNKS = (b"eXIf", b"tEXt", b"zTXt", b"iTXt", b"tIME")

#: GIF application-extension identifiers that CONTROL rendering (looping)
#: and therefore survive the scrub; everything else (XMP Data, ICC, …)
#: is metadata
GIF_SAFE_APPS = (b"NETSCAPE2.0", b"ANIMEXTS1.0")


def gif_blocks(data: bytes):
    """Walk a GIF's block structure exactly: yields (kind, start, end)
    with kind ∈ {'ext:<label>', 'image', 'trailer'}; ``start``/``end``
    bound the whole block incl. sub-block chains."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    flags = data[10]
    i = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)

    def skip_subblocks(p: int) -> int:
        while p < len(data):
            n = data[p]
            p += 1 + n
            if n == 0:
                return p
        raise ValueError("GIF sub-block chain truncated")

    while i < len(data):
        b0 = data[i]
        if b0 == 0x3B:
            yield "trailer", i, i + 1
            return
        if b0 == 0x21:
            label = data[i + 1]
            end = skip_subblocks(i + 2)
            yield f"ext:{label:02x}", i, end
            i = end
        elif b0 == 0x2C:
            lflags = data[i + 9]
            p = i + 10 + (3 * (2 << (lflags & 7)) if lflags & 0x80 else 0)
            p += 1  # LZW min code size
            end = skip_subblocks(p)
            yield "image", i, end
            i = end
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x} at {i}")


def _gif_meta_spans(data: bytes):
    """Comment extensions and non-rendering application extensions (the
    GIF carriers of free text and XMP packets)."""
    out = []
    for kind, a, b in gif_blocks(data):
        if kind == "ext:fe":
            out.append(("comment", a, b))
        elif kind == "ext:ff":
            app_id = data[a + 3 : a + 3 + data[a + 2]]
            if app_id not in GIF_SAFE_APPS:
                out.append(("xmp" if app_id[:3] == b"XMP" else "app", a, b))
    return out


def parse_exif(data: bytes) -> dict:
    """EXIF facts for a JPEG or PNG: safe tags, plus ``has_gps`` and
    (when the rationals parse) the decoded lat/lon — so a corpus audit
    can COUNT geo-tagged images before scrubbing. PNGs also report
    ``has_text_meta`` (tEXt/zTXt/iTXt/tIME present). No metadata →
    {'has_exif': False}."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        out = {"has_exif": False, "has_gps": False, "has_text_meta": False}
        for typ, _a, _b, ds, de in png_chunks(data):
            if typ == b"eXIf":
                sub = _parse_tiff(data, ds, de)
                sub["has_text_meta"] = out["has_text_meta"]
                out = sub
            elif typ in PNG_META_CHUNKS:
                out["has_text_meta"] = True
        return out
    if data[:6] in (b"GIF87a", b"GIF89a"):
        out = {"has_exif": False, "has_gps": False}
        kinds = {k for k, _a, _b in _gif_meta_spans(data)}
        out["has_comment"] = "comment" in kinds
        out["has_xmp"] = "xmp" in kinds
        out["has_app_meta"] = bool(kinds & {"xmp", "app"})
        if out["has_xmp"]:
            out["xmp_has_gps"] = b"exif:GPS" in data
        return out
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        # bare TIFF container: the file IS the EXIF structure
        return _parse_tiff(data, 0, len(data))
    loc = _find_exif(data)
    if loc is None:
        out = {"has_exif": False, "has_gps": False}
    else:
        _a, seg_end, t = loc
        out = _parse_tiff(data, t, seg_end)
    try:
        kinds = {k for k, _a, _b in _jpeg_meta_spans(data)}
    except ValueError:
        kinds = set()
    out["has_xmp"] = "xmp" in kinds
    out["has_iptc"] = "iptc" in kinds
    out["has_comment"] = "comment" in kinds
    # XMP GPS properties are plain text in the RDF packet
    if out["has_xmp"]:
        out["xmp_has_gps"] = b"exif:GPS" in data
    return out


def _parse_tiff(data: bytes, t: int, seg_end: int) -> dict:
    """The shared TIFF/IFD-chain parse behind both containers: ``t`` is
    the TIFF header offset, ``seg_end`` bounds every IFD/value read."""
    endian = data[t : t + 2]
    if endian not in (b"II", b"MM"):
        return {"has_exif": False, "has_gps": False}
    fmt = "<" if endian == b"II" else ">"
    (ifd0_off,) = struct.unpack_from(fmt + "I", data, t + 4)
    ifd0, _ = _read_ifd(data, t, ifd0_off, fmt, seg_end)
    out: dict = {"has_exif": True, "endian": endian.decode()}
    for tag, name in SAFE_IFD0.items():
        if tag in ifd0:
            out[name] = _scalar(fmt, *ifd0[tag])
    exif_ifd = {}
    if TAG_EXIF_IFD in ifd0:
        off = _scalar(fmt, *ifd0[TAG_EXIF_IFD])
        if isinstance(off, int):
            exif_ifd, _ = _read_ifd(data, t, off, fmt, seg_end)
    for tag, name in SAFE_EXIF.items():
        if tag in exif_ifd:
            out[name] = _scalar(fmt, *exif_ifd[tag])
    out["has_gps"] = TAG_GPS_IFD in ifd0
    if out["has_gps"]:
        off = _scalar(fmt, *ifd0[TAG_GPS_IFD])
        gps = {}
        if isinstance(off, int):
            gps, _ = _read_ifd(data, t, off, fmt, seg_end)
        lat = _gps_deg(fmt, gps[GPS_LAT][2]) if GPS_LAT in gps else None
        lon = _gps_deg(fmt, gps[GPS_LON][2]) if GPS_LON in gps else None
        if lat is not None and GPS_LAT_REF in gps and \
                gps[GPS_LAT_REF][2][:1] == b"S":
            lat = -lat
        if lon is not None and GPS_LON_REF in gps and \
                gps[GPS_LON_REF][2][:1] == b"W":
            lon = -lon
        out["gps_lat"] = lat
        out["gps_lon"] = lon
    return out


def _build_ifd(entries: list[tuple[int, int, int, bytes]]) -> bytes:
    """Serialize one little-endian IFD holding the given (tag, type,
    count, value_bytes), offsets computed against TIFF base 0 with the
    IFD at offset 8 (right after the TIFF header we always emit)."""
    entries = sorted(entries)
    n = len(entries)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4
    body = b""
    tail = b""
    for tag, typ, cnt, val in entries:
        if len(val) <= 4:
            inline = val.ljust(4, b"\x00")
            body += struct.pack("<HHI", tag, typ, cnt) + inline
        else:
            body += struct.pack("<HHII", tag, typ, cnt, data_off + len(tail))
            tail += val
    return (
        struct.pack("<H", n) + body + struct.pack("<I", 0) + tail
    )


def scrub_exif(data: bytes) -> bytes:
    """Rewrite a JPEG's APP1 Exif segment to contain ONLY the whitelisted
    safe tags (see module docstring) — GPS, MakerNotes, serials and every
    unknown tag are gone by construction. Output is always little-endian.
    For PNGs the metadata chunks (eXIf/tEXt/zTXt/iTXt/tIME) are DROPPED
    whole — chunk removal needs no CRC rewrite and PNG consumers ignore
    absent ancillary chunks, so pixels and rendering chunks stay
    byte-identical. Media without metadata pass through unchanged."""
    if data[:6] in (b"GIF87a", b"GIF89a"):
        spans = [(a, b) for _k, a, b in _gif_meta_spans(data)]
        if not spans:
            return data
        out = bytearray()
        pos = 0
        for a, b in sorted(spans):
            out += data[pos:a]
            pos = b
        out += data[pos:]
        return bytes(out)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        # a TIFF's IFD offsets interleave with strip data — a surgical
        # rewrite risks corrupting pixels, so geo-tagged TIFFs are a loud
        # seam: transcode (decode_image -> encode_png) instead
        if parse_exif(data).get("has_gps"):
            raise NotImplementedError(
                "TIFF container carries GPS in its root IFD structure; "
                "scrub by transcoding (decode_image -> encode_png), not "
                "by IFD surgery"
            )
        return data
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        spans = [
            (a, b)
            for typ, a, b, _ds, _de in png_chunks(data)
            if typ in PNG_META_CHUNKS
        ]
        if not spans:
            return data
        out = bytearray()
        pos = 0
        for a, b in spans:
            out += data[pos:a]
            pos = b
        out += data[pos:]
        return bytes(out)
    # JPEG: drop the OTHER metadata carriers whole (APP1-XMP — RDF can
    # hold exif:GPS* properties — APP13 Photoshop/IPTC, COM comments;
    # APP0 JFIF, APP2 ICC and APP14 Adobe stay: decode/rendering needs
    # them), and rebuild the Exif APP1 to the whitelist
    try:
        drops = [(a, b) for _k, a, b in _jpeg_meta_spans(data)]
    except ValueError:
        drops = []
    loc = _find_exif(data)
    if loc is None:
        if not drops:
            return data
        out = bytearray()
        pos = 0
        for a, b in sorted(drops):
            out += data[pos:a]
            pos = b
        out += data[pos:]
        return bytes(out)
    seg_start, seg_end, _t = loc
    meta = parse_exif(data)

    entries = []
    packers = {
        "orientation": (0x0112, 3),
        "resolution_unit": (0x0128, 3),
        "x_resolution": (0x011A, 5),
        "y_resolution": (0x011B, 5),
        "datetime": (0x0132, 2),
    }
    for name, (tag, typ) in packers.items():
        e = _safe_entry(tag, typ, meta.get(name))
        if e is not None:
            entries.append(e)
    # pixel dims and the original timestamp re-emit under their own tags
    # inside a minimal Exif sub-IFD to stay spec-shaped
    sub = []
    for name, tag, typ in (("pixel_x_dimension", 0xA002, 4),
                           ("pixel_y_dimension", 0xA003, 4),
                           ("datetime_original", 0x9003, 2)):
        e = _safe_entry(tag, typ, meta.get(name))
        if e is not None:
            sub.append(e)
    if sub:
        # IFD0 first, Exif IFD appended after it; pointer patched below
        ifd0 = _build_ifd(entries + [(TAG_EXIF_IFD, 4, 1, b"\x00" * 4)])
        sub_off = 8 + len(ifd0)
        sub_ifd = _build_sub_ifd(sub, sub_off)
        # patch the ExifIFD pointer value (inline LONG) in ifd0
        ifd0 = _patch_pointer(ifd0, TAG_EXIF_IFD, sub_off)
        tiff = b"II*\x00" + struct.pack("<I", 8) + ifd0 + sub_ifd
    else:
        tiff = b"II*\x00" + struct.pack("<I", 8) + _build_ifd(entries)
    payload = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    edits = sorted([(a, b, b"") for a, b in drops] + [(seg_start, seg_end, seg)])
    out = bytearray()
    pos = 0
    for a, b, repl in edits:
        out += data[pos:a]
        out += repl
        pos = b
    out += data[pos:]
    return bytes(out)


def _safe_entry(tag: int, typ: int, v):
    """One whitelisted value as a little-endian IFD entry (tag, typ, count,
    value_bytes) of ``typ`` (ASCII 2, SHORT 3, LONG 4, RATIONAL 5), or None
    when the source tag's type or range does not fit: parse_exif yields str
    for ASCII, int for SHORT/LONG and float for RATIONAL, so e.g. a
    SHORT-typed DateTime is dropped instead of forced into an ASCII slot."""
    if typ == 2:
        if not isinstance(v, str):
            return None
        b = v.encode("ascii", "replace") + b"\x00"
        return tag, 2, len(b), b
    if typ == 5:
        # re-rationalize at 1/10000 precision (resolutions are small)
        if isinstance(v, float) and 0 <= round(v * 10000) <= 0xFFFFFFFF:
            return tag, 5, 1, struct.pack("<II", round(v * 10000), 10000)
        return None
    limit, code = (0xFFFF, "<H") if typ == 3 else (0xFFFFFFFF, "<I")
    if type(v) is int and 0 <= v <= limit:
        return tag, typ, 1, struct.pack(code, v)
    return None


def _build_sub_ifd(entries, base_off: int) -> bytes:
    """Serialize a sub-IFD whose out-of-line values live after itself at
    absolute TIFF offset ``base_off``."""
    entries = sorted(entries)
    n = len(entries)
    data_off = base_off + 2 + 12 * n + 4
    body = b""
    tail = b""
    for tag, typ, cnt, val in entries:
        if len(val) <= 4:
            body += struct.pack("<HHI", tag, typ, cnt) + val.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHII", tag, typ, cnt, data_off + len(tail))
            tail += val
    return struct.pack("<H", n) + body + struct.pack("<I", 0) + tail


def _patch_pointer(ifd: bytes, tag: int, value: int) -> bytes:
    """Set the inline LONG value of ``tag`` inside a serialized IFD."""
    (n,) = struct.unpack_from("<H", ifd, 0)
    for k in range(n):
        e = 2 + 12 * k
        t, typ, cnt = struct.unpack_from("<HHI", ifd, e)
        if t == tag:
            return ifd[: e + 8] + struct.pack("<I", value) + ifd[e + 12 :]
    return ifd
