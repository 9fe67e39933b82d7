"""EXIF parse + GPS scrub (exif.py, multimodal.exif_meta/scrub_gps) — the
image analog of the PII redaction pass. Pinned against the OS-shipped
externally encoded JPEG with a real (big-endian) EXIF segment, plus
hand-built GPS IFDs in BOTH byte orders; the scrub must leave pixels
bit-identical (segment splice, no re-encode) and remove GPS by
whitelist construction."""

import glob
import struct

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark.exif import (
    jpeg_segments,
    parse_exif,
    scrub_exif,
)
from ai_invoice_ocr_engine_spark.kernels import decode_image

_OS_EXIF_JPG = (
    "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/requests/"
    "ext/flower-of-life.jpg"
)
_OS_PLAIN_JPG = "/usr/share/doc/nodejs/thin-white-stripe.jpg"


def _gps_exif_app1(endian: str, extra=()) -> bytes:
    """A hand-built APP1 Exif payload: IFD0 {orientation=6, GPSInfo ->
    GPS IFD} with lat 37;46;30 N, lon 122;25;10 W. ``extra``: more
    inline (tag, type, count, value) IFD0 entries."""
    fmt = "<" if endian == "II" else ">"

    def ifd(entries, ifd_off, tail_vals):
        n = len(entries)
        data_off = ifd_off + 2 + 12 * n + 4
        body, tail = b"", b""
        for tag, typ, cnt, val in entries:
            if len(val) <= 4:
                body += struct.pack(fmt + "HHI", tag, typ, cnt) + val.ljust(4, b"\x00")
            else:
                body += struct.pack(fmt + "HHII", tag, typ, cnt, data_off + len(tail))
                tail += val
        return struct.pack(fmt + "H", n) + body + struct.pack(fmt + "I", 0) + tail

    def rat3(a, b, c):
        return b"".join(struct.pack(fmt + "II", x, 1) for x in (a, b, c))

    # GPS IFD will live after IFD0; compute sizes: IFD0 has 2 entries
    ifd0_off = 8
    ifd0_size = 2 + 12 * (2 + len(extra)) + 4
    gps_off = ifd0_off + ifd0_size
    gps_entries = [
        (0x0001, 2, 2, b"N\x00"),
        (0x0002, 5, 3, rat3(37, 46, 30)),
        (0x0003, 2, 2, b"W\x00"),
        (0x0004, 5, 3, rat3(122, 25, 10)),
    ]
    gps = ifd(gps_entries, gps_off, None)
    ifd0 = ifd(
        sorted([
            (0x0112, 3, 1, struct.pack(fmt + "H", 6)),
            (0x8825, 4, 1, struct.pack(fmt + "I", gps_off)),
            *extra,
        ]),
        ifd0_off,
        None,
    )
    hdr = (b"II*\x00" if endian == "II" else b"MM\x00*") + struct.pack(
        fmt + "I", 8
    )
    tiff = hdr + ifd0 + gps
    return b"Exif\x00\x00" + tiff


def _with_gps(jpeg: bytes, endian: str, extra=()) -> bytes:
    payload = _gps_exif_app1(endian, extra)
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return jpeg[:2] + seg + jpeg[2:]


@pytest.mark.skipif(not glob.os.path.exists(_OS_EXIF_JPG),
                    reason="OS EXIF JPEG absent")
def test_os_exif_jpeg_parse_and_scrub():
    data = open(_OS_EXIF_JPG, "rb").read()
    m = parse_exif(data)
    assert m["has_exif"] and m["endian"] == "MM"
    assert m["orientation"] == 1 and m["resolution_unit"] == 2
    assert m["pixel_x_dimension"] == 161 and m["has_gps"] is False
    assert m["has_iptc"] is True  # real Photoshop APP13 in the OS file
    s = scrub_exif(data)
    assert np.array_equal(decode_image(data), decode_image(s))
    m2 = parse_exif(s)
    assert m2["orientation"] == 1 and m2["pixel_x_dimension"] == 161
    assert m2["has_gps"] is False
    assert m2["has_iptc"] is False  # Photoshop IRB dropped whole
    # idempotent
    assert scrub_exif(s) == s


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
@pytest.mark.parametrize("endian", ["II", "MM"])
def test_gps_parse_and_scrub_both_endians(endian):
    base = open(_OS_PLAIN_JPG, "rb").read()
    tagged = _with_gps(base, endian)
    m = parse_exif(tagged)
    assert m["has_gps"] is True and m["orientation"] == 6
    assert abs(m["gps_lat"] - (37 + 46 / 60 + 30 / 3600)) < 1e-9
    assert abs(m["gps_lon"] + (122 + 25 / 60 + 10 / 3600)) < 1e-9  # West

    s = scrub_exif(tagged)
    m2 = parse_exif(s)
    assert m2["has_gps"] is False
    assert m2["orientation"] == 6  # safe tag survives
    assert b"\x25\x88" not in s[:200] and b"\x88\x25" not in s[:200]
    assert np.array_equal(decode_image(tagged), decode_image(s))


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
def test_no_exif_passthrough_and_torn_exif_safe():
    base = open(_OS_PLAIN_JPG, "rb").read()
    assert scrub_exif(base) == base  # no EXIF -> byte-identical
    m0 = parse_exif(base)
    assert m0["has_exif"] is False and m0["has_gps"] is False
    assert not m0["has_xmp"] and not m0["has_iptc"]
    # torn EXIF: truncate inside the IFD — parse degrades, never raises
    tagged = bytearray(_with_gps(base, "II"))
    payload = b"Exif\x00\x00II*\x00" + struct.pack("<I", 8) + b"\x10"
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    torn = base[:2] + seg + base[2:]
    m = parse_exif(torn)
    assert m["has_exif"] is True and m["has_gps"] is False
    assert len(list(jpeg_segments(torn))) >= 2


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
def test_spark_exif_meta_and_scrub_gps(spark):
    """The DataFrame surface: geo census then scrub, one Arrow crossing
    each; scrubbed corpus re-censuses to zero geo-tagged images with
    pixels untouched."""
    from ai_invoice_ocr_engine_spark.functions.multimodal import (
        exif_meta,
        scrub_gps,
    )

    base = open(_OS_PLAIN_JPG, "rb").read()
    rows = [
        ("gps_ii", bytearray(_with_gps(base, "II"))),
        ("gps_mm", bytearray(_with_gps(base, "MM"))),
        ("plain", bytearray(base)),
        ("notjpeg", bytearray(b"\x89PNG\r\n\x1a\nxxxx")),
    ]
    media = spark.createDataFrame(rows, "media_ref string, image binary")
    census = {r["media_ref"]: r for r in exif_meta(media).collect()}
    assert census["gps_ii"]["has_gps"] and census["gps_mm"]["has_gps"]
    assert abs(census["gps_ii"]["gps_lat"] - 37.775) < 1e-3
    assert not census["plain"]["has_exif"]
    assert not census["notjpeg"]["has_exif"]

    scrubbed = scrub_gps(media)
    after = {r["media_ref"]: bytes(r["image"]) for r in scrubbed.collect()}
    census2 = {r["media_ref"]: r for r in exif_meta(scrubbed).collect()}
    assert not any(c["has_gps"] for c in census2.values())
    assert census2["gps_ii"]["orientation"] == 6
    assert after["plain"] == base  # untouched passthrough
    assert after["notjpeg"] == bytes(rows[3][1])
    assert np.array_equal(
        decode_image(after["gps_mm"]), decode_image(base)
    )


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
@pytest.mark.parametrize("endian", ["II", "MM"])
def test_mistyped_safe_tag_is_dropped_not_repacked(endian):
    """A safe tag whose type does not match its slot (DateTime typed
    SHORT, resolutions typed SHORT/ASCII, an out-of-range orientation
    LONG) is dropped from the whitelist rebuild; the GPS IFD goes, the
    well-typed safe tag stays."""
    fmt = "<" if endian == "II" else ">"
    base = open(_OS_PLAIN_JPG, "rb").read()
    bad = [
        (0x011A, 3, 1, struct.pack(fmt + "H", 72)),  # XResolution as SHORT
        (0x011B, 2, 2, b"7\x00"),                    # YResolution as ASCII
        (0x0132, 3, 1, struct.pack(fmt + "H", 2024)),  # DateTime as SHORT
    ]
    tagged = _with_gps(base, endian, bad)
    m = parse_exif(tagged)
    assert m["has_gps"] and m["datetime"] == 2024
    s = scrub_exif(tagged)
    m2 = parse_exif(s)
    assert m2["has_gps"] is False and m2["orientation"] == 6
    for name in ("datetime", "x_resolution", "y_resolution"):
        assert name not in m2
    assert np.array_equal(decode_image(tagged), decode_image(s))

    # a LONG orientation too large for the SHORT slot is dropped as well
    big = [(0x0112, 4, 1, struct.pack(fmt + "I", 1 << 20))]
    m3 = parse_exif(scrub_exif(_with_gps(base, endian, big)))
    assert "orientation" not in m3 and m3["has_gps"] is False


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
def test_spark_scrub_gps_fails_closed(spark):
    """scrub_gps never emits unscrubbed metadata: the SHORT-DateTime GPS
    JPEG comes out GPS-free, and a geo-tagged TIFF (which the scrub
    refuses to rewrite) fails the job with its media_ref named instead of
    passing its coordinates through."""
    from ai_invoice_ocr_engine_spark.functions.multimodal import scrub_gps

    base = open(_OS_PLAIN_JPG, "rb").read()
    short_dt = [(0x0132, 3, 1, struct.pack("<H", 2024))]
    rows = [
        ("short_dt", bytearray(_with_gps(base, "II", short_dt))),
        ("plain", bytearray(base)),
    ]
    media = spark.createDataFrame(rows, "media_ref string, image binary")
    after = {r["media_ref"]: bytes(r["image"]) for r in scrub_gps(media).collect()}
    assert parse_exif(after["short_dt"])["has_gps"] is False
    assert parse_exif(after["short_dt"])["orientation"] == 6
    assert after["plain"] == base

    geo_tiff = _gps_exif_app1("MM")[6:]
    media = spark.createDataFrame(
        rows + [("geo_tiff", bytearray(geo_tiff))], "media_ref string, image binary"
    )
    with pytest.raises(Exception, match="geo_tiff") as ei:
        scrub_gps(media).collect()
    assert "scrub failed" in str(ei.value)


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
def test_spark_exif_meta_nulls_values_that_do_not_fit(spark):
    """exif_meta reports a tag value that does not fit EXIF_META_SCHEMA as
    null instead of failing the job: a SHORT-typed DateTime (parse_exif
    yields the int 2024 for the `datetime string` column) and an
    ASCII-typed orientation (a str for `orientation int`); the rest of
    each row, and the well-typed rows, are reported as before."""
    from ai_invoice_ocr_engine_spark.functions.multimodal import exif_meta

    base = open(_OS_PLAIN_JPG, "rb").read()
    short_dt = _with_gps(base, "II", [(0x0132, 3, 1, struct.pack("<H", 2024))])
    assert parse_exif(short_dt)["datetime"] == 2024
    gps = _with_gps(base, "II")
    short6 = struct.pack("<HHIH", 0x0112, 3, 1, 6) + b"\x00\x00"
    ascii6 = struct.pack("<HHI", 0x0112, 2, 2) + b"6\x00\x00\x00"
    assert gps.count(short6) == 1
    ascii_orient = gps.replace(short6, ascii6)
    assert parse_exif(ascii_orient)["orientation"] == "6"
    rows = [
        ("short_dt", bytearray(short_dt)),
        ("ascii_orient", bytearray(ascii_orient)),
        ("gps", bytearray(gps)),
        ("plain", bytearray(base)),
    ]
    media = spark.createDataFrame(rows, "media_ref string, image binary")
    census = {r["media_ref"]: r for r in exif_meta(media).collect()}
    assert census["short_dt"]["datetime"] is None
    assert census["short_dt"]["orientation"] == 6
    assert census["ascii_orient"]["orientation"] is None
    for ref in ("short_dt", "ascii_orient", "gps"):
        assert census[ref]["has_exif"] and census[ref]["has_gps"], ref
        assert abs(census[ref]["gps_lat"] - 37.775) < 1e-3, ref
        assert abs(census[ref]["gps_lon"] + 122.419) < 1e-3, ref
    assert census["gps"]["orientation"] == 6
    assert not census["plain"]["has_exif"]
    assert census["plain"]["orientation"] is None


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
def test_exif_cli_census_and_scrub(tmp_path):
    """CLI surface: `exif --media` census, then `--scrub --out` writes a
    GPS-free copy and reports n_gps_after == 0."""
    import json
    import subprocess
    import sys as _sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = open(_OS_PLAIN_JPG, "rb").read()
    rows = [("a", _with_gps(base, "II")), ("b", base)]
    d = tmp_path / "media"
    d.mkdir()
    pq.write_table(
        pa.table({"media_ref": [r[0] for r in rows],
                  "image": [r[1] for r in rows]}),
        str(d / "media.parquet"),
    )
    out = str(tmp_path / "clean")
    r = subprocess.run(
        [_sys.executable, "-m", "ai_invoice_ocr_engine_spark", "exif",
         "--media", str(d / "media.parquet"), "--scrub", "--out", out,
         "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.splitlines()[-1])
    assert rep["n_media"] == 2 and rep["n_gps"] == 1
    assert rep["n_gps_after"] == 0


_PNGTEST = "/usr/share/doc/libpng-dev/examples/pngtest.png"


@pytest.mark.skipif(not glob.os.path.exists(_PNGTEST),
                    reason="libpng pngtest.png absent")
def test_png_exif_and_text_meta_scrub():
    """PNG half of the privacy pass, pinned on libpng's own canonical
    test image — which ships a REAL big-endian eXIf chunk (orientation
    5) plus tEXt/zTXt/tIME: parse reports them, the scrub drops exactly
    the metadata chunks (no CRC rewrite needed — whole-chunk removal),
    rendering chunks and pixels stay bit-identical."""
    from ai_invoice_ocr_engine_spark.exif import png_chunks

    data = open(_PNGTEST, "rb").read()
    m = parse_exif(data)
    assert m["has_exif"] and m["endian"] == "MM" and m["orientation"] == 5
    assert m["has_text_meta"] and m["has_gps"] is False

    s = scrub_exif(data)
    kinds = [t for t, *_ in png_chunks(s)]
    assert b"eXIf" not in kinds and b"tEXt" not in kinds
    assert b"zTXt" not in kinds and b"tIME" not in kinds
    assert b"pHYs" in kinds and b"gAMA" in kinds  # rendering chunks kept
    assert np.array_equal(decode_image(data), decode_image(s))
    m2 = parse_exif(s)
    assert m2["has_exif"] is False and m2["has_gps"] is False
    assert m2["has_text_meta"] is False
    assert scrub_exif(s) == s  # idempotent


@pytest.mark.skipif(not glob.os.path.exists(_PNGTEST),
                    reason="libpng pngtest.png absent")
def test_png_exif_gps_chunk_detected_and_scrubbed():
    """A PNG eXIf chunk carrying GPS (synthetic TIFF spliced as a chunk,
    CRC-correct): census decodes the position, scrub removes it."""
    import zlib

    from ai_invoice_ocr_engine_spark.exif import png_chunks

    base = open(_PNGTEST, "rb").read()
    # strip its own metadata first, then add our GPS eXIf after IHDR
    clean = scrub_exif(base)
    tiff = _gps_exif_app1("II")[6:]  # drop the 'Exif\0\0' JPEG prefix
    chunk = (
        struct.pack(">I", len(tiff)) + b"eXIf" + tiff
        + struct.pack(">I", zlib.crc32(b"eXIf" + tiff) & 0xFFFFFFFF)
    )
    ihdr_end = next(b for t, a, b, *_ in png_chunks(clean) if t == b"IHDR")
    tagged = clean[:ihdr_end] + chunk + clean[ihdr_end:]
    m = parse_exif(tagged)
    assert m["has_gps"] is True and m["orientation"] == 6
    assert abs(m["gps_lat"] - 37.775) < 1e-3
    s = scrub_exif(tagged)
    assert parse_exif(s)["has_gps"] is False
    assert np.array_equal(decode_image(tagged), decode_image(s))


def test_os_png_population_scrub_interop():
    """Population-scale interop: every OS PNG that actually carries
    metadata chunks (396 real-encoder files: icon themes, docs) scrubs
    to a metadata-free file whose pixels decode bit-identically; a
    strided sample of the rest passes through byte-identical."""
    pngs = sorted(glob.glob("/usr/share/**/*.png", recursive=True))
    if len(pngs) < 100:
        pytest.skip("OS PNG population absent")
    from ai_invoice_ocr_engine_spark.exif import PNG_META_CHUNKS, png_chunks

    n_meta = n_plain = 0
    for path in pngs:
        data = open(path, "rb").read()
        if data[:8] != b"\x89PNG\r\n\x1a\n":
            continue
        try:
            kinds = {t for t, *_ in png_chunks(data)}
        except ValueError:
            continue
        has_meta = bool(kinds & set(PNG_META_CHUNKS))
        if not has_meta:
            if n_plain % 50 == 0:  # strided pass-through sample
                assert scrub_exif(data) == data, path
            n_plain += 1
            continue
        n_meta += 1
        s = scrub_exif(data)
        kinds2 = {t for t, *_ in png_chunks(s)}
        assert not (kinds2 & set(PNG_META_CHUNKS)), path
        if n_meta % 10 == 0:  # decode is the slow part: sample it
            assert np.array_equal(decode_image(data), decode_image(s)), path
    assert n_meta >= 300  # the population genuinely exercises the scrub


def test_tiff_container_census_and_loud_scrub_seam():
    """Bare TIFF files are themselves EXIF structures: the census parses
    the root IFD chain directly; a geo-tagged TIFF refuses the surgical
    scrub loudly (transcode instead), a clean TIFF passes through."""
    tiff = _gps_exif_app1("MM")[6:]
    m = parse_exif(tiff)
    assert m["has_exif"] and m["has_gps"] and m["orientation"] == 6
    with pytest.raises(NotImplementedError, match="transcod"):
        scrub_exif(tiff)
    clean = _gps_exif_app1("II")[6:]
    # build a GPS-free TIFF: orientation-only IFD
    clean = (b"II*\x00" + struct.pack("<I", 8)
             + struct.pack("<H", 1)
             + struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", 3, 0)
             + struct.pack("<I", 0))
    m2 = parse_exif(clean)
    assert m2["has_exif"] and m2["orientation"] == 3 and not m2["has_gps"]
    assert scrub_exif(clean) == clean


@pytest.mark.skipif(not glob.os.path.exists(_OS_PLAIN_JPG),
                    reason="OS plain JPEG absent")
def test_xmp_and_comment_segments_scrubbed():
    """The non-EXIF metadata carriers: an APP1-XMP packet with exif:GPS
    properties and a COM comment are censused and dropped whole; pixels
    identical; works with or without an EXIF segment present."""
    base = open(_OS_PLAIN_JPG, "rb").read()
    xmp = (b"http://ns.adobe.com/xap/1.0/\x00"
           b'<x:xmpmeta><rdf:Description exif:GPSLatitude="37,46.5N"/>'
           b"</x:xmpmeta>")
    com = b"shot on my phone at home"
    segs = (b"\xff\xe1" + struct.pack(">H", len(xmp) + 2) + xmp
            + b"\xff\xfe" + struct.pack(">H", len(com) + 2) + com)
    tagged = base[:2] + segs + base[2:]
    m = parse_exif(tagged)
    assert m["has_xmp"] and m["xmp_has_gps"] and m["has_comment"]
    assert m["has_exif"] is False
    s = scrub_exif(tagged)
    m2 = parse_exif(s)
    assert not m2["has_xmp"] and not m2["has_comment"]
    assert b"GPSLatitude" not in s and b"shot on my phone" not in s
    assert np.array_equal(decode_image(tagged), decode_image(s))

    # and combined with a GPS EXIF segment: everything goes in one pass
    both = _with_gps(tagged, "II")
    s2 = scrub_exif(both)
    m3 = parse_exif(s2)
    assert m3["has_exif"] and not m3["has_gps"] and not m3["has_xmp"]
    assert m3["orientation"] == 6
    assert np.array_equal(decode_image(both), decode_image(s2))


_OS_GIFS = sorted(
    glob.glob("/usr/share/**/*.gif", recursive=True)
    + glob.glob("/usr/lib/google-cloud-sdk/**/*.gif", recursive=True)
)


@pytest.mark.skipif(len(_OS_GIFS) < 10, reason="OS GIF population absent")
def test_gif_comment_and_app_ext_scrub_population():
    """GIF half of the privacy pass over the real OS GIF population:
    comment extensions and non-rendering application extensions are
    censused and dropped; NETSCAPE looping control survives; every
    frame decodes pixel-identically after the scrub."""
    from ai_invoice_ocr_engine_spark.exif import gif_blocks
    from ai_invoice_ocr_engine_spark.gif import gif_frames

    n_meta = 0
    for p in _OS_GIFS:
        data = open(p, "rb").read()
        try:
            m = parse_exif(data)
        except ValueError:
            continue
        if not (m.get("has_comment") or m.get("has_app_meta")):
            assert scrub_exif(data) == data, p  # pass-through
            continue
        n_meta += 1
        s = scrub_exif(data)
        m2 = parse_exif(s)
        assert not m2["has_comment"] and not m2["has_app_meta"], p
        for x, y in zip(gif_frames(data), gif_frames(s)):
            assert np.array_equal(x, y), p
        assert scrub_exif(s) == s, p  # idempotent
    assert n_meta >= 5  # the population genuinely exercises the scrub


def test_gif_xmp_app_ext_detected_netscape_kept():
    """Synthetic GIF with BOTH a NETSCAPE looping extension (rendering
    control — must survive) and an XMP Data application extension with a
    GPS property (must go)."""
    from ai_invoice_ocr_engine_spark.exif import gif_blocks
    from ai_invoice_ocr_engine_spark.functions.multimodal import decode_frame
    from ai_invoice_ocr_engine_spark.gif import encode_gif

    base = encode_gif([np.full((8, 9), 7, np.uint8)])
    loop = b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    xmp_payload = b'<rdf exif:GPSLatitude="1,2N"/>'
    xmp = (b"\x21\xff\x0bXMP DataXMP"
           + bytes([len(xmp_payload)]) + xmp_payload + b"\x00")
    # insert after header+LSD+GCT (before first block)
    first = min(a for _k, a, _b in gif_blocks(base))
    tagged = base[:first] + loop + xmp + base[first:]
    m = parse_exif(tagged)
    assert m["has_xmp"] and m["xmp_has_gps"] and m["has_app_meta"]
    s = scrub_exif(tagged)
    assert b"GPSLatitude" not in s
    assert b"NETSCAPE2.0" in s  # rendering control kept
    m2 = parse_exif(s)
    assert not m2["has_xmp"] and not m2["has_app_meta"]
    from ai_invoice_ocr_engine_spark.gif import gif_frames

    assert np.array_equal(gif_frames(tagged)[0], gif_frames(s)[0])


# ---- property tests: arbitrary EXIF structures never break the scrub
from hypothesis import given, settings, strategies as st  # noqa: E402

_tag_entry = st.tuples(
    st.integers(0x0100, 0xFFFF),          # tag (may collide with known)
    st.sampled_from([1, 2, 3, 4, 5, 7]),  # type
    st.binary(min_size=0, max_size=24),   # raw value bytes
)


@settings(max_examples=60, deadline=None)
@given(
    endian=st.sampled_from(["II", "MM"]),
    entries=st.lists(_tag_entry, min_size=0, max_size=12),
    with_gps=st.booleans(),
    orientation=st.integers(1, 8),
)
def test_property_arbitrary_exif_never_breaks_scrub(
    endian, entries, with_gps, orientation
):
    """For ARBITRARY junk IFD entries (random tags/types/values, both
    endians, optional GPS IFD): parse never raises, scrub removes GPS
    and keeps a valid image whose pixels are untouched, the surviving
    orientation equals the input, and scrubbing is idempotent."""
    if not glob.os.path.exists(_OS_PLAIN_JPG):
        pytest.skip("OS plain JPEG absent")
    base = open(_OS_PLAIN_JPG, "rb").read()
    fmt = "<" if endian == "II" else ">"

    ents = [(0x0112, 3, 1, struct.pack(fmt + "H", orientation))]
    for tag, typ, raw in entries:
        if tag in (0x0112, 0x8769, 0x8825):
            continue
        size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}[typ]
        cnt = max(1, len(raw) // size)
        val = raw[: cnt * size].ljust(cnt * size, b"\x00")
        ents.append((tag, typ, cnt, val))
    gps_off_entry = []
    n_all = len(ents) + (1 if with_gps else 0)
    ifd0_size = 2 + 12 * n_all + 4
    # serialize IFD0 with all values inline-or-after; place GPS IFD after
    body, tail = b"", b""
    data_off = 8 + ifd0_size
    # reserve room for GPS ifd after the value tail: compute later
    items = sorted(ents)
    ser = []
    for tag, typ, cnt, val in items:
        ser.append((tag, typ, cnt, val))
    if with_gps:
        ser.append((0x8825, 4, 1, None))  # patched below
    ser.sort(key=lambda e: e[0])
    # first pass to compute tail length
    tail_len = sum(len(v) for _t, _ty, _c, v in ser if v is not None and len(v) > 4)
    gps_off = 8 + ifd0_size + tail_len
    for tag, typ, cnt, val in ser:
        if val is None:
            body += struct.pack(fmt + "HHI", tag, typ, cnt) + struct.pack(
                fmt + "I", gps_off
            )
        elif len(val) <= 4:
            body += struct.pack(fmt + "HHI", tag, typ, cnt) + val.ljust(4, b"\x00")
        else:
            body += struct.pack(fmt + "HHII", tag, typ, cnt, data_off + len(tail))
            tail += val
    tiff = (
        (b"II*\x00" if endian == "II" else b"MM\x00*")
        + struct.pack(fmt + "I", 8)
        + struct.pack(fmt + "H", len(ser)) + body + struct.pack(fmt + "I", 0)
        + tail
    )
    if with_gps:
        g = _gps_exif_app1(endian)
        # reuse the GPS IFD bytes from the canonical builder: rebuild at
        # our offset instead — simplest is appending a fresh minimal GPS
        # IFD with inline refs only
        gps_ifd = (
            struct.pack(fmt + "H", 2)
            + struct.pack(fmt + "HHI", 0x0001, 2, 2) + b"N\x00\x00\x00"
            + struct.pack(fmt + "HHI", 0x0002, 5, 3)
            + struct.pack(fmt + "I", gps_off + 2 + 24 + 4)
            + struct.pack(fmt + "I", 0)
            + b"".join(struct.pack(fmt + "II", x, 1) for x in (10, 20, 30))
        )
        tiff += gps_ifd
    payload = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    tagged = base[:2] + seg + base[2:]

    m = parse_exif(tagged)          # never raises
    assert m["has_exif"] is True
    assert m["has_gps"] is (True if with_gps else False)
    s = scrub_exif(tagged)
    m2 = parse_exif(s)
    assert m2["has_gps"] is False
    assert m2["orientation"] == orientation
    assert np.array_equal(decode_image(tagged), decode_image(s))
    assert scrub_exif(s) == s
