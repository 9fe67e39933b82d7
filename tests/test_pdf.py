"""PDF parser tests: span extraction round-trips through the fixture
writer (classic xref and PDF 1.5 ObjStm/xref-stream layouts), reading
order, interleaved text+image spans whose payloads decode through
kernels.decode_image, hand-crafted content streams pinning the
interpreter independently of the fixture (TJ arrays, ', Td/TD/T*, Form
XObjects, escapes), the xref-rebuild fallback, named seams, and the
fuzz error contract."""

import zlib

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.pdf import PdfDocument, encode_pdf, pdf_spans


def _texts(spans):
    return [s["text"] for s in spans if s["kind"] == "text"]


def _kinds(spans):
    return [s["kind"] for s in spans]


@pytest.mark.parametrize("compress", [False, True])
@pytest.mark.parametrize("use_objstm", [False, True])
def test_text_reading_order(compress, use_objstm):
    page = [
        ("text", 72, 700, 12, "INVOICE 2024-001"),
        ("text", 72, 650, 10, "Item A"),
        ("text", 300, 650, 10, "42.00"),
        ("text", 72, 600, 10, "Total"),
    ]
    blob = encode_pdf([page], compress=compress, use_objstm=use_objstm)
    spans, media = pdf_spans(blob)
    assert _texts(spans) == ["INVOICE 2024-001", "Item A", "42.00", "Total"]
    assert media == {}
    assert [s["offset"] for s in spans] == list(range(4))


def test_multi_page_order():
    blob = encode_pdf(
        [[("text", 72, 700, 12, "page one")], [("text", 72, 700, 12, "page two")]]
    )
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["page one", "page two"]


def test_interleaved_image_spans_decode():
    rng = np.random.RandomState(0)
    gray = rng.randint(0, 256, (24, 30), np.uint8)
    from ai_invoice_ocr_engine_spark.jpeg import encode_jpeg

    jpeg = encode_jpeg(np.full((16, 16), 200, np.uint8), quality=90)
    page = [
        ("text", 72, 720, 12, "above"),
        ("image", 72, 500, 200, 150, gray, "gray"),
        ("text", 72, 400, 12, "below"),
        ("image", 72, 200, 100, 80, jpeg, "jpeg"),
    ]
    spans, media = pdf_spans(encode_pdf([page]))
    assert _kinds(spans) == ["text", "image", "text", "image"]
    refs = [s["media_ref"] for s in spans if s["kind"] == "image"]
    assert np.array_equal(K.decode_image(media[refs[0]]), gray)
    assert K.decode_image(media[refs[1]]).shape == (16, 16)


def test_rgb_image_grayscale_matches_shared_luma():
    rgb = np.random.RandomState(1).randint(0, 256, (10, 12, 3), np.uint8)
    spans, media = pdf_spans(
        encode_pdf([[("image", 0, 0, 10, 10, rgb, "rgb")]])
    )
    (ref,) = [s["media_ref"] for s in spans]
    assert np.array_equal(K.decode_image(media[ref]), K.rgb_to_gray(rgb))


# --------------------------------------------------------------------------
# Hand-crafted PDFs: the interpreter pinned independently of encode_pdf
# --------------------------------------------------------------------------


def _raw_pdf(
    content: bytes, extra_objs: str = "", font: str = "",
    content_filter: str = "", catalog_extra: str = ""
) -> bytes:
    """Assemble a minimal classic-xref PDF around a raw content stream."""
    objs = [
        f"<< /Type /Catalog /Pages 2 0 R {catalog_extra}>>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Resources << {font} >> /Contents 4 0 R >>",
        f"<< /Length {len(content)} {content_filter} >>\nstream\n".encode().decode()
        + content.decode("latin-1")
        + "\nendstream",
    ]
    if extra_objs:
        objs.extend(
            [extra_objs] if isinstance(extra_objs, str) else extra_objs
        )
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, start=1):
        offs.append(len(out))
        out += f"{i} 0 obj\n{o}\nendobj\n".encode("latin-1")
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for o in offs:
        out += b"%010d 00000 n \n" % o
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref,
    )
    return bytes(out)


def test_tj_array_and_line_ops():
    content = (
        b"BT /F1 10 Tf 20 700 Td [ (Hel) -120 (lo) ] TJ "
        b"0 -14 TD (world) Tj T* (third) Tj ET"
    )
    spans, _ = pdf_spans(_raw_pdf(content))
    assert _texts(spans) == ["Hello", "world", "third"]


def test_quote_operator_and_escapes():
    content = rb"BT /F1 10 Tf 20 700 Td (a\(b\)c) Tj 14 TL (next\\line) ' ET"
    spans, _ = pdf_spans(_raw_pdf(content))
    assert _texts(spans) == ["a(b)c", "next\\line"]


def test_hex_string_and_octal():
    content = b"BT /F1 10 Tf 20 700 Td <48495F> Tj 0 -20 Td (\\101\\102) Tj ET"
    spans, _ = pdf_spans(_raw_pdf(content))
    assert _texts(spans) == ["HI_", "AB"]


def test_form_xobject_positions_text():
    form = b"BT /F1 8 Tf 0 0 Td (inner) Tj ET"
    extra = (
        "<< /Type /XObject /Subtype /Form /BBox [0 0 100 100] "
        f"/Matrix [1 0 0 1 50 -200] /Length {len(form)} >>\nstream\n"
        + form.decode() + "\nendstream"
    )
    content = (
        b"BT /F1 10 Tf 20 700 Td (top) Tj ET "
        b"q 1 0 0 1 0 600 cm /Fm1 Do Q "
        b"BT /F1 10 Tf 20 300 Td (bottom) Tj ET"
    )
    blob = _raw_pdf(content, extra_objs=extra,
                    font="/XObject << /Fm1 5 0 R >>")
    spans, _ = pdf_spans(blob)
    # form places 'inner' at y = 0 + (-200) + 600 = 400 → between the two
    assert _texts(spans) == ["top", "inner", "bottom"]


def test_xref_rebuild_fallback():
    blob = bytearray(encode_pdf([[("text", 72, 700, 12, "resilient")]]))
    i = blob.rindex(b"startxref")
    blob[i + 10 : i + 12] = b"99"  # corrupt the xref offset
    spans, _ = pdf_spans(bytes(blob))
    assert _texts(spans) == ["resilient"]


def test_incremental_update_prev_chain():
    """Classic incremental update: body + second xref with /Prev."""
    base = encode_pdf([[("text", 72, 700, 12, "v1")]])
    # append an updated page-content object (object 2 is the content
    # stream in encode_pdf's layout? — locate by scanning for the stream)
    doc = PdfDocument(base)
    # find the content stream object number
    content_num = next(
        n for n in doc.xref
        if hasattr(doc.get(n), "dict") and "Length" in doc.get(n).dict
    )
    new_stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (v2) Tj ET"
    upd = bytearray(base)
    new_off = len(upd)
    upd += b"%d 0 obj\n<< /Length %d >>\nstream\n" % (content_num, len(new_stream))
    upd += new_stream + b"\nendstream\nendobj\n"
    xref_off = len(upd)
    old_xref = base.rindex(b"xref\n")
    upd += b"xref\n%d 1\n%010d 00000 n \n" % (content_num, new_off)
    upd += b"trailer\n<< /Size 99 /Prev %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        old_xref, xref_off,
    )
    # /Root object number in encode_pdf is the catalog (last object); get
    # it from the original trailer instead of assuming 1
    root = base[base.rindex(b"/Root") : base.rindex(b"/Root") + 20].split()[1]
    upd = upd.replace(b"/Root 1 0 R", b"/Root " + root + b" 0 R")
    spans, _ = pdf_spans(bytes(upd))
    assert _texts(spans) == ["v2"]


# --------------------------------------------------------------------------
# Seams + error contract
# --------------------------------------------------------------------------


def test_encrypted_supported_but_malformed_encrypt_is_loud():
    # real encryption is now supported (tests/test_pdfcrypt.py); an
    # /Encrypt pointing at a missing object is a malformed-file error
    blob = encode_pdf([[("text", 72, 700, 12, "secret")]])
    bad = blob.replace(b"/Root", b"/Encrypt 999 0 R /Root", 1)
    with pytest.raises(ValueError, match="Encrypt"):
        pdf_spans(bad)


def test_type0_font_is_a_seam():
    extra = "<< /Type /Font /Subtype /Type0 /BaseFont /CJK >>"
    content = b"BT /F1 10 Tf 20 700 Td (x) Tj ET"
    blob = _raw_pdf(content, extra_objs=extra, font="/Font << /F1 5 0 R >>")
    with pytest.raises(NotImplementedError, match="Type0"):
        pdf_spans(blob)


def test_inline_image_raw():
    content = b"q 2 0 0 2 10 10 cm BI /W 2 /H 2 /BPC 8 /CS /G ID \x00\x41\x82\xc3 EI Q"
    spans, media = pdf_spans(_raw_pdf(content))
    assert [s["kind"] for s in spans] == ["image"]
    img = K.decode_image(media[spans[0]["media_ref"]])
    np.testing.assert_array_equal(img, np.array([[0x00, 0x41], [0x82, 0xC3]]))


def test_inline_image_ahx_filter_and_interleave():
    # AHx payload, EI found by the whitespace scan; text above and below
    content = (
        b"BT /F1 10 Tf 20 700 Td (above) Tj ET "
        b"q 50 0 0 50 20 400 cm BI /W 2 /H 1 /BPC 8 /CS /G /F /AHx ID 7fFF> EI Q "
        b"BT /F1 10 Tf 20 100 Td (below) Tj ET"
    )
    spans, media = pdf_spans(_raw_pdf(content))
    assert _kinds(spans) == ["text", "image", "text"]
    img = K.decode_image(media[spans[1]["media_ref"]])
    np.testing.assert_array_equal(img, np.array([[0x7F, 0xFF]]))


def test_inline_image_mask_and_flate_length():
    mask = np.array([[1, 0, 1, 0, 0, 0, 1, 1]], np.uint8)  # sample bits
    payload = zlib.compress(np.packbits(mask).tobytes())
    content = (
        b"q 8 0 0 1 0 0 cm BI /W 8 /H 1 /IM true /F /Fl /L "
        + str(len(payload)).encode()
        + b" ID "
        + payload
        + b" EI Q"
    )
    _spans, media = pdf_spans(_raw_pdf(content))
    img = K.decode_image(next(iter(media.values())))
    # ImageMask default Decode [0 1]: sample 0 → black
    np.testing.assert_array_equal(img == 0, mask == 0)


def test_not_pdf():
    with pytest.raises(ValueError, match="not a PDF"):
        pdf_spans(b"GIF89a not a pdf")


def test_fuzz_error_contract():
    rng = np.random.default_rng(5)
    gray = np.full((8, 8), 128, np.uint8)
    blob = encode_pdf(
        [[("text", 72, 700, 12, "fuzz me"), ("image", 72, 300, 50, 50, gray, "gray")]]
    )
    for variant in (blob, encode_pdf([[("text", 10, 10, 8, "x")]], use_objstm=True)):
        for _ in range(120):
            bb = bytearray(variant)
            for _k in range(int(rng.integers(1, 6))):
                bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
            try:
                pdf_spans(bytes(bb))
            except (ValueError, NotImplementedError):
                pass
    for _ in range(60):
        junk = b"%PDF-1.4\n" + bytes(
            rng.integers(0, 256, int(rng.integers(0, 200)), dtype=np.uint8)
        )
        try:
            pdf_spans(junk)
        except (ValueError, NotImplementedError):
            pass


def test_zlib_bomb_guard():
    # a Flate stream decompressing to ~100 MB should not be a problem for
    # correctness, but dims caps keep image allocation bounded
    big = zlib.compress(b"\x00" * (1 << 20))
    extra = (
        f"<< /Type /XObject /Subtype /Image /Width 99999 /Height 99999 "
        f"/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /FlateDecode "
        f"/Length {len(big)} >>\nstream\n" + big.decode("latin-1") + "\nendstream"
    )
    content = b"q 10 0 0 10 0 0 cm /Im0 Do Q"
    blob = _raw_pdf(content, extra_objs=extra, font="/XObject << /Im0 5 0 R >>")
    with pytest.raises(ValueError):
        pdf_spans(blob)


# ---------------------------------------------------------------------------
# Transport filters beyond Flate/AHx: LZW, RunLength, ASCII85 — and the
# scanned-document image codecs (CCITT fax, packed bilevel).
# ---------------------------------------------------------------------------

_FILTER_CONTENT = b"BT /F1 10 Tf 20 700 Td (filtered) Tj 0 -20 Td (stream) Tj ET"


def _rle_encode(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(raw):
        run = 1
        while i + run < len(raw) and run < 128 and raw[i + run] == raw[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, raw[i]])
            i += run
        else:
            j = min(i + 128, len(raw))
            k = i + 1
            while k < j:
                if k + 2 < len(raw) and raw[k] == raw[k + 1] == raw[k + 2]:
                    break
                k += 1
            out += bytes([k - i - 1]) + raw[i:k]
            i = k
    out.append(128)  # EOD
    return bytes(out)


@pytest.mark.parametrize(
    "name,encode",
    [
        ("LZWDecode", None),  # filled in below (needs the bmptiff encoder)
        ("RunLengthDecode", _rle_encode),
        ("ASCII85Decode", None),  # stdlib base64.a85encode — independent pin
    ],
)
def test_content_stream_transport_filters(name, encode):
    if name == "LZWDecode":
        from ai_invoice_ocr_engine_spark.bmptiff import _lzw_encode as encode
    elif name == "ASCII85Decode":
        import base64

        encode = lambda b: base64.a85encode(b) + b"~>"  # noqa: E731
    body = encode(_FILTER_CONTENT)
    blob = _raw_pdf(body, content_filter=f"/Filter /{name}")
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["filtered", "stream"]


def test_filter_chain_a85_then_flate():
    import base64

    body = base64.a85encode(zlib.compress(_FILTER_CONTENT)) + b"~>"
    blob = _raw_pdf(
        body, content_filter="/Filter [/ASCII85Decode /FlateDecode]"
    )
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["filtered", "stream"]


def test_ascii85_error_contract():
    from ai_invoice_ocr_engine_spark.pdf import _a85_decode, _rle_decode

    with pytest.raises(ValueError, match="z"):
        _a85_decode(b"ABz~>")
    with pytest.raises(ValueError, match="dangling"):
        _a85_decode(b"A~>")
    with pytest.raises(ValueError, match="out of range"):
        _a85_decode(b"\x7f\x7f\x7f\x7f\x7f~>")
    with pytest.raises(ValueError, match="EOD"):
        _rle_decode(b"\x02abc")
    with pytest.raises(ValueError, match="truncated"):
        _rle_decode(b"\x05ab")
    # pin against the stdlib for random payloads
    import base64

    rng = np.random.default_rng(11)
    for _ in range(20):
        payload = bytes(rng.integers(0, 256, int(rng.integers(0, 99)), dtype=np.uint8))
        assert _a85_decode(base64.a85encode(payload) + b"~>") == payload


def _bilevel_mask(w=64, h=48) -> np.ndarray:
    mask = np.zeros((h, w), np.uint8)
    mask[10:16, 8:56] = 1  # a black band
    mask[24:30, 8:40] = 1
    mask[38:40, 20:22] = 1
    return mask


def _image_pdf(img_dict: str, payload: bytes) -> bytes:
    extra = (
        f"<< /Type /XObject /Subtype /Image {img_dict} "
        f"/Length {len(payload)} >>\nstream\n"
        + payload.decode("latin-1")
        + "\nendstream"
    )
    content = b"q 128 0 0 96 72 400 cm /Im0 Do Q"
    return _raw_pdf(content, extra_objs=extra, font="/XObject << /Im0 5 0 R >>")


@pytest.mark.parametrize("k", [-1, 0, 1])
def test_ccitt_image_decodes(k):
    from ai_invoice_ocr_engine_spark.fax import encode_g4, encode_mh, encode_t4

    mask = _bilevel_mask()
    h, w = mask.shape
    # default EncodedByteAlign=false: K=0 rows form ONE continuous
    # bitstream (PDF 1.7 §7.4.6), unlike the byte-aligned TIFF layout
    data = {
        -1: encode_g4,
        0: lambda m: encode_mh(m, row_align=False),
    }.get(k, lambda m: encode_t4(m, two_d=True))(mask)
    blob = _image_pdf(
        f"/Width {w} /Height {h} /BitsPerComponent 1 /ColorSpace /DeviceGray "
        f"/Filter /CCITTFaxDecode /DecodeParms << /K {k} /Columns {w} /Rows {h} >>",
        data,
    )
    spans, media = pdf_spans(blob)
    assert [s["kind"] for s in spans] == ["image"]
    img = K.decode_image(media[spans[0]["media_ref"]])
    assert img.shape == (h, w)
    # fax wire 1 = black → default BlackIs1=false → sample 0 → gray 0
    np.testing.assert_array_equal(img == 0, mask.astype(bool))


@pytest.mark.parametrize("k", [-1, 0, 1])
def test_ccitt_encoded_byte_align(k):
    """/EncodedByteAlign true: every coded line (K<=0) starts on a byte
    boundary; for K>0 the fill bits before each EOL do the aligning."""
    from ai_invoice_ocr_engine_spark.fax import encode_g4, encode_mh, encode_t4

    mask = _bilevel_mask()
    h, w = mask.shape
    data = {
        -1: lambda m: encode_g4(m, byte_align=True),
        0: encode_mh,  # default = byte-aligned rows
    }.get(k, lambda m: encode_t4(m, two_d=True, byte_align=True))(mask)
    if k == -1:
        # the aligned stream must actually differ from the packed one,
        # or this test pins nothing
        assert data != encode_g4(mask)
    blob = _image_pdf(
        f"/Width {w} /Height {h} /BitsPerComponent 1 /ColorSpace /DeviceGray "
        f"/Filter /CCITTFaxDecode /DecodeParms "
        f"<< /K {k} /Columns {w} /Rows {h} /EncodedByteAlign true >>",
        data,
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img == 0, mask.astype(bool))


def test_lzw_early_change_zero():
    """/EarlyChange 0 bumps the code width one table entry later; the
    stream layouts genuinely diverge once the table crosses a width
    boundary, so a long content stream pins the parameter."""
    from ai_invoice_ocr_engine_spark.bmptiff import _lzw_decode, _lzw_encode

    # deterministic incompressible payload long enough to cross the
    # 9->10->11-bit width bumps in both conventions
    import hashlib

    blob_bytes = b"".join(
        hashlib.sha256(bytes([i])).digest() for i in range(200)
    )
    e0 = _lzw_encode(blob_bytes, early=0)
    e1 = _lzw_encode(blob_bytes)
    assert e0 != e1
    assert _lzw_decode(e0, early=0) == blob_bytes
    assert _lzw_decode(e1) == blob_bytes

    body = _lzw_encode(_FILTER_CONTENT + b" " * 600, early=0)
    blob = _raw_pdf(
        body,
        content_filter="/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
    )
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["filtered", "stream"]


def test_ccitt_blackis1_flips():
    from ai_invoice_ocr_engine_spark.fax import encode_g4

    mask = _bilevel_mask()
    h, w = mask.shape
    blob = _image_pdf(
        f"/Width {w} /Height {h} /BitsPerComponent 1 /ColorSpace /DeviceGray "
        f"/Filter /CCITTFaxDecode "
        f"/DecodeParms << /K -1 /Columns {w} /Rows {h} /BlackIs1 true >>",
        encode_g4(mask),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    # BlackIs1 without a reversed /Decode renders the mask inverted
    np.testing.assert_array_equal(img == 255, mask.astype(bool))


@pytest.mark.parametrize("decode,expect_black", [("", True), ("/Decode [1 0]", False)])
def test_bilevel_flate_image(decode, expect_black):
    mask = _bilevel_mask()
    h, w = mask.shape
    packed = np.packbits(1 - mask, axis=1)  # sample 0 = black (default Decode)
    payload = zlib.compress(packed.tobytes())
    blob = _image_pdf(
        f"/Width {w} /Height {h} /BitsPerComponent 1 /ColorSpace /DeviceGray "
        f"/Filter /FlateDecode {decode}",
        payload,
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    want = mask.astype(bool) if expect_black else ~mask.astype(bool)
    np.testing.assert_array_equal(img == 0, want)


def _image_pdf_multi(img_dict: str, payload: bytes, more_objs: list) -> bytes:
    """Like _image_pdf but with extra indirect objects at 6 0 R onward
    (ICCBased profile streams, Indexed lookup streams)."""
    extra = [
        f"<< /Type /XObject /Subtype /Image {img_dict} "
        f"/Length {len(payload)} >>\nstream\n"
        + payload.decode("latin-1")
        + "\nendstream"
    ] + more_objs
    content = b"q 128 0 0 96 72 400 cm /Im0 Do Q"
    return _raw_pdf(content, extra_objs=extra, font="/XObject << /Im0 5 0 R >>")


def test_cmyk_raw_image():
    rng = np.random.default_rng(7)
    cmyk = rng.integers(0, 256, (12, 17, 4), dtype=np.uint8)
    blob = _image_pdf(
        "/Width 17 /Height 12 /BitsPerComponent 8 /ColorSpace /DeviceCMYK",
        cmyk.tobytes(),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    s = cmyk.astype(np.float32)
    rgb = np.clip(
        np.rint((255.0 - s[..., :3]) * (255.0 - s[..., 3:4]) / 255.0), 0, 255
    ).astype(np.uint8)
    np.testing.assert_array_equal(img, K.rgb_to_gray(rgb))


def test_gray_4bit_raw_image():
    rng = np.random.default_rng(8)
    g4 = rng.integers(0, 16, (10, 13), dtype=np.uint8)  # odd width: row pad
    packed = np.packbits(
        np.unpackbits(g4[..., None], axis=2)[..., 4:].reshape(10, -1), axis=1
    )
    blob = _image_pdf(
        "/Width 13 /Height 10 /BitsPerComponent 4 /ColorSpace /DeviceGray",
        packed.tobytes(),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, (g4.astype(np.uint16) * 255 // 15))


def test_indexed_hexstring_palette():
    # 2-bit indices into a 4-entry RGB palette given as a hex string
    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]], np.uint8
    )
    idx = np.tile(np.array([[0, 1, 2, 3, 2, 1, 0]], np.uint8), (6, 1))
    bits = np.unpackbits(idx[..., None], axis=2)[..., 6:]
    packed = np.packbits(bits.reshape(6, -1), axis=1)
    hexpal = pal.tobytes().hex().upper()
    blob = _image_pdf(
        "/Width 7 /Height 6 /BitsPerComponent 2 "
        f"/ColorSpace [/Indexed /DeviceRGB 3 <{hexpal}>]",
        packed.tobytes(),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, K.rgb_to_gray(pal[idx]))


def test_indexed_stream_palette_gray_base():
    # 8-bit indices, lookup carried in a Flate stream, base DeviceGray
    pal = np.arange(0, 160, dtype=np.uint8)
    rng = np.random.default_rng(9)
    idx = rng.integers(0, 160, (9, 11), dtype=np.uint8)
    payload = zlib.compress(pal.tobytes())
    lut_obj = (
        f"<< /Length {len(payload)} /Filter /FlateDecode >>\nstream\n"
        + payload.decode("latin-1")
        + "\nendstream"
    )
    blob = _image_pdf_multi(
        "/Width 11 /Height 9 /BitsPerComponent 8 "
        "/ColorSpace [/Indexed /DeviceGray 159 6 0 R]",
        idx.tobytes(),
        [lut_obj],
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, pal[idx])


@pytest.mark.parametrize("n,ncomp", [(1, 1), (3, 3)])
def test_iccbased_by_component_count(n, ncomp):
    rng = np.random.default_rng(10 + n)
    px = rng.integers(0, 256, (8, 9, ncomp), dtype=np.uint8)
    profile = b"\0" * 16  # advisory bytes; only /N is load-bearing
    icc_obj = (
        f"<< /N {n} /Length {len(profile)} >>\nstream\n"
        + profile.decode("latin-1")
        + "\nendstream"
    )
    blob = _image_pdf_multi(
        f"/Width 9 /Height 8 /BitsPerComponent 8 /ColorSpace [/ICCBased 6 0 R]",
        px.tobytes(),
        [icc_obj],
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    want = px[..., 0] if ncomp == 1 else K.rgb_to_gray(px)
    np.testing.assert_array_equal(img, want)


def test_calrgb_list_form():
    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, (6, 7, 3), dtype=np.uint8)
    blob = _image_pdf(
        "/Width 7 /Height 6 /BitsPerComponent 8 "
        "/ColorSpace [/CalRGB << /WhitePoint [0.9505 1 1.089] >>]",
        px.tobytes(),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, K.rgb_to_gray(px))


def test_decode_array_inverts_8bit_gray():
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, (5, 6), dtype=np.uint8)
    blob = _image_pdf(
        "/Width 6 /Height 5 /BitsPerComponent 8 /ColorSpace /DeviceGray "
        "/Decode [1 0]",
        px.tobytes(),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, 255 - px)


def test_decode_array_narrowed_range_4bit():
    # /Decode [0.2 0.8] on 4-bit gray: v -> (0.2 + v*0.6/15) * 255
    g4 = np.arange(16, dtype=np.uint8).reshape(2, 8)
    packed = np.packbits(
        np.unpackbits(g4[..., None], axis=2)[..., 4:].reshape(2, -1), axis=1
    )
    blob = _image_pdf(
        "/Width 8 /Height 2 /BitsPerComponent 4 /ColorSpace /DeviceGray "
        "/Decode [0.2 0.8]",
        packed.tobytes(),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    want = np.clip(
        np.rint((0.2 + g4.astype(np.float32) * (0.6 / 15.0)) * 255.0), 0, 255
    ).astype(np.uint8)
    np.testing.assert_array_equal(img, want)


def test_decode_array_on_indexed_is_loud():
    pal = bytes(range(12))
    blob = _image_pdf(
        "/Width 4 /Height 1 /BitsPerComponent 8 "
        f"/ColorSpace [/Indexed /DeviceRGB 3 <{pal.hex()}>] /Decode [3 0]",
        bytes([0, 1, 2, 3]),
    )
    with pytest.raises(NotImplementedError):
        pdf_spans(blob)


def test_lzw_image_with_png_predictor():
    from ai_invoice_ocr_engine_spark.bmptiff import _lzw_encode

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (20, 31), dtype=np.uint8)
    # PNG predictor 2 (Up) rows: filter byte + (row - prev_row)
    pred = bytearray()
    prev = np.zeros(31, np.uint8)
    for r in gray:
        pred.append(2)
        pred += ((r.astype(np.int16) - prev) % 256).astype(np.uint8).tobytes()
        prev = r
    blob = _image_pdf(
        "/Width 31 /Height 20 /BitsPerComponent 8 /ColorSpace /DeviceGray "
        "/Filter /LZWDecode /DecodeParms << /Predictor 12 /Columns 31 >>",
        _lzw_encode(bytes(pred)),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, gray)


def test_png_predictor_sub_byte_rows():
    """Below 8 bits per component a predictor row holds
    ceil(Colors*BPC*Columns/8) bytes, filtered at 1-byte distance: the
    filter-type bytes must not leak into the data."""
    from ai_invoice_ocr_engine_spark.pdf import _unpredict

    def unpredict(hexdata, colors, bpc, columns):
        p = {"Predictor": 15, "Colors": colors, "BitsPerComponent": bpc, "Columns": columns}
        return _unpredict(bytes.fromhex(hexdata), p, lambda v: v).hex()

    assert unpredict("00aa55" "00ff00" "000ff0", 1, 1, 16) == "aa55ff000ff0"
    # Sub then Up over 3-byte rows (6-bit pixels)
    assert unpredict("01101010" "02010203", 3, 2, 4) == "102030112233"
    # a short final row is undone as far as it goes
    assert unpredict("00aa55" "02ff", 1, 1, 16) == "aa55a9"
    with pytest.raises(ValueError, match="filter type 7"):
        unpredict("00aa55" "07aa55", 1, 1, 16)
    with pytest.raises(ValueError, match="positive"):
        unpredict("00aa55", 1, 8, 0)


# ---------------------------------------------------------------------------
# Type0 / CID composite fonts via ToUnicode CMaps
# ---------------------------------------------------------------------------

_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CIDSystemInfo << /Registry (T) /Ordering (U) /Supplement 0 >> def
/CMapName /T-U def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0041> <0048>
<0042> <0065>
endbfchar
2 beginbfrange
<0050> <0052> <006C>
<0060> <0061> [<0057006F> <0072>]
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end"""


def _type0_pdf(content: bytes, cmap: bytes = _CMAP) -> bytes:
    objs = [
        "<< /Type /Font /Subtype /Type0 /BaseFont /Test /Encoding /Identity-H "
        "/ToUnicode 6 0 R >>",
        f"<< /Length {len(cmap)} >>\nstream\n" + cmap.decode("latin-1")
        + "\nendstream",
    ]
    return _raw_pdf(content, extra_objs=objs, font="/Font << /F1 5 0 R >>")


def test_type0_tounicode_bfchar_and_bfrange():
    # codes: 0041→H 0042→e, range 0050..0052→l,m,n, list-range 0060→"Wo" 0061→r
    content = (
        b"BT /F1 10 Tf 20 700 Td <00410042005000500051> Tj "
        b"0 -20 Td <0060006100520042> Tj ET"
    )
    spans, _ = pdf_spans(_type0_pdf(content))
    assert _texts(spans) == ["Hellm", "Worne"]


def test_type0_unmapped_code_is_replacement():
    spans, _ = pdf_spans(_type0_pdf(b"BT /F1 10 Tf 20 700 Td <0041FFFE> Tj ET"))
    assert _texts(spans) == ["H�"]


def test_type0_surrogate_pair_dst():
    cmap = _CMAP.replace(
        b"2 beginbfchar\n<0041> <0048>\n<0042> <0065>\nendbfchar",
        b"2 beginbfchar\n<0041> <D83DDE00>\n<0042> <0065>\nendbfchar",
    )
    spans, _ = pdf_spans(
        _type0_pdf(b"BT /F1 10 Tf 20 700 Td <00410042> Tj ET", cmap=cmap)
    )
    assert _texts(spans) == ["\U0001F600e"]


def test_type0_without_tounicode_stays_a_seam():
    objs = ["<< /Type /Font /Subtype /Type0 /BaseFont /Test /Encoding /Identity-H >>"]
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td <0041> Tj ET",
                    extra_objs=objs, font="/Font << /F1 5 0 R >>")
    with pytest.raises(NotImplementedError, match="ToUnicode"):
        pdf_spans(blob)


def test_type0_mixed_with_simple_font():
    objs = [
        "<< /Type /Font /Subtype /Type0 /BaseFont /Test /Encoding /Identity-H "
        "/ToUnicode 7 0 R >>",
        "<< /Type /Font /Subtype /TrueType /BaseFont /Helv >>",
        f"<< /Length {len(_CMAP)} >>\nstream\n" + _CMAP.decode("latin-1")
        + "\nendstream",
    ]
    content = (
        b"BT /F1 10 Tf 20 700 Td <00410042> Tj ET "
        b"BT /F2 10 Tf 20 650 Td (plain) Tj ET"
    )
    blob = _raw_pdf(content, extra_objs=objs,
                    font="/Font << /F1 5 0 R /F2 6 0 R >>")
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["He", "plain"]


def test_acroform_field_values_extracted():
    """Filled form fields (text, choice, checkbox) become trailing text
    spans in field-tree order; empty fields are skipped."""
    fields = (
        "<< /FT /Tx /T (total) /V (99.50) >>",          # obj 5
        "<< /FT /Tx /T (empty_field) >>",                # obj 6 (no /V)
        "<< /T (group) /Kids [8 0 R] >>",                # obj 7
        "<< /FT /Ch /T (currency) /V /EUR >>",           # obj 8 (kid)
        "<< /FT /Tx /T (uni) /V <FEFF004100E9> >>",      # obj 9: UTF-16BE
    )
    blob = _raw_pdf(
        b"BT /F1 10 Tf 50 700 Td (Invoice body) Tj ET",
        extra_objs=list(fields),
        font="/Font << /F1 99 0 R >>",
        catalog_extra="/AcroForm << /Fields [5 0 R 6 0 R 7 0 R 9 0 R] >> ",
    )
    spans, _media = pdf_spans(blob)
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    assert texts == [
        "Invoice body",
        "total: 99.50",
        "currency: EUR",
        "uni: Aé",
    ]
    # offsets stay dense and ordered
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_acroform_fields_in_encrypted_pdf():
    """Field /V strings pass through per-object STRING decryption (the
    content stream exercises stream decryption in the same file)."""
    from ai_invoice_ocr_engine_spark.pdfcrypt import make_encryptor

    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    enc_body, handler = make_encryptor("rc4-128", id0)
    content = b"BT /F1 10 Tf 50 700 Td (body) Tj ET"
    ct_content = handler.encrypt_stream(content, 4, 0)  # content is obj 4
    ct_name = handler.encrypt_string(b"total", 5, 0)
    ct_val = handler.encrypt_string(b"99.50", 5, 0)
    field = (
        f"<< /FT /Tx /T <{ct_name.hex()}> /V <{ct_val.hex()}> >>"
    )
    blob = _raw_pdf(
        ct_content,
        extra_objs=[field, enc_body.decode("latin-1")],
        font="/Font << /F1 99 0 R >>",
        catalog_extra="/AcroForm << /Fields [5 0 R] >> ",
    )
    blob = blob.replace(
        b"/Root 1 0 R",
        b"/Root 1 0 R /Encrypt 6 0 R /ID [<%s> <%s>]"
        % (id0.hex().encode(), id0.hex().encode()),
    )
    spans, _ = pdf_spans(blob)
    assert [s["text"] for s in spans] == ["body", "total: 99.50"]


def test_indexed_palette_with_trailing_pad_bytes():
    # palettes are often padded past hival+1 entries; extra bytes are legal
    pal = np.array([[10, 20, 30], [40, 50, 60]], np.uint8)
    padded = pal.tobytes() + b"\x00\x00"  # 2 pad bytes -> len not multiple of 3
    blob = _image_pdf(
        "/Width 4 /Height 1 /BitsPerComponent 8 "
        f"/ColorSpace [/Indexed /DeviceRGB 1 <{padded.hex()}>]",
        bytes([0, 1, 1, 0]),
    )
    _spans, media = pdf_spans(blob)
    img = K.decode_image(next(iter(media.values())))
    np.testing.assert_array_equal(img, K.rgb_to_gray(pal[[0, 1, 1, 0]])[None, :])


@pytest.mark.parametrize("path,probes", [
    ("/usr/share/doc/libtasn1-doc/libtasn1.pdf",
     ["Libtasn1", "4.19.0", "GNU", "asn1_", "Copyright"]),
    ("/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
     ["SharedMIME-infoDatabase", "ThomasLeonard", "freedesktop"]),
])
def test_external_real_world_pdfs(path, probes):
    """INTEROP PIN (ADVICE r3): externally generated PDFs — a pdfTeX
    manual and a DocBook/FO spec shipped with the OS, produced by
    toolchains entirely independent of this repo's fixture encoder —
    parse through the full ingest surface and yield the documents'
    actual text in reading order. This pins the convention choices
    (xref/stream parsing, filters, font/encoding handling, span
    assembly) against real encoder output rather than only
    self-consistency."""
    import os

    if not os.path.exists(path):
        pytest.skip(f"{path} not in this container")
    spans, media = pdf_spans(open(path, "rb").read())
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    assert len(texts) > 500
    joined = " ".join(texts)
    for probe in probes:
        assert probe in joined, probe
    # reading order sanity: the title page text leads the stream
    assert any(probes[0] in t for t in texts[:5])


# ---------------------------------------------------------------------------
# Type0 WITHOUT ToUnicode: embedded font-program cmap fallback
# ---------------------------------------------------------------------------


def _mini_ttf(mapping, fmt=4):
    """Minimal sfnt with ONLY a cmap table. ``mapping`` is
    {codepoint: gid}; fmt 4 uses one segment per code (idRangeOffset
    0, idDelta = gid - code mod 2^16) plus the 0xFFFF terminator,
    fmt 12 one group per code."""
    import struct as _s

    codes = sorted(mapping)
    if fmt == 4:
        segs = [(c, c, (mapping[c] - c) & 0xFFFF) for c in codes]
        segs.append((0xFFFF, 0xFFFF, 1))
        n = len(segs)
        sub = _s.pack(">HHHHHHH", 4, 16 + 8 * n, 0, 2 * n, 0, 0, 0)
        sub += b"".join(_s.pack(">H", e) for _, e, _d in segs)
        sub += b"\x00\x00"
        sub += b"".join(_s.pack(">H", st) for st, _, _d in segs)
        sub += b"".join(_s.pack(">H", d) for _, _, d in segs)
        sub += b"\x00\x00" * n  # idRangeOffset
        rec = (3, 1)
    else:
        sub = _s.pack(">HHIII", 12, 0, 16 + 12 * len(codes), 0,
                      len(codes))
        for c in codes:
            sub += _s.pack(">III", c, c, mapping[c])
        rec = (3, 10)
    cmap = _s.pack(">HH", 0, 1) + _s.pack(">HHI", *rec, 12) + sub
    sfnt = _s.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
    sfnt += b"cmap" + _s.pack(">III", 0, 28, len(cmap))
    return sfnt + cmap


def _type0_noto_pdf(content: bytes, ttf: bytes,
                    cid2gid: bytes | None = None) -> bytes:
    font = ("<< /Type /Font /Subtype /Type0 /BaseFont /Sub "
            "/Encoding /Identity-H /DescendantFonts [6 0 R] >>")
    desc = ("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Sub "
            "/FontDescriptor 7 0 R"
            + (" /CIDToGIDMap 8 0 R" if cid2gid is not None else "")
            + " >>")
    fdesc = "<< /Type /FontDescriptor /FontName /Sub /FontFile2 "
    fdesc += ("9 0 R >>" if cid2gid is not None else "8 0 R >>")
    objs = [font, desc, fdesc]
    if cid2gid is not None:
        objs.append(f"<< /Length {len(cid2gid)} >>\nstream\n"
                    + cid2gid.decode("latin-1") + "\nendstream")
    objs.append(f"<< /Length {len(ttf)} >>\nstream\n"
                + ttf.decode("latin-1") + "\nendstream")
    return _raw_pdf(content, extra_objs=objs,
                    font="/Font << /F1 5 0 R >>")


def test_type0_without_tounicode_fontprogram_cmap():
    """The subset-font shape word processors emit: Identity-H, no
    ToUnicode, glyph ids resolved through the embedded TrueType cmap
    (format 4) inverted — cid == gid under the default Identity
    CIDToGIDMap."""
    mapping = {ord("H"): 11, ord("i"): 12, ord("!"): 13}
    ttf = _mini_ttf(mapping)
    content = b"BT /F1 10 Tf 20 700 Td <000B000C000D> Tj ET"
    spans, _ = pdf_spans(_type0_noto_pdf(content, ttf))
    assert _texts(spans) == ["Hi!"]


def test_type0_fontprogram_cmap_format12_and_unmapped():
    """Format-12 (segmented coverage) subtables resolve too — incl. a
    non-BMP codepoint — and an unmapped gid yields the replacement
    char, matching the ToUnicode path's convention."""
    mapping = {0x1F600: 21, ord("x"): 22}
    ttf = _mini_ttf(mapping, fmt=12)
    content = b"BT /F1 10 Tf 20 700 Td <001500160099> Tj ET"
    spans, _ = pdf_spans(_type0_noto_pdf(content, ttf))
    assert _texts(spans) == ["\U0001F600x�"]


def test_type0_fontprogram_cid_to_gid_stream():
    """A CIDToGIDMap STREAM reroutes cids before the cmap inversion."""
    mapping = {ord("A"): 5, ord("B"): 6}
    ttf = _mini_ttf(mapping)
    # cid 1 -> gid 6 (B), cid 2 -> gid 5 (A)
    c2g = b"\x00\x00\x00\x06\x00\x05"
    content = b"BT /F1 10 Tf 20 700 Td <00010002> Tj ET"
    spans, _ = pdf_spans(_type0_noto_pdf(content, ttf, cid2gid=c2g))
    assert _texts(spans) == ["BA"]


def test_type0_no_tounicode_no_fontfile_still_loud():
    """Without ToUnicode AND without an embedded sfnt there is nothing
    to decode through — the named seam remains."""
    extra = ("<< /Type /Font /Subtype /Type0 /BaseFont /X "
             "/Encoding /Identity-H >>")
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td <0001> Tj ET",
                    extra_objs=extra, font="/Font << /F1 5 0 R >>")
    with pytest.raises(NotImplementedError, match="Type0"):
        pdf_spans(blob)


def test_simple_font_tounicode():
    """Simple (non-Type0) fonts can carry a ToUnicode CMap too —
    1-byte codespace — and it overrides the latin-1 default."""
    cmap = b"""/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange
<00> <FF>
endcodespacerange
2 beginbfchar
<41> <0394>
<42> <00E9>
endbfchar
endcmap
end"""
    objs = [
        "<< /Type /Font /Subtype /TrueType /BaseFont /Sub "
        "/ToUnicode 6 0 R >>",
        f"<< /Length {len(cmap)} >>\nstream\n" + cmap.decode("latin-1")
        + "\nendstream",
    ]
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td (ABC) Tj ET",
                    extra_objs=objs, font="/Font << /F1 5 0 R >>")
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["ΔéC"]


def test_simple_font_differences_encoding():
    """/Encoding /Differences (9.6.6), the pdfTeX re-encoded-subset
    shape: AGL names, uniXXXX forms, single-char literal names; an
    unknown name keeps the latin-1 base."""
    objs = [
        "<< /Type /Font /Subtype /Type1 /BaseFont /Sub "
        "/Encoding << /Type /Encoding /Differences "
        "[ 65 /eacute /endash /uni20AC 97 /Zmadeup /q ] >> >>",
    ]
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td (ABC-ab) Tj ET",
                    extra_objs=objs, font="/Font << /F1 5 0 R >>")
    spans, _ = pdf_spans(blob)
    # A->eacute, B->endash, C->euro, a (unknown name) stays 'a', b->q
    assert _texts(spans) == ["é–€-aq"]


def test_simple_font_base_encodings():
    """Named /Encoding /WinAnsiEncoding decodes the cp1252 0x80-0x9F
    typographic block (euro, curly quotes, em dash); MacRoman maps its
    own high range; and /BaseEncoding composes with /Differences."""
    objs = ["<< /Type /Font /Subtype /Type1 /BaseFont /Helv "
            "/Encoding /WinAnsiEncoding >>"]
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td (\x80 \x93 \x94 \x97) Tj ET",
                    extra_objs=objs, font="/Font << /F1 5 0 R >>")
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["€ “ ” —"]

    objs = ["<< /Type /Font /Subtype /Type1 /BaseFont /Helv "
            "/Encoding /MacRomanEncoding >>"]
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td (\x8e\xa5) Tj ET",
                    extra_objs=objs, font="/Font << /F1 5 0 R >>")
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["é•"]  # mac_roman: é bullet

    objs = ["<< /Type /Font /Subtype /Type1 /BaseFont /Helv "
            "/Encoding << /BaseEncoding /WinAnsiEncoding "
            "/Differences [ 65 /eacute ] >> >>"]
    blob = _raw_pdf(b"BT /F1 10 Tf 20 700 Td (A\x85) Tj ET",
                    extra_objs=objs, font="/Font << /F1 5 0 R >>")
    spans, _ = pdf_spans(blob)
    assert _texts(spans) == ["é…"]  # Differences + cp1252 ellipsis


def _img_media(blob):
    from ai_invoice_ocr_engine_spark.kernels import decode_image

    _spans, media = pdf_spans(blob)
    assert len(media) == 1
    return decode_image(next(iter(media.values())))


def _cs_image_pdf(w, h, cs, data, extra_objs=(), bpc=8):
    obj = (
        f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
        f"/BitsPerComponent {bpc} /ColorSpace {cs} "
        f"/Length {len(data)} >>\nstream\n"
        + data.decode("latin-1")
        + "\nendstream"
    )
    content = f"q {w} 0 0 {h} 50 600 cm /Im0 Do Q".encode()
    return _raw_pdf(content, extra_objs=[obj, *extra_objs],
                    font="/XObject << /Im0 5 0 R >>")


def test_pdf_separation_type2_to_cmyk():
    """Separation (spot colour) image: one ink channel through a type-2
    exponential tint transform into a DeviceCMYK alternate — the print-
    pipeline invoice shape. Pinned against hand-computed tint + the
    DeviceCMYK composite."""
    from ai_invoice_ocr_engine_spark.kernels import rgb_to_gray

    rng = np.random.default_rng(301)
    ink = rng.integers(0, 256, (9, 13)).astype(np.uint8)
    fn = ("<< /FunctionType 2 /Domain [0 1] "
          "/C0 [0 0 0 0] /C1 [0.9 0.2 0.1 0.05] /N 1 >>")
    cs = "[/Separation /PANTONE#20Blue /DeviceCMYK 6 0 R]"
    out = _img_media(_cs_image_pdf(13, 9, cs, ink.tobytes(), [fn]))
    t = ink.astype(np.float64) / 255.0
    cmyk = np.stack([t * 0.9, t * 0.2, t * 0.1, t * 0.05], axis=-1)
    rgb = (1.0 - cmyk[..., :3]) * (1.0 - cmyk[..., 3:4])
    want = rgb_to_gray(
        np.clip(np.rint(rgb * 255.0), 0, 255).astype(np.uint8))
    assert np.array_equal(out, want)


def test_pdf_devicen_type4_to_gray():
    """DeviceN two-ink image through a type-4 PostScript calculator
    tint transform into DeviceGray."""
    rng = np.random.default_rng(302)
    inks = rng.integers(0, 256, (7, 11, 2)).astype(np.uint8)
    ps = "{ add 2 div }"
    fn = (f"<< /FunctionType 4 /Domain [0 1 0 1] /Range [0 1] "
          f"/Length {len(ps)} >>\nstream\n{ps}\nendstream")
    cs = "[/DeviceN [/Cyan /Black] /DeviceGray 6 0 R]"
    out = _img_media(_cs_image_pdf(11, 7, cs, inks.tobytes(), [fn]))
    # §8.9.5.2 sample mapping is d0 + s*((d1-d0)/maxv); mirror it so the
    # pin is bit-exact (s/255 differs from s*(1/255) by one ulp on some
    # bytes, which can flip a .5 rounding boundary)
    t = inks.astype(np.float64) * (1.0 / 255.0)
    want = np.clip(
        np.rint((t[..., 0] + t[..., 1]) / 2.0 * 255.0), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(out, want)


def test_pdf_separation_sampled_tint():
    """Separation with a type-0 SAMPLED tint transform (the shape CMS
    exports take): 3-point table to DeviceGray, linear interpolation."""
    ink = np.array([[0, 64, 128, 192, 255]], dtype=np.uint8)
    table = bytes([0, 255, 0])  # up then down
    fn = (f"<< /FunctionType 0 /Domain [0 1] /Range [0 1] /Size [3] "
          f"/BitsPerSample 8 /Length {len(table)} >>\nstream\n"
          + table.decode("latin-1") + "\nendstream")
    cs = "[/Separation /Ink /DeviceGray 6 0 R]"
    out = _img_media(_cs_image_pdf(5, 1, cs, ink.tobytes(), [fn]))
    t = ink.astype(np.float64) / 255.0
    e = t * 2.0  # encode to [0, Size-1]
    v = np.where(e <= 1.0, e, 2.0 - e)  # the table's tent shape
    want = np.clip(np.rint(v * 255.0), 0, 255).astype(np.uint8)
    assert np.array_equal(out, want)


def test_pdf_lab_image():
    """A CIE Lab image (WhitePoint + Range) greys through the same
    conversion as pdffunc.lab_to_rgb255 — neutral-axis anchors and a
    chromatic pixel, with the §8.9.5.2 default Decode [0 100 Range]."""
    from ai_invoice_ocr_engine_spark.kernels import rgb_to_gray
    from ai_invoice_ocr_engine_spark.pdffunc import lab_to_rgb255

    # samples: L bytes scale 0..255 → 0..100; a,b scale → Range
    px = np.array(
        [[[0, 128, 128], [255, 128, 128], [128, 128, 128],
          [200, 255, 0]]],
        dtype=np.uint8,
    )
    cs = ("[/Lab << /WhitePoint [0.9505 1 1.089] "
          "/Range [-100 100 -100 100] >>]")
    out = _img_media(_cs_image_pdf(4, 1, cs, px.tobytes()))
    lab = np.empty(px.shape, np.float64)
    lab[..., 0] = px[..., 0] / 255.0 * 100.0
    lab[..., 1] = -100.0 + px[..., 1] / 255.0 * 200.0
    lab[..., 2] = -100.0 + px[..., 2] / 255.0 * 200.0
    want = rgb_to_gray(lab_to_rgb255(lab, [0.9505, 1.0, 1.089]))
    assert np.array_equal(out, want)
    assert out[0, 0] == 0  # L*=0 is black regardless of a/b bytes
    assert out[0, 1] == 255  # L*=100 neutral is white


def test_pdf_separation_stitched_tint_and_decode():
    """Type-3 stitching tint + an explicit /Decode that inverts the ink
    axis before the transform."""
    ink = np.array([[0, 255]], dtype=np.uint8)
    up = "<< /FunctionType 2 /Domain [0 1] /C0 [0] /C1 [1] /N 1 >>"
    down = "<< /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0] /N 1 >>"
    fn = ("<< /FunctionType 3 /Domain [0 1] /Bounds [0.5] "
          "/Encode [0 1 0 1] /Functions [7 0 R 8 0 R] >>")
    obj = (
        "<< /Type /XObject /Subtype /Image /Width 2 /Height 1 "
        "/BitsPerComponent 8 "
        "/ColorSpace [/Separation /Ink /DeviceGray 6 0 R] "
        "/Decode [1 0] /Length 2 >>\nstream\n"
        + ink.tobytes().decode("latin-1")
        + "\nendstream"
    )
    blob = _raw_pdf(b"q 2 0 0 1 50 600 cm /Im0 Do Q",
                    extra_objs=[obj, fn, up, down],
                    font="/XObject << /Im0 5 0 R >>")
    out = _img_media(blob)
    # Decode [1 0]: byte 0 → ink 1.0 → second piece at x=1 → 0;
    # byte 255 → ink 0.0 → first piece at 0 → 0
    assert out.tolist() == [[0, 0]]


def test_pdf_indexed_over_separation_is_loud():
    from ai_invoice_ocr_engine_spark.pdf import _resolve_colorspace

    res = lambda x: x  # noqa: E731
    filt = lambda raw, d, r: raw  # noqa: E731
    sep = ["Separation", "Ink", "DeviceGray",
           {"FunctionType": 2, "Domain": [0, 1], "C0": [0], "C1": [1],
            "N": 1}]
    with pytest.raises(NotImplementedError):
        _resolve_colorspace(["Indexed", sep, 1, b"\x00\xff"], res, filt)


def test_random_writer_parser_matrix_soak():
    """Randomized combined-knob soak: multi-page documents x compress x
    object streams x all four encryption modes x user/owner passwords x
    embedded gray/JPEG images, asserted against the emitted text order
    (300-case runs on record clean; 60 seeded cases per suite run)."""
    import numpy as np

    from ai_invoice_ocr_engine_spark.jpeg import encode_jpeg
    from ai_invoice_ocr_engine_spark.pdf import encode_pdf, pdf_spans

    rng = np.random.default_rng(20260820)
    words = ["INVOICE", "TOTAL", "DATE", "ACME", "net30", "4711",
             "alpha", "beta"]
    for i in range(60):
        npages = int(rng.integers(1, 4))
        pages, want_texts = [], []
        for _p in range(npages):
            items, y = [], 740
            for _l in range(int(rng.integers(1, 6))):
                s = " ".join(words[int(rng.integers(0, len(words)))]
                             for _ in range(int(rng.integers(1, 4))))
                items.append(("text", 72, y, 12, s))
                want_texts.append(s)
                y -= 20
            if rng.random() < 0.4:
                h, w = int(rng.integers(8, 33)), int(rng.integers(8, 33))
                img = rng.integers(0, 256, (h, w), np.uint8)
                if rng.random() < 0.5:
                    items.append(("image", 200, 400, w, h, encode_jpeg(img),
                                  "jpeg"))
                else:
                    items.append(("image", 200, 400, w, h, img, "gray"))
            pages.append(items)
        kw = {"compress": bool(rng.random() < 0.7),
              "use_objstm": bool(rng.random() < 0.4)}
        pw = b""
        enc = [None, "rc4-40", "rc4-128", "aesv2", "aesv3"][
            int(rng.integers(0, 5))]
        if enc:
            kw["encrypt"] = enc
            if rng.random() < 0.5:
                kw["user_pwd"] = pw = b"s3cret"
            else:
                kw["owner_pwd"] = b"owner-key"
        data = encode_pdf(pages, **kw)
        spans, _media = pdf_spans(data, password=pw)
        got = [s["text"] for s in spans if s["kind"] == "text"]
        assert got == want_texts, (i, kw)
