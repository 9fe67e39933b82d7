"""Kernel unit tests — SURVEY.md §5.2(1), mirroring the unit-test structure
the reference's modules imply (it ships no tests of its own)."""

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark import kernels as K


# ---- CTC greedy (/root/reference/recognize/ctc.py:16-24 semantics) ----

def _logits_for(seq):
    """Build logits whose argmax path is exactly `seq` (vocab indices)."""
    lg = np.full((len(seq), K.VOCAB_SIZE), -5.0, dtype=np.float32)
    for t, v in enumerate(seq):
        lg[t, v] = 5.0
    return lg


def test_ctc_blank_collapse():
    # 'a' is index 12 (2 + 10 digits)
    a = K.encode_text("a")[0]
    text, score = K.ctc_greedy(_logits_for([0, a, 0, a, 0]))
    assert text == "aa"  # blank separates repeats -> both kept
    assert 0.9 < score <= 1.0


def test_ctc_repeat_collapse():
    a, b = K.encode_text("ab")
    text, _ = K.ctc_greedy(_logits_for([a, a, a, b, b]))
    assert text == "ab"


def test_ctc_empty():
    text, score = K.ctc_greedy(_logits_for([0, 0, 0]))
    assert text == "" and score == 0.0


def test_vocab_roundtrip():
    s = "az09AZ"
    assert "".join(K.idx2char(i) for i in K.encode_text(s)) == s
    assert K.encode_text("!")[0] == K.UNK_IDX


# ---- reading order (/root/reference/postprocess.py:54-68) ----

def _box(x0, y0, x1, y1):
    return [x0, y0, x1, y1]


def test_reading_order_lines_and_x_sort():
    boxes = np.array(
        [_box(100, 0, 120, 10), _box(0, 1, 20, 11), _box(0, 50, 20, 60)],
        dtype=np.float32,
    )
    lines = K.reading_order_lines(boxes, ["right", "left", "below"], line_th=10.0)
    flat = [t for line in lines for _b, t in line]
    assert flat == ["left", "right", "below"]
    assert [len(l) for l in lines] == [2, 1]


def test_reading_order_first_y_anchor():
    """The line threshold compares to the FIRST y of the current line, not
    the previous item (the reference subtlety SURVEY.md §2.5 W2 flags):
    a y-staircase 0,8,16 splits after the third item (|16-0|>10) even though
    consecutive gaps are all <= 10."""
    boxes = np.array(
        [_box(0, 0, 10, 0), _box(0, 8, 10, 8), _box(0, 16, 10, 16)],
        dtype=np.float32,
    )
    lines = K.reading_order_lines(boxes, ["a", "b", "c"], line_th=10.0)
    assert [[t for _b, t in l] for l in lines] == [["a", "b"], ["c"]]


def test_paragraph_grouping():
    """/root/reference/postprocess.py:69-79: new para when y_min-prev_y_max>th."""
    boxes = np.array(
        [_box(0, 0, 10, 20), _box(0, 30, 10, 50), _box(0, 90, 10, 110)],
        dtype=np.float32,
    )
    paras = K.group_paragraphs(boxes, ["l1", "l2", "l3"], para_th=30.0)
    assert paras == [["l1", "l2"], ["l3"]]


def test_strip_boilerplate():
    lines = [
        [(np.array([0, 5, 10, 15], np.float32), "header")],
        [(np.array([0, 100, 10, 120], np.float32), "body")],
        [(np.array([0, 188, 10, 198], np.float32), "footer")],
    ]
    out = K.strip_boilerplate_lines(lines, img_h=200, min_lines=3)
    assert [l[0][1] for l in out] == ["body"]
    # under min_lines no stripping happens
    assert K.strip_boilerplate_lines(lines[:2], img_h=200, min_lines=3) == lines[:2]


# ---- detection kernels ----

def test_otsu_bimodal():
    img = np.full((50, 50), 230, np.uint8)
    img[10:20, 10:40] = 30
    t = K.otsu_threshold(img)
    assert 30 <= t < 230
    assert ((img <= t) == (img == 30)).all()


def test_replayed_detection_equals_detect_frame():
    """perfbench's kernel replay feeds detect_prob's bool mask straight to
    extract_boxes; that must give detect_frame's boxes and scores, and the
    rotated geometry must give the same quads on the bool mask as on its
    float32 copy."""
    from ai_invoice_ocr_engine_spark import extractor, fixtures
    from ai_invoice_ocr_engine_spark.config import ExtractConfig

    cfg = ExtractConfig()
    kw = dict(th=cfg.det.th, bth=cfg.det.bth, ur=cfg.det.ur, ms=cfg.det.ms, dil=cfg.det.dil)
    imgs = [K.decode_image(r["image"]) for r in fixtures.gen_media(7, 12, max_side=640)]
    imgs.append(K.rotate_any(imgs[0], 9))
    n_boxes = 0
    for img in imgs:
        mask = K.detect_prob(K.det_resize(img, cfg.det.mxs))
        boxes, scores = K.extract_boxes(mask, img.shape, **kw)
        want_boxes, want_scores = extractor.detect_frame(img, cfg)
        assert np.array_equal(boxes, want_boxes) and np.array_equal(scores, want_scores)
        quads, qscores = K.extract_boxes_rotated(mask, img.shape, **kw)
        fquads, fqscores = K.extract_boxes_rotated(mask.astype(np.float32), img.shape, **kw)
        assert np.array_equal(quads, fquads) and np.array_equal(qscores, fqscores)
        n_boxes += len(boxes)
    assert n_boxes > 30


def test_connected_components_two_blobs():
    m = np.zeros((20, 30), bool)
    m[2:6, 2:10] = True
    m[10:15, 15:25] = True
    comps = K.connected_components(m)
    assert len(comps) == 2
    assert comps[0] == (2, 2, 10, 6, 32)
    assert comps[1] == (15, 10, 25, 15, 50)


def test_connected_components_diagonal_merge():
    m = np.zeros((4, 4), bool)
    m[0, 0] = True
    m[1, 1] = True  # 8-connectivity joins diagonals
    comps = K.connected_components(m)
    assert len(comps) == 1


def test_extract_boxes_scales_and_filters():
    prob = np.zeros((100, 100), np.float32)
    prob[10:30, 10:60] = 1.0  # solid band -> score 1.0
    prob[50, 50] = 1.0  # 1px speck: survives nothing after min-size
    boxes, scores = K.extract_boxes(prob, orig_size=(200, 200), dil=1)
    assert len(boxes) >= 1
    b = boxes[0]
    assert scores[0] >= 0.6
    # scaled 2x into original frame, expanded by unclip
    assert b[0] < 20 < 120 < b[2] and b[1] < 20 < 60 < b[3]


def test_detect_on_rendered_lines():
    img = np.full((200, 300), 255, np.uint8)
    img[40:60, 20:200] = 40
    img[100:120, 20:150] = 40
    prob = K.detect_prob(img)
    boxes, scores = K.extract_boxes(prob, orig_size=img.shape)
    assert len(boxes) == 2


def test_iou_and_nms():
    b1 = np.array([0, 0, 10, 10], np.float32)
    b2 = np.array([5, 0, 15, 10], np.float32)
    assert abs(K.aabb_iou(b1, b2) - 50 / 150) < 1e-6
    keep = K.nms(np.stack([b1, b2]), np.array([0.9, 0.8]), th=0.2)
    assert keep == [0]


# ---- recognition determinism ----

def test_recognition_deterministic_and_batch_independent():
    rng = np.random.default_rng(7)
    crop = rng.integers(0, 255, size=(31, 97), dtype=np.uint8)
    w = K.crnn_weights()
    t1 = K.recognize_crop(crop, w)
    t2 = K.recognize_crop(crop.copy(), w)
    assert t1 == t2
    assert isinstance(t1[0], str) and 0.0 <= t1[1] <= 1.0


def test_rec_resize_caps():
    crop = np.zeros((10, 2000), np.uint8)
    assert K.rec_resize(crop).shape == (48, 320)
    assert K.rec_resize(np.zeros((100, 2), np.uint8)).shape == (48, 8)


# ---- misc ----

def test_edit_distance():
    assert K.edit_distance("kitten", "sitting") == 3
    assert K.edit_distance("", "abc") == 3
    assert K.edit_distance("abc", "abc") == 0


def test_invoice_fields():
    f = K.extract_invoice_fields(
        ["hello INV-48213 world", "date 2026-03-14", "TOTAL 532.10 due"]
    )
    assert f == {
        "invoice_number": "48213",
        "invoice_date": "2026-03-14",
        "total_amount": "532.10",
    }
    assert K.extract_invoice_fields(["nothing here"]) == {}


def test_invoice_fields_full_er_schema():
    """All 10 ER-schema fields (demo/07_database_er.puml:66-93) extract,
    first-match-wins, and ALL-CAPS keywords never leak into captured
    names."""
    f = K.extract_invoice_fields(
        [
            "ref INV-90121 issued 2025-11-02",
            "VENDOR Acme Corp VENDOR-TAX-ID DE123456789",
            "BUYER Wayne Enterprises BUYER-TAX-ID FR987654321",
            "SUBTOTAL 100.00 TAX 19.00 TOTAL 119.00 CURRENCY EUR",
            "TOTAL 999.99",  # later match must NOT win
        ]
    )
    assert f == {
        "invoice_number": "90121",
        "invoice_date": "2025-11-02",
        "vendor_name": "Acme Corp",
        "vendor_tax_id": "DE123456789",
        "buyer_name": "Wayne Enterprises",
        "buyer_tax_id": "FR987654321",
        "subtotal": "100.00",
        "tax_amount": "19.00",
        "total_amount": "119.00",
        "currency": "EUR",
    }
    # a name directly followed by an ALL-CAPS keyword stops cleanly
    g = K.extract_invoice_fields(["VENDOR Initech Ltd BUYER Hooli Works"])
    assert g["vendor_name"] == "Initech Ltd" and g["buyer_name"] == "Hooli Works"


def test_synf_roundtrip():
    img = np.random.default_rng(1).integers(0, 255, (33, 47), dtype=np.uint8)
    assert (K.decode_synf(K.encode_synf(img)) == img).all()
    with pytest.raises(ValueError):
        K.decode_synf(b"JUNKxxxx")


def test_recognize_crops_batched_equals_per_crop():
    """One-GEMM-per-frame batching must be bit-identical to per-crop
    recognition (the float32-integer exactness argument in crnn_weights)."""
    import numpy as np

    rng = np.random.default_rng(5)
    w = K.crnn_weights()
    for _ in range(25):
        crops = [
            rng.integers(
                0, 256,
                size=(int(rng.integers(6, 80)), int(rng.integers(8, 500))),
                dtype=np.uint8,
            )
            for _ in range(int(rng.integers(0, 10)))
        ]
        assert K.recognize_crops(crops, w) == [
            K.recognize_crop(c, w) for c in crops
        ]


def test_recognize_crop_groups_equals_per_frame():
    """One-GEMM-per-ARROW-BATCH grouping must be bit-identical to
    per-frame recognize_crops (same exactness argument, one level up) —
    including empty frames and all-empty batches."""
    import numpy as np

    rng = np.random.default_rng(11)
    w = K.crnn_weights()
    for _ in range(8):
        groups = [
            [
                rng.integers(
                    0, 256,
                    size=(int(rng.integers(6, 80)), int(rng.integers(8, 400))),
                    dtype=np.uint8,
                )
                for _ in range(int(rng.integers(0, 6)))
            ]
            for _ in range(int(rng.integers(0, 7)))
        ]
        assert K.recognize_crop_groups(groups, w) == [
            K.recognize_crops(g, w) for g in groups
        ]
    assert K.recognize_crop_groups([], w) == []
    assert K.recognize_crop_groups([[], []], w) == [[], []]


def test_png_roundtrip_all_filters():
    """encode_png(filter f) → decode_png must reproduce the image exactly
    for every PNG scanline filter type (exercises all unfilter paths)."""
    import numpy as np

    rng = np.random.default_rng(17)
    for f in range(5):
        for shape in [(1, 1), (3, 7), (24, 33), (48, 160)]:
            img = rng.integers(0, 256, size=shape, dtype=np.uint8)
            data = K.encode_png(img, filter_type=f)
            out = K.decode_png(data)
            assert np.array_equal(out, img), (f, shape)


def test_png_rgb_to_gray_luma():
    import numpy as np

    # pure channels: cv2's fixed-point luma values
    rgb = np.zeros((1, 3, 3), np.uint8)
    rgb[0, 0] = (255, 0, 0)
    rgb[0, 1] = (0, 255, 0)
    rgb[0, 2] = (0, 0, 255)
    g = K.rgb_to_gray(rgb)
    assert list(g[0]) == [76, 150, 29]  # round(255 * [.299, .587, .114])


def test_decode_image_polymorphic():
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(20, 30), dtype=np.uint8)
    assert np.array_equal(K.decode_image(K.encode_synf(img)), img)
    assert np.array_equal(K.decode_image(K.encode_png(img)), img)
    with _pytest.raises(ValueError):  # SOI magic routes to the real decoder now
        K.decode_image(b"\xff\xd8jpegdata")
    with _pytest.raises(ValueError):
        K.decode_image(b"not an image")


def test_png_frames_extract_identically_to_synf(tmp_path):
    """The full per-frame OCR flow over a PNG-encoded frame equals the
    SYNF-encoded frame bit-for-bit (same pixels in, same spans out)."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import fixtures as FX
    from ai_invoice_ocr_engine_spark.config import ExtractConfig
    from ai_invoice_ocr_engine_spark.extractor import extract_media_lines

    rng = np.random.default_rng(21)
    img, _n = FX.render_media(rng, 320, 240, header_footer=True)
    cfg = ExtractConfig()
    w = K.crnn_weights(cfg.rec.weight_seed)
    a = extract_media_lines(K.encode_synf(img), cfg, w)
    b = extract_media_lines(K.encode_png(img), cfg, w)
    assert a == b and len(a) > 0


def test_png_corrupt_raises_value_error():
    """Malformed PNGs raise ValueError (not zlib/struct errors) so batch
    jobs can classify rather than crash."""
    import pytest as _pytest

    magic = b"\x89PNG\r\n\x1a\n"
    for bad in [
        magic,  # no chunks
        magic + b"\x00" * 40,  # garbage chunks
        # valid IHDR then garbage IDAT (bad zlib stream)
        K.encode_png(__import__("numpy").zeros((4, 4), "uint8"))[:33]
        + b"\x00\x00\x00\x04IDATxxxx\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00IEND\x00\x00\x00\x00",
    ]:
        with _pytest.raises(ValueError):
            K.decode_png(bad)


# ---- baseline JPEG codec (S2 seam made real) ----

def _grad_img(h=96, w=200):
    import numpy as np

    x = np.linspace(0, 4 * np.pi, max(h, w))
    return (120 + 100 * np.outer(np.sin(x[:h]), np.cos(x[:w]))).astype(np.uint8)


def test_jpeg_gray_roundtrip_error_bounds():
    import numpy as np

    from ai_invoice_ocr_engine_spark import jpeg as J

    img = _grad_img()
    for q, bound in ((95, 4), (90, 6), (75, 10)):
        dec = J.decode_jpeg(J.encode_jpeg(img, quality=q, subsampling="gray"))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= bound


def test_jpeg_color_444_and_420_match_bt601_luma():
    import numpy as np

    from ai_invoice_ocr_engine_spark import jpeg as J
    from ai_invoice_ocr_engine_spark import kernels as K

    rgb = np.zeros((50, 70, 3), np.uint8)
    rgb[..., 0] = np.linspace(0, 255, 70, dtype=np.uint8)[None, :]
    rgb[..., 1] = np.linspace(0, 255, 50, dtype=np.uint8)[:, None]
    rgb[..., 2] = 128
    want = K.rgb_to_gray(rgb)
    for sub in ("444", "422", "420"):
        dec = J.decode_jpeg(J.encode_jpeg(rgb, quality=92, subsampling=sub))
        assert dec.shape == want.shape
        assert int(np.abs(dec.astype(int) - want.astype(int)).max()) <= 6


def test_jpeg_restart_markers_and_odd_sizes():
    import numpy as np

    from ai_invoice_ocr_engine_spark import jpeg as J

    img = _grad_img()
    plain = J.decode_jpeg(J.encode_jpeg(img, 90, "gray"))
    rst = J.decode_jpeg(J.encode_jpeg(img, 90, "gray", restart_interval=7))
    assert np.array_equal(plain, rst)
    tiny = _grad_img(13, 9)
    assert J.decode_jpeg(J.encode_jpeg(tiny, 90, "gray")).shape == (13, 9)


def test_jpeg_error_contract_and_dispatch():
    import numpy as np
    import pytest

    from ai_invoice_ocr_engine_spark import jpeg as J
    from ai_invoice_ocr_engine_spark import kernels as K

    img = _grad_img(32, 32)
    blob = J.encode_jpeg(img, 95, "gray")
    # decode_image dispatches on the SOI magic
    assert np.array_equal(K.decode_image(blob), J.decode_jpeg(blob))
    with pytest.raises(NotImplementedError):  # arithmetic coding (SOF9)
        J.decode_jpeg(b"\xff\xd8\xff\xc9\x00\x04\x08\x00")
    with pytest.raises(ValueError):  # truncated SOF2 header
        J.decode_jpeg(b"\xff\xd8\xff\xc2\x00\x04\x08\x00")
    with pytest.raises(ValueError):  # truncated 16-bit quant table
        J.decode_jpeg(b"\xff\xd8\xff\xdb\x00\x05\x10\x01\x02")
    with pytest.raises(ValueError):  # garbage after SOI
        J.decode_jpeg(b"\xff\xd8\x00\x00")
    with pytest.raises(ValueError):  # truncated scan
        J.decode_jpeg(blob[:100])
    with pytest.raises(ValueError):  # not a JPEG at all
        J.decode_jpeg(b"hello")


def test_bmp_tiff_roundtrip_and_contract():
    """BMP/TIFF complete the reference's accepted-format list: gray
    round-trips are exact, color reduces through the shared rgb_to_gray,
    unsupported variants raise NotImplementedError, corrupt ValueError."""
    import struct

    import numpy as np
    import pytest

    from ai_invoice_ocr_engine_spark import bmptiff as BT

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    assert np.array_equal(BT.decode_bmp(BT.encode_bmp(img)), img)
    assert np.array_equal(K.decode_image(BT.encode_bmp(img)), img)
    for be in (False, True):
        assert np.array_equal(BT.decode_tiff(BT.encode_tiff(img, big_endian=be)), img)
    assert np.array_equal(K.decode_image(BT.encode_tiff(img)), img)

    # 24-bit bottom-up and top-down BMP agree with the shared luma
    h, w = 9, 11
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    row_bytes = (w * 3 + 3) & ~3
    pix_off = 14 + 40
    for top_down in (False, True):
        body = bytearray()
        ys = range(h) if top_down else range(h - 1, -1, -1)
        for y in ys:
            body += rgb[y][:, [2, 1, 0]].tobytes() + bytes(row_bytes - w * 3)
        hdr = b"BM" + struct.pack("<IHHI", pix_off + len(body), 0, 0, pix_off)
        hdr += struct.pack(
            "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
            len(body), 0, 0, 0, 0,
        )
        assert np.array_equal(
            BT.decode_bmp(bytes(hdr) + bytes(body)), K.rgb_to_gray(rgb)
        )

    # RLE8 BMP is a real decoder now: exact round-trip through the
    # fixture encoder (runs, absolute packets, EOL/EOD escapes)
    page = np.full((30, 45), 250, np.uint8)
    page[5:12, 3:40] = 30
    page[20, ::2] = np.arange(23, dtype=np.uint8)  # breaks up runs
    for im in (img, page):
        blob = BT.encode_bmp_rle8(im)
        assert np.array_equal(BT.decode_bmp(blob), im)
        assert np.array_equal(K.decode_image(blob), im)
    # unsupported variants stay loud seams
    badrle = bytearray(BT.encode_bmp(img))
    struct.pack_into("<I", badrle, 30, 2)  # BI_RLE4 on 8-bit: malformed
    with pytest.raises(ValueError):
        BT.decode_bmp(bytes(badrle))
    threebit = bytearray(BT.encode_bmp(img))
    struct.pack_into("<H", threebit, 28, 3)  # 3-bit depth: unsupported seam
    with pytest.raises(NotImplementedError):
        BT.decode_bmp(bytes(threebit))
    oddtif = bytearray(BT.encode_tiff(img))
    ifd_off = struct.unpack_from("<I", oddtif, 4)[0]
    struct.pack_into("<H", oddtif, ifd_off + 2 + 3 * 12 + 8, 32809)  # ThunderScan
    with pytest.raises(NotImplementedError):
        BT.decode_tiff(bytes(oddtif))
    # fax compression on 8-bit samples is malformed, not a seam
    badfax = bytearray(BT.encode_tiff(img))
    struct.pack_into("<H", badfax, ifd_off + 2 + 3 * 12 + 8, 4)
    with pytest.raises(ValueError):
        BT.decode_tiff(bytes(badfax))
    with pytest.raises(ValueError):
        BT.decode_bmp(b"BMxx")
    with pytest.raises(ValueError):
        BT.decode_tiff(b"II*\x00\x00\x00\x00")


# ---- orientation classifier (K16 fallback made real) ----

def test_orientation_classifier_quadrants():
    """Across all four quadrant rotations of rendered pages: (a) an upright
    page is NEVER rotated on a guess (wrong class with conf >= gate), and
    (b) the large majority of rotated multi-line pages are confidently
    assigned the correct rotate_quadrant correction class."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import fixtures as FX

    media = FX.gen_media(7, 24, max_side=512)
    n_rot, n_fixed = 0, 0
    for m in media:
        img = K.decode_synf(bytes(m["image"]))
        for true_rot in (0, 1, 2, 3):
            rimg = np.rot90(img, k=true_rot)
            cls, conf = K.classify_orientation(rimg)
            if true_rot == 0:
                assert cls == 0 or conf < 0.9  # never break an upright page
            else:
                n_rot += 1
                if conf >= 0.9:
                    # when confident it must be RIGHT: correction restores
                    assert cls == true_rot
                    assert np.array_equal(K.rotate_quadrant(rimg, cls), img)
                    n_fixed += 1
    assert n_fixed / n_rot >= 0.8  # abstentions (blank/single-line) allowed


def test_correct_orientation_gate_and_restore():
    import numpy as np

    from ai_invoice_ocr_engine_spark import fixtures as FX

    rng = np.random.default_rng(11)
    img, n_lines = FX.render_media(rng, 400, 300, header_footer=False)
    assert n_lines >= 2
    rot = np.rot90(img, k=2)
    fixed, meta = K.correct_orientation(rot, oth=0.9)
    assert meta["rotated"] and meta["cls"] == 2
    assert np.array_equal(fixed, img)
    # a high gate disables correction entirely
    same, meta2 = K.correct_orientation(rot, oth=0.999)
    assert not meta2["rotated"] and np.array_equal(same, rot)


def test_correct_textline_gate():
    """The cls stage flips only past the confidence gate: the reference's
    heuristic classifier tops out at 0.7, so the default th=0.9 is a
    no-op (reference fallback behavior) while a lowered gate flips a
    left-heavy crop."""
    import numpy as np

    crop = np.full((20, 90), 220, np.uint8)
    crop[:, :30] = np.random.default_rng(0).integers(0, 255, (20, 30))  # noisy left third
    cls, conf = K.textline_flip_class(crop)
    assert cls == 1 and conf == 0.7
    assert np.array_equal(K.correct_textline(crop, th=0.9), crop)  # gated off
    flipped = K.correct_textline(crop, th=0.5)
    assert np.array_equal(flipped, np.rot90(crop, k=2))


def test_jpeg_progressive_equals_baseline():
    """Progressive transmission is a lossless reordering of the same
    quantized coefficients: for ANY image, decoding the progressive stream
    (DC/AC first + refinement scans, EOB runs, correction bits) must be
    BIT-IDENTICAL to decoding the baseline stream at the same quality."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import jpeg as J

    rng = np.random.default_rng(11)
    page = _grad_img(120, 200)
    for q in (90, 60):
        assert np.array_equal(
            J.decode_jpeg(J.encode_jpeg_progressive(page, q, "gray")),
            J.decode_jpeg(J.encode_jpeg(page, q, "gray")),
        )
    # noise hits the EOB-run / ZRL / correction-bit paths hard; odd sizes
    # hit the real-block-grid vs padded-MCU-grid distinction
    for h, w in ((17, 16), (9, 23), (64, 64)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        assert np.array_equal(
            J.decode_jpeg(J.encode_jpeg_progressive(img, 85, "gray")),
            J.decode_jpeg(J.encode_jpeg(img, 85, "gray")),
        )
    for h, w in ((50, 70), (17, 95)):
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(
            J.decode_jpeg(J.encode_jpeg_progressive(rgb, 85, "420")),
            J.decode_jpeg(J.encode_jpeg(rgb, 85, "420")),
        )
    # decode_image dispatches progressive streams transparently
    from ai_invoice_ocr_engine_spark import kernels as K

    blob = J.encode_jpeg_progressive(page, 90, "gray")
    assert np.array_equal(K.decode_image(blob), J.decode_jpeg(blob))


def test_tiff_deflate_and_packbits():
    """Compressed TIFF variants round-trip exactly: Deflate (zlib strips)
    and PackBits RLE; LZW stays a NotImplementedError seam."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT

    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    page = np.full((40, 60), 255, np.uint8)
    page[10:20, 5:50] = 40  # long runs exercise PackBits repeat packets
    for comp in (5, 8, 32773):  # LZW (early-change) / Deflate / PackBits
        for im in (noise, page):
            blob = BT.encode_tiff(im, compression=comp)
            assert np.array_equal(BT.decode_tiff(blob), im)
            assert np.array_equal(K.decode_image(blob), im)
    # LZW with a table reset (large random input) and big-endian container
    big = rng.integers(0, 256, (300, 400), dtype=np.uint8)
    assert np.array_equal(
        BT.decode_tiff(BT.encode_tiff(big, big_endian=True, compression=5)), big
    )
    # horizontal-differencing predictor (tag 317) undone on decode
    import struct as _struct

    diff = page.astype(np.int16).copy()
    diff[:, 1:] = (page[:, 1:].astype(np.int16) - page[:, :-1].astype(np.int16)) & 0xFF
    pix = BT._lzw_encode(diff.astype(np.uint8).tobytes())
    h, w = page.shape
    entries = [(256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, 5),
               (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 3, 1, h),
               (279, 4, 1, len(pix)), (284, 3, 1, 1), (317, 3, 1, 2)]
    ifd = _struct.pack("<H", len(entries))
    for tag, typ, count, val in entries:
        vf = (_struct.pack("<H", val) + b"\x00\x00") if typ == 3 else _struct.pack("<I", val)
        ifd += _struct.pack("<HHI", tag, typ, count) + vf
    ifd += _struct.pack("<I", 0)
    blob = b"II*\x00" + _struct.pack("<I", 8 + len(pix)) + pix + ifd
    assert np.array_equal(BT.decode_tiff(blob), page)


def test_tiff_tiled_roundtrip():
    """Tile-organized TIFF (tags 322-325): exact round-trip for every
    supported lossless compression, both byte orders, edge tiles cropped."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT

    rng = np.random.default_rng(9)
    # 150x220 with tile=64 → ragged 3x4 grid exercises edge-tile cropping
    img = rng.integers(0, 256, (150, 220), dtype=np.uint8)
    for comp in (1, 5, 8, 32773):
        for be in (False, True):
            blob = BT.encode_tiff_tiled(img, tile=64, compression=comp, big_endian=be)
            assert np.array_equal(BT.decode_tiff(blob), img), (comp, be)
    assert np.array_equal(K.decode_image(BT.encode_tiff_tiled(img)), img)


def test_tiff_jpeg_compression_7_and_6():
    """JPEG-in-TIFF: the decoded pixels must equal decode_jpeg of the same
    underlying stream exactly (the plumbing adds no loss beyond JPEG's own),
    across single-strip, tiled, shared-JPEGTables (tag 347, abbreviated
    streams) and old-style JPEGInterchangeFormat (compression 6) layouts."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT
    from ai_invoice_ocr_engine_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    img = np.full((150, 220), 255, np.uint8)
    img[40:60, 30:190] = 50
    img = (img.astype(int) + rng.integers(-5, 6, img.shape)).clip(0, 255).astype(np.uint8)
    ref = decode_jpeg(encode_jpeg(img, quality=90))
    # new-style, one full-height strip
    assert np.array_equal(BT.decode_tiff(BT.encode_tiff_jpeg(img, quality=90)), ref)
    # shared JPEGTables: merge path must reproduce the full-stream decode
    assert np.array_equal(
        BT.decode_tiff(BT.encode_tiff_jpeg(img, quality=90, shared_tables=True)), ref
    )
    # tiled, with and without shared tables: identical pixels either way
    a = BT.decode_tiff(BT.encode_tiff_jpeg(img, quality=85, tile=64))
    b = BT.decode_tiff(BT.encode_tiff_jpeg(img, quality=85, tile=64, shared_tables=True))
    assert a.shape == img.shape and np.array_equal(a, b)
    assert float(np.abs(a.astype(int) - img.astype(int)).mean()) < 4.0
    # old-style compression 6 via JPEGInterchangeFormat
    assert np.array_equal(BT.decode_tiff(BT.encode_tiff_oldjpeg(img, quality=90)), ref)
    # big-endian container around little-endian JPEG payload
    assert np.array_equal(
        BT.decode_tiff(BT.encode_tiff_jpeg(img, quality=90, big_endian=True)), ref
    )
    # dispatch through the polymorphic reader
    assert np.array_equal(K.decode_image(BT.encode_tiff_oldjpeg(img, quality=90)), ref)


def test_jpeg_noninterleaved_baseline_scans():
    """Code-review r2 finding: single-component baseline scans are
    NON-interleaved per T.81 A.2.2 (real block grid, not the padded MCU
    grid) and a baseline file may carry one scan per component — both the
    shapes scan-per-component writers emit. Decode must equal the ordinary
    interleaved encoding of the same pixels."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import jpeg as jm

    def build(h, w, comps_spec, scans):
        hmax = max(hs for _, hs, _, _, _ in comps_spec)
        vmax = max(vs for _, _, vs, _, _ in comps_spec)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        ql = jm._scale_quant(jm.QUANT_LUM, 88)
        qc = jm._scale_quant(jm.QUANT_CHROM, 88)
        qts = {0: ql, 1: qc}
        dc0 = jm._HuffTable(jm.DC_LUM_BITS, jm.DC_LUM_VALS)
        ac0 = jm._HuffTable(jm.AC_LUM_BITS, jm.AC_LUM_VALS)

        def emit_block(bw, zz, pred):
            diff = int(zz[0]) - pred
            s = jm._category(diff)
            code, ln = dc0.enc[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            nz = np.nonzero(zz[1:])[0]
            last = (nz[-1] + 1) if len(nz) else 0
            run = 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, l2 = ac0.enc[0xF0]
                    bw.write(c, l2)
                    run -= 16
                s = jm._category(v)
                c, l2 = ac0.enc[(run << 4) | s]
                bw.write(c, l2)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last < 63:
                c, l2 = ac0.enc[0x00]
                bw.write(c, l2)
            return int(zz[0])

        coefs = {
            cid: jm._quantize_plane(pl, qts[tq][jm.ZIGZAG_INV], mcuy * vs, mcux * hs)
            for cid, hs, vs, tq, pl in comps_spec
        }
        out = bytearray(b"\xff\xd8")
        out += jm._seg(0xDB, bytes([0]) + bytes(ql.tolist()))
        out += jm._seg(0xDB, bytes([1]) + bytes(qc.tolist()))
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([len(comps_spec)])
        for cid, hs, vs, tq, _ in comps_spec:
            sof += bytes([cid, (hs << 4) | vs, tq])
        out += jm._seg(0xC0, sof)
        out += jm._seg(0xC4, jm._dht_payload(0, 0, jm.DC_LUM_BITS, jm.DC_LUM_VALS))
        out += jm._seg(0xC4, jm._dht_payload(1, 0, jm.AC_LUM_BITS, jm.AC_LUM_VALS))
        for cids in scans:
            body = bytes([len(cids)]) + b"".join(bytes([c, 0]) for c in cids)
            body += bytes([0, 63, 0])
            out += jm._seg(0xDA, body)
            bw = jm._BitWriter()
            pred = {c: 0 for c in cids}
            for cid in cids:
                _, hs, vs, tq, _pl = next(cs for cs in comps_spec if cs[0] == cid)
                assert len(cids) == 1  # this builder only emits non-interleaved scans
                for bi in jm._comp_blocks({"hs": hs, "vs": vs}, h, w, hmax, vmax):
                    pred[cid] = emit_block(bw, coefs[cid][bi], pred[cid])
            bw.flush()
            out += bw.out
        return bytes(out) + b"\xff\xd9"

    rng = np.random.default_rng(7)
    # single-component image declaring 2x2 sampling (odd size: real grid
    # differs from the padded MCU grid)
    img = rng.integers(0, 256, (17, 20), dtype=np.uint8)
    blob = build(17, 20, [(1, 2, 2, 0, img)], [[1]])
    assert np.array_equal(
        jm.decode_jpeg(blob), jm.decode_jpeg(jm.encode_jpeg(img, 88, "gray"))
    )
    # scan-per-component color 4:4:4
    rgb = rng.integers(0, 256, (30, 26, 3), dtype=np.uint8)
    y, cb, cr = jm._rgb_to_ycbcr(rgb)
    blob = build(30, 26, [(1, 1, 1, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)],
                 [[1], [2], [3]])
    assert np.array_equal(
        jm.decode_jpeg(blob), jm.decode_jpeg(jm.encode_jpeg(rgb, 88, "444"))
    )


def test_tiff_fax_and_bilevel():
    """CCITT fax G4 (compression 4) + MH (compression 2) + packed 1-bit
    uncompressed: exact round-trips both endians; photometric 0 maps
    stored 1 (black) to gray 0; a G4-encoded rendered page still yields
    the full line set through the normal extraction path."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT
    from ai_invoice_ocr_engine_spark import fax

    rng = np.random.default_rng(13)
    masks = [
        (rng.random((80, 130)) < 0.25).astype(np.uint8),
        np.zeros((10, 50), np.uint8),          # all white
        np.ones((10, 50), np.uint8),           # all black
        np.tile(np.arange(64) % 2, (8, 1)).astype(np.uint8),  # max changes
    ]
    wide = np.zeros((4, 3000), np.uint8)
    wide[1, 100:2900] = 1                       # runs past the 1728 makeups
    masks.append(wide)
    for m in masks:
        h, w = m.shape
        assert np.array_equal(fax.decode_g4(fax.encode_g4(m), w, h), m)
        assert np.array_equal(fax.decode_mh(fax.encode_mh(m), w, h), m)
        assert np.array_equal(fax.decode_t4(fax.encode_t4(m), w, h), m)
    mask = masks[0]
    want = np.where(mask == 1, 0, 255).astype(np.uint8)
    for comp in (1, 2, 3, 4):
        for be in (False, True):
            g = BT.decode_tiff(BT.encode_tiff_fax(mask, compression=comp, big_endian=be))
            assert np.array_equal(g, want), (comp, be)
    assert np.array_equal(K.decode_image(BT.encode_tiff_fax(mask)), want)
    # spec vector (not a round-trip): all-white 1728 MH line must be the
    # published makeup-1728 + terminating-0 codes
    bits = "".join(f"{b:08b}" for b in fax.encode_mh(np.zeros((1, 1728), np.uint8)))
    assert bits.startswith("010011011" + "00110101")
    # G3 2D (T4Options bit 0): K-factor alternating streams round-trip
    m2 = masks[0]
    h2, w2 = m2.shape
    for k in (2, 4):
        enc = fax.encode_t4(m2, two_d=True, k=k)
        assert np.array_equal(fax.decode_t4(enc, w2, h2, two_d=True), m2)


def test_fax_page_extraction_end_to_end():
    """A rendered page thresholded to bilevel, G4-encoded, must come back
    through decode_image and produce the same number of reading-order
    lines as the grayscale original (fax is how archival invoices arrive)."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT
    from ai_invoice_ocr_engine_spark import fixtures as FX
    from ai_invoice_ocr_engine_spark.config import ExtractConfig
    from ai_invoice_ocr_engine_spark.extractor import extract_media_lines

    img, _n = FX.render_media(np.random.default_rng(7), 500, 400, header_footer=False)
    cfg = ExtractConfig()
    w = K.crnn_weights(cfg.rec.weight_seed)
    gray_lines = extract_media_lines(K.encode_synf(img), cfg, w)
    blob = BT.encode_tiff_fax((img < 128).astype(np.uint8), compression=4)
    fax_lines = extract_media_lines(bytes(blob), cfg, w)
    assert len(fax_lines) == len(gray_lines) == 8


def test_png_extended_depths_palette_interlace():
    """PNG seams closed: 1/2/4/16-bit gray, palette (PLTE), RGB through
    the ext writer, all × Adam7 interlace — exact round-trips with the
    documented reductions (high byte for 16-bit, full-range scaling for
    sub-byte, PLTE expansion through the shared rgb_to_gray)."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (45, 67), dtype=np.uint8)
    # Adam7 pass table covers every pixel exactly once
    cov = np.zeros((16, 16), int)
    for x0, y0, dx, dy in K._ADAM7:
        cov[y0::dy, x0::dx] += 1
    assert (cov == 1).all()
    assert np.array_equal(K.decode_png(K.encode_png_ext(img)), img)
    assert np.array_equal(K.decode_png(K.encode_png_ext(img, interlace=1)), img)
    assert np.array_equal(K.decode_png(K.encode_png_ext(img, depth=16)), img)
    assert np.array_equal(
        K.decode_png(K.encode_png_ext(img, depth=16, interlace=1)), img
    )
    for d in (1, 2, 4):
        mx = (1 << d) - 1
        s = rng.integers(0, mx + 1, (23, 31)).astype(np.uint8)
        want = (s.astype(np.uint16) * 255 // mx).astype(np.uint8)
        assert np.array_equal(K.decode_png(K.encode_png_ext(s, depth=d)), want)
        assert np.array_equal(
            K.decode_png(K.encode_png_ext(s, depth=d, interlace=1)), want
        )
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (30, 40)).astype(np.uint8)
    want = K.rgb_to_gray(pal[idx])
    for d in (4, 8):
        assert np.array_equal(
            K.decode_png(K.encode_png_ext(idx, depth=d, ctype=3, palette=pal)), want
        )
    assert np.array_equal(
        K.decode_png(K.encode_png_ext(idx, depth=8, ctype=3, palette=pal, interlace=1)),
        want,
    )
    rgb = rng.integers(0, 256, (20, 25, 3), dtype=np.uint8)
    assert np.array_equal(K.decode_png(K.encode_png_ext(rgb, ctype=2)), K.rgb_to_gray(rgb))
    # contracts: truncated palette stream, index past PLTE, missing PLTE
    blob = K.encode_png_ext(idx, depth=8, ctype=3, palette=pal)
    with pytest.raises(ValueError):
        K.decode_png(blob[:60])
    with pytest.raises(ValueError):
        K.decode_png(K.encode_png_ext(idx + 100, depth=8, ctype=3, palette=pal[:8]))


def test_tiff_sample_layouts():
    """TIFF sample-layout seams closed: 4-bit gray (packed nibbles →
    v*17 expansion), 16-bit gray/RGB (high byte, both byte orders,
    predictor 2), 4/8-bit palette via ColorMap (16-bit entries → high
    byte), and planar configuration 2 — each pinned against the
    analytic expansion, not a round-trip of one code path."""
    import numpy as np
    import pytest

    from ai_invoice_ocr_engine_spark import bmptiff as BT

    rng = np.random.default_rng(29)
    # 4-bit gray: stored nibbles expand v -> v*17
    idx = rng.integers(0, 16, (21, 33)).astype(np.uint8)
    for be in (False, True):
        got = BT.decode_tiff(BT.encode_tiff_ext(idx, bits=4, big_endian=be))
        assert np.array_equal(got, (idx.astype(np.uint16) * 17).astype(np.uint8))
    # white-is-zero inverts the expanded value
    got = BT.decode_tiff(BT.encode_tiff_ext(idx, bits=4, photometric=0))
    assert np.array_equal(got, 255 - (idx.astype(np.uint16) * 17).astype(np.uint8))

    # 16-bit gray keeps the high byte; multi-strip + predictor 2 + both orders
    g = rng.integers(0, 256, (40, 27), dtype=np.uint8)
    for be in (False, True):
        for pred in (1, 2):
            blob = BT.encode_tiff_ext(g, bits=16, big_endian=be,
                                      predictor=pred, rows_per_strip=13)
            assert np.array_equal(BT.decode_tiff(blob), g), (be, pred)

    # 16-bit chunky RGB reduces through the shared luma
    rgb = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    got = BT.decode_tiff(BT.encode_tiff_ext(rgb, bits=16))
    assert np.array_equal(got, K.rgb_to_gray(rgb))

    # palette 4- and 8-bit: ColorMap entries are 16-bit, decoder keeps
    # the high byte, and white-is-zero must NOT invert palette output
    for bits in (4, 8):
        n = 1 << bits
        pidx = rng.integers(0, n, (19, 31)).astype(np.uint8)
        cmap = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        want = K.rgb_to_gray(cmap[pidx])
        for be in (False, True):
            blob = BT.encode_tiff_ext(pidx, bits=bits, colormap=cmap, big_endian=be)
            assert np.array_equal(BT.decode_tiff(blob), want), (bits, be)
        assert np.array_equal(K.decode_image(blob), want)

    # planar configuration 2: plane-grouped strips reassemble exactly
    for bits in (8, 16):
        for rps in (None, 7):
            blob = BT.encode_tiff_ext(rgb, bits=bits, planar=2, rows_per_strip=rps)
            assert np.array_equal(BT.decode_tiff(blob), K.rgb_to_gray(rgb)), (bits, rps)

    # planar for spp=1 is meaningless and must not change the result
    assert np.array_equal(BT.decode_tiff(BT.encode_tiff_ext(g, planar=2)), g)

    # seams stay loud / corrupt stays ValueError
    with pytest.raises(ValueError):  # palette without ColorMap
        blob = bytearray(BT.encode_tiff_ext(pidx, bits=8, colormap=cmap))
        # truncate the colormap count via a fresh encode without the tag
        BT.decode_tiff(BT.encode_tiff_ext(pidx, bits=8, photometric=3))
    with pytest.raises(NotImplementedError):  # 2-bit samples
        BT.decode_tiff(BT.encode_tiff_ext(idx, bits=2))


def test_bmp_lowbit_rle4_and_16bit():
    """BMP seams closed: 1/4-bit paletted, BI_RLE4, and 16-bit 565/555
    (bitfields + BI_RGB default) — exact vs the analytic channel
    expansion, all through the shared rgb_to_gray."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT

    rng = np.random.default_rng(41)
    for bpp in (1, 4):
        n = 1 << bpp
        idx = rng.integers(0, n, (37, 53)).astype(np.uint8)
        pal = np.stack([np.arange(n) * (255 // (n - 1))] * 3, axis=1).astype(np.uint8)
        want = K.rgb_to_gray(pal[idx])
        assert np.array_equal(BT.decode_bmp(BT.encode_bmp_lowbit(idx, bpp)), want)
    for pat in (
        rng.integers(0, 16, (20, 31)).astype(np.uint8),
        np.tile(np.array([5] * 10 + [3, 7] * 5 + [1], np.uint8), (8, 1)),
        np.zeros((5, 9), np.uint8),
    ):
        pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
        want = K.rgb_to_gray(pal[pat])
        assert np.array_equal(BT.decode_bmp(BT.encode_bmp_rle4(pat)), want)
    rgb = rng.integers(0, 256, (25, 40, 3), dtype=np.uint8).astype(np.int64)
    for fmt, gdiv in (("565", 63), ("555", 31)):
        r = (rgb[..., 0] >> 3) * 255 // 31
        g = (rgb[..., 1] >> (2 if fmt == "565" else 3)) * 255 // gdiv
        b = (rgb[..., 2] >> 3) * 255 // 31
        want = K.rgb_to_gray(np.stack([r, g, b], axis=2).astype(np.uint8))
        got = BT.decode_bmp(BT.encode_bmp16(rgb.astype(np.uint8), fmt))
        assert np.array_equal(got, want), fmt
    # invalid mask triples are corrupt headers, not seams
    import struct

    blob = bytearray(BT.encode_bmp16(rgb.astype(np.uint8), "565"))
    for bad in ((0xF800, 0x0FE0, 0x001F),   # overlapping
                (0xF800, 0x07E0, 0x0000),   # zero mask
                (0xD800, 0x07E0, 0x001F),   # non-contiguous
                (0x1F800, 0x07E0, 0x001F)):  # out of 16-bit range
        struct.pack_into("<III", blob, 54, *bad)
        with pytest.raises(ValueError):
            BT.decode_bmp(bytes(blob))


def test_bmp_2bit_and_arbitrary_bitfields():
    """The last BMP seams closed: 2-bit paletted depth (Windows CE
    variant) and BI_BITFIELDS with any valid mask triple — 4-4-4,
    2-10-10-10, byte-reversed 32-bit — all checked against the analytic
    per-channel expansion (pack truncation, then decode's v*255//maxv)."""
    import numpy as np
    import pytest

    from ai_invoice_ocr_engine_spark import bmptiff as BT

    rng = np.random.default_rng(17)
    idx = rng.integers(0, 4, (23, 41)).astype(np.uint8)
    pal = np.stack([np.arange(4) * 85] * 3, axis=1).astype(np.uint8)
    want = K.rgb_to_gray(pal[idx])
    blob = BT.encode_bmp_lowbit(idx, 2)
    assert np.array_equal(BT.decode_bmp(blob), want)
    assert np.array_equal(K.decode_image(blob), want)

    rgb = rng.integers(0, 256, (19, 29, 3), dtype=np.uint8)
    cases = [
        (16, (0x0F00, 0x00F0, 0x000F)),            # 4-4-4
        (16, (0x001F, 0x03E0, 0x7C00)),            # reversed 555
        (32, (0x3FF00000, 0x000FFC00, 0x000003FF)),  # 10-10-10
        (32, (0x000000FF, 0x0000FF00, 0x00FF0000)),  # RGB low-byte-first
    ]
    for bpp, masks in cases:
        chans = []
        for ch, m in zip(range(3), masks):
            shift = (m & -m).bit_length() - 1
            nbits = (m >> shift).bit_length()
            mx = (1 << nbits) - 1
            c = rgb[..., ch].astype(np.int64)
            c = (c >> (8 - nbits)) if nbits <= 8 else (c << (nbits - 8))
            chans.append(c * 255 // mx)
        want = K.rgb_to_gray(np.stack(chans, axis=2).astype(np.uint8))
        got = BT.decode_bmp(BT.encode_bmp_bitfields(rgb, bpp, masks))
        assert np.array_equal(got, want), (bpp, masks)
    with pytest.raises(ValueError):
        BT.encode_bmp_bitfields(rgb, 16, (0xF800, 0x0FE0, 0x001F))


def test_decode_image_error_contract_fuzz():
    """The skip-policy contract, fuzz-pinned: decode_image on corrupt bytes
    (truncations, random mutations, garbage behind every magic) raises ONLY
    ValueError / NotImplementedError — never struct.error / IndexError /
    OverflowError (each of which was found and fixed by this fuzz) — and
    header-driven buffer allocation is capped (MAX_DECODE_PIXELS) so a
    corrupt dims field cannot demand a multi-GB memset."""
    from ai_invoice_ocr_engine_spark import bmptiff as BT
    from ai_invoice_ocr_engine_spark.jpeg import encode_jpeg

    rng = np.random.default_rng(3)
    img = np.full((24, 32), 255, np.uint8)
    img[6:12, 6:26] = 40
    valids = [
        K.encode_synf(img), K.encode_png(img, 4),
        K.encode_png_ext(img, interlace=1), encode_jpeg(img, quality=80),
        BT.encode_bmp(img), BT.encode_bmp_rle8(img),
        BT.encode_tiff(img, compression=5), BT.encode_tiff_tiled(img, tile=16),
        BT.encode_tiff_jpeg(img, quality=80),
        BT.encode_tiff_fax((img < 128).astype(np.uint8)),
        BT.encode_bmp16(np.stack([img] * 3, axis=2)),
        BT.encode_bmp_lowbit((img >> 4).astype(np.uint8), 4),
        BT.encode_bmp_lowbit((img >> 6).astype(np.uint8), 2),
        BT.encode_bmp_rle4((img >> 4).astype(np.uint8)),
        BT.encode_bmp_bitfields(
            np.stack([img] * 3, axis=2), 32, (0x3FF00000, 0x000FFC00, 0x3FF)
        ),
        BT.encode_tiff_ext(img, bits=16, predictor=2, rows_per_strip=9),
        BT.encode_tiff_ext(
            (img >> 4).astype(np.uint8),
            bits=4,
            colormap=np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8),
        ),
        BT.encode_tiff_ext(np.stack([img] * 3, axis=2), planar=2, rows_per_strip=7),
    ]
    from ai_invoice_ocr_engine_spark.gif import encode_gif

    valids += [encode_gif(img), encode_gif(img, interlace=True),
               encode_gif([img, img[4:12, 4:20]], offsets=[(0, 0), (4, 4)])]
    from .test_jpeg_spec_fixtures import _ll_stream

    valids += [_ll_stream({1: img}, 8, sel=4),
               _ll_stream({1: img.astype(np.uint16) << 8}, 16, sel=7, pt=1,
                          restart=32)]

    def probe(data):
        try:
            K.decode_image(bytes(data))
        except (ValueError, NotImplementedError):
            pass  # the ONLY allowed failure modes

    for v in valids:
        for cut in range(0, len(v), max(1, len(v) // 25)):
            probe(v[:cut])
        for _ in range(40):
            bb = bytearray(v)
            for _k in range(int(rng.integers(1, 6))):
                bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
            probe(bytes(bb))
    for m in (b"SYNF", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"BM", b"II*\x00",
              b"GIF89a", b"GIF87a"):
        for _ in range(60):
            probe(m + bytes(rng.integers(0, 256, int(rng.integers(0, 120)), dtype=np.uint8)))
    # the dims cap itself
    import struct as _struct

    huge = bytearray(BT.encode_bmp(img))
    _struct.pack_into("<ii", huge, 18, 1 << 20, 1 << 20)
    with pytest.raises(ValueError, match="implausible"):
        BT.decode_bmp(bytes(huge))


def test_bmp_os2_core_header():
    """OS/2 BITMAPCOREHEADER (12-byte): 16-bit unsigned dims, no
    compression field, 3-byte BGR palette entries — the last BMP
    header vintage, hand-assembled so no fixture encoder is involved."""
    import struct

    from ai_invoice_ocr_engine_spark.kernels import decode_image, rgb_to_gray

    def core_bmp(img, bpp):
        h, w = img.shape[:2]
        if bpp == 24:
            row = ((w * 3 + 3) // 4) * 4
            px = bytearray()
            for y in range(h - 1, -1, -1):
                r = bytearray()
                for x in range(w):
                    r += bytes([int(img[y, x, 2]), int(img[y, x, 1]),
                                int(img[y, x, 0])])
                r += b"\x00" * (row - len(r))
                px += r
            pal = b""
        else:
            pal = b"".join(bytes([i, i, i]) for i in range(256))
            row = ((w + 3) // 4) * 4
            px = bytearray()
            for y in range(h - 1, -1, -1):
                px += bytes(int(v) for v in img[y]) + b"\x00" * (row - w)
        off = 14 + 12 + len(pal)
        hdr = b"BM" + struct.pack("<IHHI", off + len(px), 0, 0, off)
        hdr += struct.pack("<IHHHH", 12, w, h, 1, bpp)
        return hdr + pal + bytes(px)

    rng = np.random.default_rng(55)
    g = rng.integers(0, 256, (13, 10), np.uint8)
    assert np.array_equal(decode_image(core_bmp(g, 8)), g)
    rgb = rng.integers(0, 256, (9, 7, 3), np.uint8)
    assert np.array_equal(decode_image(core_bmp(rgb, 24)),
                          rgb_to_gray(rgb))


def test_polymorphic_reader_random_matrix_soak():
    """Randomized layout soak through decode_image's polymorphic front
    door: PNG (all five filters, Adam7, gray + RGB) x BMP (24-bit, RLE8)
    x TIFF (none/LZW/Deflate/PackBits, strips + tiles, both endians) on
    random sizes incl. 1-pixel edges; 400-case runs on record clean."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import bmptiff as BT
    from ai_invoice_ocr_engine_spark import kernels as K

    rng = np.random.default_rng(20260820)
    for i in range(60):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        kind = int(rng.integers(0, 3))
        if kind == 1:
            yy, xx = np.mgrid[0:h, 0:w]
            g = ((yy * 3 + xx * 5) % 256).astype(np.uint8)
        elif kind == 2:
            g = np.full((h, w), 255, np.uint8)
            g[::3, ::2] = 0
        else:
            g = rng.integers(0, 256, (h, w), np.uint8)
        c = int(rng.integers(0, 6))
        if c == 0:
            data = K.encode_png(g, filter_type=int(rng.integers(0, 5)))
            want = g
        elif c == 1:
            data = K.encode_png_ext(
                g, depth=8, ctype=0, interlace=int(rng.integers(0, 2)))
            want = g
        elif c == 2:
            rgb = rng.integers(0, 256, (h, w, 3), np.uint8)
            data = K.encode_png_ext(
                rgb, depth=8, ctype=2, interlace=int(rng.integers(0, 2)))
            want = K.rgb_to_gray(rgb)
        elif c == 3:
            data = (BT.encode_bmp(g) if rng.random() < 0.5
                    else BT.encode_bmp_rle8(g))
            want = g
        elif c == 4:
            comp = [1, 5, 8, 32773][int(rng.integers(0, 4))]
            data = BT.encode_tiff(
                g, big_endian=bool(rng.random() < 0.5), compression=comp)
            want = g
        else:
            comp = [1, 5, 8][int(rng.integers(0, 3))]
            data = BT.encode_tiff_tiled(
                g, tile=[16, 32, 64][int(rng.integers(0, 3))],
                compression=comp, big_endian=bool(rng.random() < 0.5))
            want = g
        assert np.array_equal(K.decode_image(data), want), f"case {i}/{c}"


# ---- PNG unfilter: round trips against the source samples ----
#
# The oracle is the samples themselves, filtered by the test-side encoder
# below (each predictor computed from SOURCE bytes, PNG spec §9), so a bug
# shared by the decoder's two Average/Paeth paths cannot hide.

def _filter_rows(src: np.ndarray, ftypes, bpp: int) -> np.ndarray:
    """(h, rb) source bytes → (h, 1 + rb) scanlines, row y filtered with
    ``ftypes[y]`` (an invalid type > 4 is written with the bytes as-is)."""
    s = src.astype(np.int32)
    h, rb = s.shape
    up = np.vstack([np.zeros((1, rb), np.int32), s[:-1]])
    left = np.hstack([np.zeros((h, bpp), np.int32), s[:, :-bpp]])
    upleft = np.hstack([np.zeros((h, bpp), np.int32), up[:, :-bpp]])
    p = left + up - upleft
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    preds = [np.zeros_like(s), left, up, (left + up) >> 1, paeth]
    out = np.empty((h, 1 + rb), np.uint8)
    for y, f in enumerate(ftypes):
        out[y, 0] = f
        out[y, 1:] = (s[y] - preds[f][y]) & 0xFF if f < 5 else s[y]
    return out


def _png_file(samples: np.ndarray, ctype: int, depth: int, filters, interlace: int = 0) -> bytes:
    """PNG of (h, w, nch) samples (uint16 when depth is 16), every pass's
    rows filtered with ``filters(n_rows)``."""
    import struct
    import zlib

    h, w, nch = samples.shape
    bpp = nch * depth // 8

    def pass_bytes(sub: np.ndarray) -> bytes:
        ph, pw = sub.shape[:2]
        if not ph or not pw:
            return b""
        flat = sub.reshape(ph, pw * nch)
        rows = flat.astype(">u2").view(np.uint8) if depth == 16 else flat.astype(np.uint8)
        return _filter_rows(rows.reshape(ph, -1), filters(ph), bpp).tobytes()

    if interlace:
        body = b"".join(pass_bytes(samples[y0::dy, x0::dx]) for x0, y0, dx, dy in K._ADAM7)
    else:
        body = pass_bytes(samples)

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload)) + typ + payload + struct.pack(
            ">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (K.PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(body))
            + chunk(b"IEND", b""))


def _png_gray(samples: np.ndarray, nch: int, depth: int) -> np.ndarray:
    """What decode_png must return for these samples."""
    hi = (samples >> 8).astype(np.uint8) if depth == 16 else samples.astype(np.uint8)
    return hi[:, :, 0] if nch <= 2 else K.rgb_to_gray(hi[:, :, :3])


def _mixed_filters(n: int) -> list:
    """Lone Paeth and Average rows beside long Paeth/Average runs and a
    mixed 3/4 run, between None/Sub/Up rows."""
    pat = [4, 1, 4, 3, 2, 0] + [4] * 20 + [3, 4, 3, 4, 4, 3] + [1] + [3] * 9 + [2, 4]
    return [pat[i % len(pat)] for i in range(n)]


#: (step cost, block cap) forcing each Average/Paeth path
_UNFILTER_PATHS = {
    "auto": None,
    "list": (1 << 40, None),
    "wavefront": (0, None),
    "blocked": (0, 256),
}


@pytest.fixture(params=sorted(_UNFILTER_PATHS))
def unfilter_path(request, monkeypatch):
    forced = _UNFILTER_PATHS[request.param]
    if forced:
        monkeypatch.setattr(K, "_WAVE_STEP_BYTES", forced[0])
        if forced[1]:
            monkeypatch.setattr(K, "_WAVE_MAX_CELLS", forced[1])
    return request.param


def test_unfilter_png_every_filter_and_bpp(unfilter_path):
    rng = np.random.default_rng(40)
    for bpp in (1, 2, 3, 4, 6, 8):
        for data in (
            rng.integers(0, 256, (11, 9 * bpp), dtype=np.uint8),
            rng.choice(np.array([0, 1, 2, 254, 255], np.uint8), (11, 9 * bpp)),  # ties
        ):
            h, rb = data.shape
            for ftypes in ([[f] * h for f in range(5)]
                           + [rng.integers(0, 5, h).tolist(), _mixed_filters(h)]):
                raw = _filter_rows(data, ftypes, bpp).reshape(-1)
                got = K._unfilter_png(raw, h, rb, bpp)
                assert np.array_equal(got, data), (bpp, ftypes)


def test_unfilter_png_chooses_path_per_run(monkeypatch):
    """A lone Paeth row takes the list loop; a long run takes the
    wavefront; the mixed image still round-trips."""
    runs = []
    real = K._unfilter_wavefront

    def spy(out, y0, y1, *args):
        runs.append((y0, y1))
        return real(out, y0, y1, *args)

    monkeypatch.setattr(K, "_unfilter_wavefront", spy)
    ftypes = [4, 1] + [4] * 64 + [0] + [3, 4, 3] * 20
    data = np.random.default_rng(41).integers(0, 256, (len(ftypes), 256), dtype=np.uint8)
    raw = _filter_rows(data, ftypes, 4).reshape(-1)
    assert np.array_equal(K._unfilter_png(raw, len(ftypes), 256, 4), data)
    assert (2, 66) in runs and (67, 127) in runs
    assert all(y0 >= 2 for y0, _ in runs)  # the lone row 0 stayed on the list loop


@pytest.mark.parametrize(
    "ctype,depth", [(0, 8), (4, 8), (2, 8), (6, 8), (0, 16), (2, 16), (6, 16)]
)
def test_decode_png_filter_mix_roundtrip(ctype, depth, unfilter_path):
    """Gray, gray+alpha, RGB, RGBA at 8 and 16 bits (bpp 1/2/3/4/2/6/8),
    plain and Adam7, with mixed per-row filters."""
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    rng = np.random.default_rng(42 + ctype + depth)
    s = rng.integers(0, 1 << depth, (37, 29, nch)).astype(np.uint16 if depth == 16 else np.uint8)
    for interlace in (0, 1):
        data = _png_file(s, ctype, depth, _mixed_filters, interlace)
        assert np.array_equal(K.decode_png(data), _png_gray(s, nch, depth)), interlace


def test_decode_png_degenerate_shapes(unfilter_path):
    rng = np.random.default_rng(43)
    for shape in ((1, 1), (1, 23), (23, 1)):
        for ctype, depth, nch in ((0, 8, 1), (6, 16, 4)):
            s = rng.integers(0, 1 << depth, shape + (nch,)).astype(
                np.uint16 if depth == 16 else np.uint8)
            for f in range(5):
                for interlace in (0, 1):
                    data = _png_file(s, ctype, depth, lambda n: [f] * n, interlace)
                    assert np.array_equal(K.decode_png(data), _png_gray(s, nch, depth)), (
                        shape, ctype, f, interlace)


def test_unfilter_png_error_contract(unfilter_path):
    """A bad filter type after a long Paeth run and truncated pixel data
    both raise ValueError."""
    import struct
    import zlib

    rng = np.random.default_rng(44)
    s = rng.integers(0, 256, (60, 50, 1), dtype=np.uint8)
    data = _png_file(s, 0, 8, lambda n: [4] * (n - 1) + [5])
    with pytest.raises(ValueError, match="filter type 5"):
        K.decode_png(data)
    raw = _filter_rows(s[:, :, 0], [4] * 60, 1).reshape(-1)
    with pytest.raises(ValueError, match="truncated"):
        K._unfilter_png(raw[:-1], 60, 50, 1)
    # IDAT that inflates to one byte short of the pixel data
    good = _png_file(s, 0, 8, lambda n: [4] * n)
    short = zlib.compress(raw[:-1].tobytes())
    head = good[: good.index(b"IDAT") - 4]
    idat = struct.pack(">I", len(short)) + b"IDAT" + short + struct.pack(
        ">I", zlib.crc32(b"IDAT" + short) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="truncated"):
        K.decode_png(head + idat)
    # IDAT cut mid-stream
    with pytest.raises(ValueError):
        K.decode_png(good[: len(good) - 40])


# ---- JPEG Huffman table cache ----

def _jpeg_gray_custom_dht(img: np.ndarray, quality: int = 85) -> bytes:
    """Baseline gray JPEG with the same coefficients as encode_jpeg but
    non-Annex-K Huffman tables (flat 4-bit DC codes, flat 8-bit AC codes)."""
    from ai_invoice_ocr_engine_spark import jpeg as jm

    dc_bits, dc_vals = [0, 0, 0, 12] + [0] * 12, jm.DC_LUM_VALS
    ac_bits, ac_vals = [0] * 7 + [len(jm.AC_LUM_VALS)] + [0] * 8, sorted(jm.AC_LUM_VALS)
    ql = jm._scale_quant(jm.QUANT_LUM, quality)
    bw = jm._BitWriter()
    jm._encode_component(bw, jm._blocks_of(img), ql[jm.ZIGZAG_INV],
                         jm._HuffTable(dc_bits, dc_vals), jm._HuffTable(ac_bits, ac_vals), 0)
    bw.flush()
    h, w = img.shape
    return (b"\xff\xd8" + jm._seg(0xDB, bytes([0]) + bytes(ql.tolist()))
            + jm._seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                      + bytes([1, 1, 0x11, 0]))
            + jm._seg(0xC4, jm._dht_payload(0, 0, dc_bits, dc_vals))
            + jm._seg(0xC4, jm._dht_payload(1, 0, ac_bits, ac_vals))
            + jm._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + bytes(bw.out) + b"\xff\xd9")


def test_jpeg_huffman_cache_keeps_tables_apart():
    """Custom-DHT and Annex-K frames decoded back to back, in either order,
    equal their cold-cache decodes; the cache stays bounded."""
    from ai_invoice_ocr_engine_spark import jpeg as jm

    img = np.random.default_rng(45).integers(0, 256, (24, 40), dtype=np.uint8)
    annex_k, custom = jm.encode_jpeg(img, quality=85), _jpeg_gray_custom_dht(img)
    assert annex_k != custom
    cold = {}
    for data in (annex_k, custom):
        jm._huff_table.cache_clear()
        cold[data] = jm.decode_jpeg(data)
    # entropy coding is lossless: same coefficients, same pixels
    assert np.array_equal(cold[annex_k], cold[custom])
    for order in ((annex_k, custom), (custom, annex_k)):
        jm._huff_table.cache_clear()
        for data in order + order:
            assert np.array_equal(jm.decode_jpeg(data), cold[data])
    assert jm._huff_table.cache_info().hits > 0
    maxsize = jm._huff_table.cache_info().maxsize
    assert maxsize is not None and maxsize <= 64
    for k in range(maxsize + 8):  # distinct one-code tables
        jm._huff_table(bytes([1] + [0] * 15), bytes([k]))
    assert jm._huff_table.cache_info().currsize == maxsize
