"""End-to-end golden tests (SURVEY.md §5.2(3)): the Spark pipeline must
reproduce the single-process oracle's span sequences exactly, under both
media deliveries (byte shuffle and per-node blob), including all edge
documents."""

import pytest

from ai_invoice_ocr_engine_spark import oracle as O
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.pipeline import extract

from .util import assert_span_equal, spans_key


# one case: the "frames" id keeps the test name stable
@pytest.mark.parametrize("plan", ["frames"])
def test_golden_equality(spark, corpus, golden_spans, plan):
    """The byte-shuffle delivery equals the oracle."""
    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    result = extract(docs, media, ExtractConfig())
    actual = spans_key(result.collect())
    assert_span_equal(actual, golden_spans)


def test_golden_equality_frames_blob_side_input(spark, corpus, golden_spans):
    """The blob side-input delivery (only refs shuffle, bytes via per-node
    mmap) must be byte-identical to the shuffle delivery AND the oracle."""
    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    result = extract(
        docs, media, ExtractConfig(), media_side_path=corpus["media_path"]
    )
    assert_span_equal(spans_key(result.collect()), golden_spans)


def test_edge_docs_present(spark, corpus, golden_spans):
    """Edge docs (FIXTURES.md §1) survive the pipeline: empty spans, dangling
    media_ref, blank image."""
    docs = corpus["docs"]
    empty_id = docs[0]["doc_id"]
    dangling_id = docs[6]["doc_id"]
    assert golden_spans[empty_id] == []
    # dangling ref: media span contributes nothing, text span passes through
    assert [k for (k, *_rest) in golden_spans[dangling_id]] == ["text"]


def test_oracle_deterministic(corpus):
    """Determinism audit (SURVEY.md §7.3): two oracle runs are identical."""
    cfg = ExtractConfig()
    a = spans_key(O.run_oracle(corpus["docs"], corpus["media"], cfg))
    b = spans_key(O.run_oracle(corpus["docs"], corpus["media"], cfg))
    assert a == b


def test_invoice_fields_match_oracle(spark, corpus):
    cfg = ExtractConfig()
    rows = O.run_oracle(corpus["docs"], corpus["media"], cfg)
    golden_fields = {r["doc_id"]: dict(r["invoice_fields"]) for r in rows}
    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    result = extract(docs, media, cfg)
    for r in result.select("doc_id", "invoice_fields").collect():
        assert dict(r["invoice_fields"] or {}) == golden_fields[r["doc_id"]]


def test_blob_mode_respects_filtered_media(spark, corpus):
    """A filtered media DataFrame must gate the blob path identically to the
    semi-join path (the blob may contain refs the caller excluded)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    half = media.where(F.xxhash64("media_ref") % 2 == 0)
    via_shuffle = extract(docs, half, ExtractConfig())
    via_blob = extract(
        docs,
        half,
        ExtractConfig(),
        media_side_path=corpus["media_path"],  # blob holds ALL refs
    )
    assert_span_equal(spans_key(via_blob.collect()), spans_key(via_shuffle.collect()))


def test_mixed_format_media_golden(spark, corpus, golden_spans, tmp_path):
    """Polymorphic S2 in the DISTRIBUTED path: re-encode half the media
    table as PNG; engine and oracle (sharing decode_image) must still agree
    doc-for-doc, and output must equal the all-SYNF golden (same pixels)."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import kernels as K

    media_rows = []
    for i, m in enumerate(corpus["media"]):
        m = dict(m)
        if i % 2 == 0:
            img = K.decode_synf(bytes(m["image"]))
            m["image"] = K.encode_png(img, filter_type=i % 5)
        media_rows.append(m)
    mixed_path = str(tmp_path / "media_mixed.parquet")
    spark.createDataFrame(
        [(m["media_ref"], m["width"], m["height"], bytearray(m["image"]), m["n_lines"])
         for m in media_rows],
        "media_ref string, width int, height int, image binary, n_lines int",
    ).write.parquet(mixed_path)

    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(mixed_path)
    result = extract(docs, media, ExtractConfig())
    assert_span_equal(spans_key(result.collect()), golden_spans)


def test_blob_mode_accepts_directory_parquet(spark, corpus, tmp_path):
    """ADVICE r1 #1: `extract --media <spark-written-dir>` must work in the
    default blob delivery — build_media_blob expands a directory
    parquet to its part files. Output must equal the single-file path."""
    from ai_invoice_ocr_engine_spark.pipeline import build_media_blob, extract

    media_dir = str(tmp_path / "media_dir")
    spark.read.parquet(corpus["media_path"]).repartition(3).write.parquet(media_dir)

    blob_single = build_media_blob(corpus["media_path"])
    blob_dir = build_media_blob(media_dir)
    import json

    with open(blob_single + ".idx.json") as f:
        idx_s = json.load(f)
    with open(blob_dir + ".idx.json") as f:
        idx_d = json.load(f)
    assert set(idx_s) == set(idx_d)
    # byte-for-byte: every ref resolves to identical image bytes
    with open(blob_single, "rb") as f:
        bs = f.read()
    with open(blob_dir, "rb") as f:
        bd = f.read()
    for ref, (off, ln) in idx_s.items():
        off2, ln2 = idx_d[ref]
        assert bs[off : off + ln] == bd[off2 : off2 + ln2]

    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(media_dir)
    got = extract(docs, media, media_side_path=media_dir)
    want = extract(
        spark.read.parquet(corpus["docs_path"]),
        spark.read.parquet(corpus["media_path"]),
        media_side_path=corpus["media_path"],
    )
    g = {r["doc_id"]: [tuple(s) for s in r["spans_out"]] for r in got.collect()}
    w = {r["doc_id"]: [tuple(s) for s in r["spans_out"]] for r in want.collect()}
    assert g == w


def test_mixed_synf_png_jpeg_bmp_tiff_media_golden(spark, corpus, tmp_path):
    """Five-way polymorphic S2 (SYNF + PNG + baseline JPEG + BMP + TIFF —
    the reference's full accepted list) in the distributed path. JPEG is
    lossy, so the invariant is the north-rule one: the distributed engine
    must equal the single-process oracle doc-for-doc ON THE SAME BYTES
    (both route through kernels.decode_image — one grayscale definition
    for every codec)."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import kernels as K
    from ai_invoice_ocr_engine_spark import oracle as O
    from ai_invoice_ocr_engine_spark.bmptiff import (
        encode_bmp,
        encode_tiff,
        encode_tiff_jpeg,
        encode_tiff_oldjpeg,
        encode_tiff_tiled,
    )
    from ai_invoice_ocr_engine_spark.jpeg import encode_jpeg

    media_rows = []
    for i, m in enumerate(corpus["media"]):
        m = dict(m)
        img = K.decode_synf(bytes(m["image"]))
        if i % 5 == 0:
            # alternate the native container with lossless GIF (identity
            # gray palette, plain and interlaced) and JPEG 2000 (lossless
            # 5/3 — raw codestream and JP2 container)
            from ai_invoice_ocr_engine_spark.gif import encode_gif
            from ai_invoice_ocr_engine_spark.jpeg2000 import encode_jpeg2000

            gv = (i // 5) % 4
            if gv == 1:
                m["image"] = encode_gif(img)
            elif gv == 2:
                m["image"] = encode_gif(img, interlace=True)
            elif gv == 3:
                m["image"] = encode_jpeg2000(img, nl=2, cb=(5, 5),
                                             jp2=bool(i % 2))
        elif i % 5 == 1:
            pv = (i // 5) % 4
            if pv == 0:
                m["image"] = K.encode_png(img, filter_type=i % 5)
            elif pv == 1:
                m["image"] = K.encode_png_ext(img, interlace=1)  # Adam7
            elif pv == 2:
                m["image"] = K.encode_png_ext(img, depth=16)  # high byte
            else:
                # gray ramp palette: identity through PLTE expansion
                import numpy as _np

                pal = _np.stack([_np.arange(256, dtype=_np.uint8)] * 3, axis=1)
                m["image"] = K.encode_png_ext(img, ctype=3, palette=pal)
        elif i % 5 == 2:
            if i % 2 == 0:  # alternate baseline and progressive streams
                m["image"] = encode_jpeg(img, quality=95, subsampling="gray")
            else:
                from ai_invoice_ocr_engine_spark.jpeg import encode_jpeg_progressive

                m["image"] = encode_jpeg_progressive(img, quality=95, subsampling="gray")
        elif i % 5 == 3:
            bv = (i // 5) % 4
            if bv == 0:
                m["image"] = encode_bmp(img)
            elif bv == 1:
                from ai_invoice_ocr_engine_spark.bmptiff import encode_bmp_rle8

                m["image"] = encode_bmp_rle8(img)
            elif bv == 2:
                from ai_invoice_ocr_engine_spark.bmptiff import encode_bmp16
                import numpy as _np

                # 16-bit quantizes pixels; oracle sees the same bytes
                m["image"] = encode_bmp16(
                    _np.stack([img] * 3, axis=2), "565" if i % 2 else "555"
                )
            else:
                from ai_invoice_ocr_engine_spark.bmptiff import encode_bmp_lowbit
                import numpy as _np

                # 4-bit: quantize to 16 gray levels via the ramp palette
                m["image"] = encode_bmp_lowbit((img >> 4).astype(_np.uint8), 4)
        elif i % 5 == 4:
            # cycle the TIFF container family: plain strips, tiled,
            # JPEG-in-TIFF strip, JPEG-in-TIFF tiled+shared-tables,
            # old-style JPEG, G4 fax bilevel
            from ai_invoice_ocr_engine_spark.bmptiff import encode_tiff_fax

            variant = (i // 5) % 6
            if variant == 0:
                m["image"] = encode_tiff(img, big_endian=bool(i % 2))
            elif variant == 1:
                m["image"] = encode_tiff_tiled(img, tile=64, compression=5)
            elif variant == 2:
                m["image"] = encode_tiff_jpeg(img, quality=95)
            elif variant == 3:
                m["image"] = encode_tiff_jpeg(
                    img, quality=95, tile=64, shared_tables=True
                )
            elif variant == 4:
                m["image"] = encode_tiff_oldjpeg(img, quality=95)
            else:
                # bilevel: threshold the rendering (oracle sees same bytes)
                m["image"] = encode_tiff_fax((img < 128).astype("uint8"))
        media_rows.append(m)
    mixed_path = str(tmp_path / "media_mixed5.parquet")
    spark.createDataFrame(
        [(m["media_ref"], m["width"], m["height"], bytearray(m["image"]), m["n_lines"])
         for m in media_rows],
        "media_ref string, width int, height int, image binary, n_lines int",
    ).write.parquet(mixed_path)

    golden = spans_key(O.run_oracle(corpus["docs"], media_rows, ExtractConfig()))
    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(mixed_path)
    result = extract(docs, media, ExtractConfig())
    assert_span_equal(spans_key(result.collect()), golden)


def test_rotated_media_ocr_equals_upright_golden(
    spark, corpus, golden_spans, tmp_path
):
    """VERDICT r1 next-step #10: rotate every confidently-classifiable frame
    by a quadrant; the distributed engine (orientation gate on by default,
    reference prep.ori) must produce spans equal to the UPRIGHT corpus's
    golden — the rotation is corrected away losslessly."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import kernels as K

    n_rotated = 0
    media_rows = []
    for i, m in enumerate(corpus["media"]):
        m = dict(m)
        img = K.decode_synf(bytes(m["image"]))
        k = (i % 3) + 1  # cycle through the three non-trivial rotations
        rimg = np.rot90(img, k=k)
        cls, conf = K.classify_orientation(rimg)
        if conf >= 0.9 and cls == k:
            m["image"] = K.encode_synf(np.ascontiguousarray(rimg))
            m["width"], m["height"] = int(rimg.shape[1]), int(rimg.shape[0])
            n_rotated += 1
        media_rows.append(m)
    assert n_rotated >= len(media_rows) * 0.7  # most frames exercised

    rot_path = str(tmp_path / "media_rot.parquet")
    spark.createDataFrame(
        [(m["media_ref"], m["width"], m["height"], bytearray(m["image"]), m["n_lines"])
         for m in media_rows],
        "media_ref string, width int, height int, image binary, n_lines int",
    ).write.parquet(rot_path)

    result = extract(
        spark.read.parquet(corpus["docs_path"]),
        spark.read.parquet(rot_path),
        ExtractConfig(),
    )
    assert_span_equal(spans_key(result.collect()), golden_spans)


def test_blob_mode_rejects_transformed_media_bytes(spark, corpus, tmp_path):
    """ADVICE r2 #3: blob mode OCRs the on-disk originals, so composing it
    with a media plan that computes new image bytes (resize_frames) must
    fail loudly instead of silently ignoring the transform. A filtered /
    projected media plan (no byte computation) still passes the gate."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ai_invoice_ocr_engine_spark.functions.multimodal import resize_frames

    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    resized = resize_frames(media, 64, 64)
    with _pytest.raises(ValueError, match="COMPUTES its image column"):
        extract(
            docs, resized, ExtractConfig(), media_side_path=corpus["media_path"]
        )
    # a pure filter keeps blob mode available (refs gate, bytes from disk)
    filtered = media.where(F.xxhash64("media_ref") % 2 == 0)
    out = extract(
        docs, filtered, ExtractConfig(), media_side_path=corpus["media_path"]
    )
    assert out.count() > 0


def test_corrupt_media_policy(spark, corpus, tmp_path):
    """100 TB posture: one rotten blob must not kill the stage. Default
    ('fail', reference parity) raises with the offending media_ref named;
    on_bad_media='skip' extracts the rest of every document and counts the
    frame toward n_media_missing — identical to the same corpus with the
    corrupt frame absent."""
    import dataclasses

    import pytest as _pytest

    media_rows = [dict(m) for m in corpus["media"]]
    bad_ref = media_rows[3]["media_ref"]
    media_rows[3]["image"] = b"\x89PNG\r\n\x1a\ngarbage-not-a-png"
    bad_path = str(tmp_path / "media_bad.parquet")
    spark.createDataFrame(
        [(m["media_ref"], m["width"], m["height"], bytearray(m["image"]), m["n_lines"])
         for m in media_rows],
        "media_ref string, width int, height int, image binary, n_lines int",
    ).write.parquet(bad_path)

    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(bad_path)
    with _pytest.raises(Exception, match="media_ref"):  # task fails loudly,
        # naming the offending frame (wrapped by Spark's Python-worker error)
        extract(docs, media, ExtractConfig()).collect()

    cfg_skip = dataclasses.replace(ExtractConfig(), on_bad_media="skip")
    got = spans_key(extract(docs, media, cfg_skip).collect())
    # golden: same corpus with the corrupt frame simply absent
    absent = [m for m in media_rows if m["media_ref"] != bad_ref]
    want = spans_key(O.run_oracle(corpus["docs"], absent, cfg_skip))
    assert_span_equal(got, want)
