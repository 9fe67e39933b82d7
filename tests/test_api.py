"""Library-API parity tests: the reference engine's object surface
(/root/reference/engine.py:44-91) mirrored over Spark (SURVEY.md §3.2)."""

import numpy as np

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.api import OCREngineSpark, init
from ai_invoice_ocr_engine_spark.config import ExtractConfig


def test_predict_matches_extract(spark, corpus):
    eng = init(spark)
    docs = spark.read.parquet(corpus["docs_path"])
    media = spark.read.parquet(corpus["media_path"])
    df = eng(docs, media)  # __call__ alias
    assert df.count() == docs.count()
    assert "spans_out" in df.columns


def test_detect_only_matches_kernels(spark, corpus):
    eng = OCREngineSpark(spark)
    media = spark.read.parquet(corpus["media_path"]).limit(5)
    rows = {r.media_ref: r for r in eng.detect_only(media).collect()}
    from ai_invoice_ocr_engine_spark.extractor import detect_frame

    for m in media.collect():
        img = K.decode_image(bytes(m.image))
        boxes, scores = detect_frame(img, eng.cfg)
        got = rows[m.media_ref]
        assert len(got.boxes) == len(boxes)
        for gb, kb in zip(got.boxes, boxes):
            assert np.allclose(gb, kb)


def test_recognize_only_single_line(spark):
    eng = OCREngineSpark(spark)
    from ai_invoice_ocr_engine_spark import fixtures as FX

    rng = np.random.default_rng(13)
    img, _ = FX.render_media(rng, 200, 48, header_footer=False)
    df = spark.createDataFrame(
        [("f0", bytearray(K.encode_synf(img)))], "media_ref string, image binary"
    )
    out = eng.recognize_only(df).collect()
    # whole-frame single-crop recognition: matches the per-crop kernel
    w = K.crnn_weights(eng.cfg.rec.weight_seed)
    want = K.recognize_crop(img, w, h=eng.cfg.rec.h, mw=eng.cfg.rec.mw,
                            min_w=eng.cfg.rec.min_w)
    assert (out[0].text, round(out[0].score, 5)) == (want[0], round(want[1], 5))


def test_stats_and_run(spark, corpus, tmp_path):
    eng = OCREngineSpark(spark)
    assert eng.get_stats() == {"n": 0, "t": 0.0, "avg": 0.0}
    stats = eng.run(
        corpus["docs_path"], corpus["media_path"], str(tmp_path / "out"),
        num_buckets=4,
    )
    s = eng.get_stats()
    assert s["n"] == stats["docs"] > 0 and s["t"] > 0 and s["avg"] > 0
    eng.reset_stats()
    assert eng.get_stats()["n"] == 0


def test_update_config_dotted(spark):
    eng = OCREngineSpark(spark, ExtractConfig())
    eng.update_config(**{"det.th": 0.42, "on_bad_media": "skip"})
    assert eng.config.det.th == 0.42
    assert eng.config.on_bad_media == "skip"
    eng.update_config(nonexistent=1)  # silently ignored, like the reference
    eng.update_config(**{"on_bad_media.x": 1})  # non-dataclass parent: no-op


def test_warmup_forces_ocr_stage(spark):
    """Regression pin for ADVICE r1 #2: warmup must materialize with the
    checksum aggregate, because a bare count() lets Catalyst prune the OCR
    MapInPandas stage entirely (no python workers, no weight broadcast) —
    asserted here at the physical-plan level, plus a smoke run."""
    from pyspark.sql import functions as F

    from ai_invoice_ocr_engine_spark import fixtures as FX

    eng = OCREngineSpark(spark)
    docs, media = FX.gen_corpus(seed=7, n_docs=4, max_media_side=192)
    ddf = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    mdf = spark.createDataFrame(
        [(m["media_ref"], bytearray(m["image"])) for m in media],
        "media_ref string, image binary",
    )
    pred = eng.predict(ddf, mdf)
    cnt = pred.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    chk = (
        pred.agg(F.bit_xor(F.xxhash64(F.to_json("spans_out"))))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in cnt  # why count() cannot warm up
    assert "MapInPandas" in chk     # what warmup actually runs
    eng.warmup(n=1)
    assert eng.get_stats()["n"] == 0  # stats reset after warmup


def test_decode_config_seam_beam(spark):
    """cfg.rec.decode='beam' routes recognition through ctc_beam
    (reference config.py:35-36 bm/bw) — checked through the live
    update_config seam on the whole-frame recognize_only path."""
    from ai_invoice_ocr_engine_spark import fixtures as FX

    eng = OCREngineSpark(spark)
    eng.update_config(**{"rec.decode": "beam", "rec.beam_width": 3})
    assert eng.config.rec.decode == "beam"
    rng = np.random.default_rng(13)
    img, _ = FX.render_media(rng, 200, 48, header_footer=False)
    df = spark.createDataFrame(
        [("f0", bytearray(K.encode_synf(img)))], "media_ref string, image binary"
    )
    out = eng.recognize_only(df).collect()
    w = K.crnn_weights(eng.cfg.rec.weight_seed)
    lg = K.crnn_logits(
        K.rec_resize(img, eng.cfg.rec.h, eng.cfg.rec.mw, eng.cfg.rec.min_w), w
    )
    want_t, want_s = K.ctc_beam(lg, beam_width=3)
    assert (out[0].text, round(out[0].score, 5)) == (want_t, round(want_s, 5))


def test_init_singleton_contract(spark):
    """Reference engine.py:17-21 singleton: same engine across init() calls
    (stats accumulate), new instance only on a different cfg, cfg=None never
    invalidates."""
    from ai_invoice_ocr_engine_spark.api import init
    from ai_invoice_ocr_engine_spark.config import ExtractConfig

    a = init(spark)
    assert init(spark) is a                       # no-cfg call: cached
    cfg = ExtractConfig()
    b = init(spark, cfg)                          # differs from stored None
    assert b is not a
    assert init(spark, cfg) is b                  # equal cfg: cached
    assert init(spark) is b                       # None never invalidates
    import dataclasses

    cfg2 = dataclasses.replace(cfg, det=dataclasses.replace(cfg.det, th=0.9))
    c = init(spark, cfg2)                         # different cfg: replaced
    assert c is not b and c.cfg.det.th == 0.9
