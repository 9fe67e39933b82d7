"""External weight-loading seam (VERDICT r4 next-step #7): the reference
loads pretrained det/rec weights from files
(/root/reference/recognize/recognizer.py:18-25, models/pretrained/weights/);
our engine's equivalent boundary is ``cfg.rec.weights_path`` — a .npz
carrying (w1, w2) broadcast through the SAME forward as the seeded fixture
weights. Pins: seeded↔file swap is golden-equal under each weight set, the
Spark pipeline accepts file weights through its broadcast, and malformed
files fail loudly."""

import dataclasses

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.oracle import run_oracle


def _save(path, w1, w2):
    np.savez(path, w1=w1, w2=w2)
    return str(path)


def _with_weights(path):
    base = ExtractConfig()
    return dataclasses.replace(
        base, rec=dataclasses.replace(base.rec, weights_path=path)
    )


def test_seeded_and_file_weights_golden_equal(corpus, tmp_path):
    """Round-trip the DEFAULT seeded weights through the file seam: the
    oracle output must be byte-identical — the seam adds a loader, not a
    different forward."""
    w1, w2 = K.crnn_weights(ExtractConfig().rec.weight_seed)
    p = _save(tmp_path / "w.npz", w1, w2)
    docs, media = corpus["docs"], corpus["media"]
    seeded = run_oracle(docs, media, ExtractConfig())
    filed = run_oracle(docs, media, _with_weights(p))
    assert filed == seeded


def test_different_file_weights_match_their_seed(corpus, tmp_path):
    """Swap in a DIFFERENT weight tensor via file: output equals running
    with that tensor's seed directly (and differs from the default) — the
    file path really is feeding the forward."""
    alt_seed = 777
    w1, w2 = K.crnn_weights(alt_seed)
    p = _save(tmp_path / "alt.npz", w1, w2)
    docs, media = corpus["docs"][:20], corpus["media"]
    base = ExtractConfig()
    alt_cfg = dataclasses.replace(
        base, rec=dataclasses.replace(base.rec, weight_seed=alt_seed)
    )
    want = run_oracle(docs, media, alt_cfg)
    got = run_oracle(docs, media, _with_weights(p))
    assert got == want
    default = run_oracle(docs, media, base)
    # OCR'd text must actually differ somewhere under different weights
    assert any(a != b for a, b in zip(default, want))


def test_spark_pipeline_broadcasts_file_weights(spark, corpus, tmp_path):
    """The broadcast seam end-to-end on Spark: extract with file weights
    equals the oracle under the same weights (span-sequence equality, the
    north-rule invariant)."""
    from ai_invoice_ocr_engine_spark.pipeline import extract

    alt_seed = 777
    w1, w2 = K.crnn_weights(alt_seed)
    p = _save(tmp_path / "alt.npz", w1, w2)
    docs = spark.read.parquet(corpus["docs_path"]).limit(12)
    media = spark.read.parquet(corpus["media_path"])
    got = {
        r["doc_id"]: [tuple(s) for s in r["spans_out"]]
        for r in extract(docs, media, _with_weights(p)).collect()
    }
    want_rows = run_oracle(
        [d for d in corpus["docs"] if d["doc_id"] in got],
        corpus["media"],
        _with_weights(p),
    )
    want = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in r["spans_out"]
        ]
        for r in want_rows
    }
    assert got == want


def test_malformed_weights_fail_loudly(tmp_path):
    p = str(tmp_path / "bad.npz")
    np.savez(p, w1=np.zeros((3, 3), dtype=np.float32),
             w2=np.zeros((96, K.VOCAB_SIZE), dtype=np.float32))
    with pytest.raises(ValueError, match="shape mismatch"):
        K.load_weights_file(p)
    p2 = str(tmp_path / "missing.npz")
    np.savez(p2, only=np.zeros(3))
    with pytest.raises(ValueError, match="must contain arrays"):
        K.load_weights_file(p2)


def test_float_weights_accepted_with_downgrade_warning(tmp_path):
    """Real pretrained tensors are floats: accepted, but the bit-exactness
    downgrade is announced."""
    rng = np.random.default_rng(3)
    p = _save(
        tmp_path / "float.npz",
        rng.normal(size=(192, 96)).astype(np.float32),
        rng.normal(size=(96, K.VOCAB_SIZE)).astype(np.float32),
    )
    with pytest.warns(UserWarning, match="not small integers"):
        w1, w2 = K.load_weights_file(p)
    # and the forward still runs
    crop = np.full((48, 64), 128, dtype=np.uint8)
    logits = K.crnn_logits(crop, (w1, w2))
    assert logits.shape == (16, K.VOCAB_SIZE)
    assert np.isfinite(logits).all()
