"""Per-document extraction — the shared core of oracle and Spark UDFs.

One function, ``extract_doc``, reproduces the reference engine's per-image
flow (/root/reference/engine.py:49-55: preprocess → detect → scale boxes →
recognize from the original frame → assemble) generalized to an interleaved
text+media document: native text spans pass through, each media span expands
in place into OCR'd spans in reading order.

The Spark pipeline calls this inside ``mapInPandas`` (one call per document,
numpy-vectorized within); the oracle calls it in a plain loop. Identical
bytes in → identical spans out, by construction.
"""

from __future__ import annotations

from typing import Iterable, Mapping

import numpy as np

from . import kernels as K
from .config import ExtractConfig

#: Output span kinds
KIND_TEXT = "text"
KIND_OCR = "ocr_text"


def detect_frame(img: np.ndarray, cfg: ExtractConfig):
    """Detection stage of one frame: keep-ratio resize → prob map → scored
    boxes rescaled to original coordinates (the single definition shared by
    the full pipeline, api.OCREngineSpark.detect_only, and tests — mirrors
    /root/reference/engine.py:64-67). Always returns AABBs; with
    cfg.det.rotated these are the envelopes of the min-area-rect quads."""
    boxes, scores, _quads = detect_frame_geom(img, cfg)
    return boxes, scores


def detect_frame_geom(img: np.ndarray, cfg: ExtractConfig):
    """detect_frame plus the rotated geometry: returns (boxes_aabb, scores,
    quads) where quads is (N,4,2) min-area rects when cfg.det.rotated
    (reference detect/postprocess.py:47-52 _get_mini_box) else None."""
    det_img = K.det_resize(img, cfg.det.mxs)
    prob = K.detect_prob(det_img)
    kw = dict(th=cfg.det.th, bth=cfg.det.bth, ur=cfg.det.ur,
              ms=cfg.det.ms, dil=cfg.det.dil)
    if cfg.det.rotated:
        quads, scores = K.extract_boxes_rotated(prob, img.shape, **kw)
        boxes = (
            np.stack([K.quad_to_aabb(q) for q in quads])
            if len(quads)
            else np.zeros((0, 4), np.float32)
        )
        return boxes, scores, quads
    boxes, scores = K.extract_boxes(prob, img.shape, **kw)
    return boxes, scores, None


def frame_geometry(
    image_bytes: bytes, cfg: ExtractConfig
) -> tuple[list[np.ndarray], np.ndarray, int]:
    """Decode + gates + detection + cropping of one frame — everything in
    the per-frame flow UP TO recognition. Returns (crops, boxes_aabb, oh)
    where ``oh`` is the post-correction page height the boilerplate bands
    use. Split out of extract_media_lines so the Spark frame stage can run
    geometry per frame but recognition once per Arrow batch
    (kernels.recognize_crop_groups)."""
    img = K.decode_image(image_bytes)  # polymorphic: SYNF/PNG/JPEG (S2)
    if cfg.prep.unwarp:
        # F6 unwarp gate (reference preprocess/core.py:18-25, uwp off by
        # default): perspective-rectify a photographed page before the
        # orientation stage, pass-through below the confidence gate
        img, _uw_conf = K.unwarp_page(img, uwth=cfg.prep.uwth)
    if cfg.prep.ori:
        # F5 orientation gate (reference preprocess/core.py:13-17): rotate
        # only when the classifier clears the confidence threshold
        img, _ = K.correct_orientation(img, oth=cfg.prep.oth)
    oh, ow = img.shape  # post-correction shape (boilerplate bands use it)
    boxes, scores, quads = detect_frame_geom(img, cfg)
    if len(boxes) == 0:
        return [], boxes, oh
    if quads is not None:
        # rotated path: perspective-crop each min-area rect so skewed lines
        # reach recognition upright (reference postprocess.py:5-10 crop_poly);
        # layout/reading-order below keeps using the AABB envelopes (the
        # reference sorts by poly means, postprocess.py:54-68 — identical
        # centers for rects)
        crops = [K.crop_quad(img, q) for q in quads]
    else:
        crops = [K.crop_box(img, b) for b in boxes]
    if cfg.cls.en:
        # per-crop 0/180 textline gate (reference cls stage, config.py:41)
        crops = [K.correct_textline(c, th=cfg.cls.th) for c in crops]
    return crops, boxes, oh


def assemble_frame_lines(
    boxes: np.ndarray,
    texts_scores: list[tuple[str, float]],
    oh: int,
    cfg: ExtractConfig,
) -> list[list[tuple[str, float]]]:
    """Layout half of the per-frame flow: reading-order sort + boilerplate
    strip over recognized (text, score) pairs aligned with ``boxes``."""
    lines = K.reading_order_lines(boxes, texts_scores, line_th=cfg.layout.line_th)
    if cfg.layout.strip_boilerplate:
        lines = K.strip_boilerplate_lines(
            lines,
            oh,
            header_frac=cfg.layout.header_frac,
            footer_frac=cfg.layout.footer_frac,
            min_lines=cfg.layout.min_lines_for_strip,
        )
    return [[ts for _box, ts in line] for line in lines]


def extract_media_lines(
    image_bytes: bytes, cfg: ExtractConfig, weights
) -> list[list[tuple[str, float]]]:
    """Run detection + recognition + layout on one media frame.

    Returns reading-order *lines*, each a list of (text, score) in
    left-to-right order, after boilerplate stripping. Mirrors the reference
    single-image flow: detect on the keep-ratio/×32 resize
    (/root/reference/engine.py:50-52), crop+recognize from the ORIGINAL
    frame (/root/reference/engine.py:39-41,53), then reading-order sort
    (/root/reference/postprocess.py:54-68).
    """
    crops, boxes, oh = frame_geometry(image_bytes, cfg)
    if len(boxes) == 0:
        return []
    texts_scores = K.recognize_crops(
        crops,
        weights,
        h=cfg.rec.h,
        mw=cfg.rec.mw,
        min_w=cfg.rec.min_w,
        decode=cfg.rec.decode,
        beam_width=cfg.rec.beam_width,
    )
    return assemble_frame_lines(boxes, texts_scores, oh, cfg)


def extract_doc(
    spans: Iterable[Mapping] | None,
    media_lookup: Mapping[str, bytes],
    cfg: ExtractConfig,
    weights=None,
) -> dict:
    """Extract one interleaved document into an ordered span sequence.

    ``spans``: iterable of {kind, text, media_ref, offset} mappings (the
    input_hint schema). ``media_lookup``: media_ref → SYNF bytes for the
    media this document references (missing refs contribute zero spans but
    are counted in ``n_media_missing``).

    Returns dict with:
      spans_out: list of {kind, text, media_ref, order} — native text spans
        pass through (kind='text'); each media span expands in place into
        OCR spans (kind='ocr_text', media_ref preserved) in reading order;
        ``order`` is dense 0..m-1 over the merged sequence.
      invoice_fields: first-match-wins map over the full ER field set
        (kernels.INVOICE_FIELD_PATTERNS — invoice_number, invoice_date,
        vendor/buyer name + tax id, subtotal, tax_amount, total_amount,
        currency)
      n_spans_in, n_media, n_media_missing, n_ocr: int counters.
    """
    if weights is None:
        weights = K.resolve_weights(cfg.rec)
    items = sorted(
        (dict(s) for s in (spans or [])), key=lambda s: int(s.get("offset", 0))
    )
    out: list[dict] = []
    n_media = 0
    n_media_missing = 0
    n_ocr = 0
    for s in items:
        kind = s.get("kind") or ""
        if kind == "media":
            n_media += 1
            ref = s.get("media_ref") or ""
            blob = media_lookup.get(ref)
            if blob is None:
                n_media_missing += 1
                continue
            try:
                lines = extract_media_lines(bytes(blob), cfg, weights)
            except (ValueError, NotImplementedError) as e:
                if cfg.on_bad_media == "skip":
                    n_media_missing += 1
                    continue
                raise type(e)(f"media_ref {ref!r}: {e}") from e
            for line in lines:
                for text, _score in line:
                    out.append({"kind": KIND_OCR, "text": text, "media_ref": ref})
                    n_ocr += 1
        else:
            out.append(
                {"kind": KIND_TEXT, "text": s.get("text") or "", "media_ref": ""}
            )
    for order, span in enumerate(out):
        span["order"] = order
    return {
        "spans_out": out,
        "invoice_fields": K.extract_invoice_fields([sp["text"] for sp in out]),
        "n_spans_in": len(items),
        "n_media": n_media,
        "n_media_missing": n_media_missing,
        "n_ocr": n_ocr,
    }
