"""Hypothesis property tests for the layout, decode and detection kernels.

The reference's layout semantics (SURVEY.md §2.5 W2/W4) are defined by
invariants, not examples — property tests pin them over arbitrary box
configurations, including the first-y-anchor subtlety the window-lag
formulation would get wrong (/root/reference/postprocess.py:54-68).
The detection front-end is pinned to reference twins (see below)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from ai_invoice_ocr_engine_spark import kernels as K

boxes_strategy = st.lists(
    st.tuples(
        st.floats(0, 500, allow_nan=False, width=32),
        st.floats(0, 500, allow_nan=False, width=32),
        st.floats(1, 200, allow_nan=False, width=32),
        st.floats(1, 40, allow_nan=False, width=32),
    ),
    min_size=0,
    max_size=40,
)


def _to_boxes(raw):
    if not raw:
        return np.zeros((0, 4), np.float32)
    a = np.array([(x, y, x + w, y + h) for x, y, w, h in raw], np.float32)
    return a


@settings(max_examples=150, deadline=None)
@given(boxes_strategy)
def test_reading_order_invariants(raw):
    boxes = _to_boxes(raw)
    items = list(range(len(boxes)))
    lines = K.reading_order_lines(boxes, items, line_th=10.0)
    flat = [it for line in lines for (_b, it) in line]
    # 1. permutation: every item exactly once
    assert sorted(flat) == items
    ys = (boxes[:, 1] + boxes[:, 3]) / 2.0 if len(boxes) else np.zeros(0)
    xs = (boxes[:, 0] + boxes[:, 2]) / 2.0 if len(boxes) else np.zeros(0)
    prev_anchor = None
    for line in lines:
        idxs = [it for (_b, it) in line]
        # 2. within a line, left-to-right by x_mean
        lx = [float(xs[i]) for i in idxs]
        assert lx == sorted(lx)
        # 3. first-y anchor: every member within line_th of the line's FIRST
        # item's y (in (y, x) scan order), the reference's exact rule
        scan = sorted(idxs, key=lambda i: (float(ys[i]), float(xs[i])))
        anchor = float(ys[scan[0]])
        assert all(abs(float(ys[i]) - anchor) <= 10.0 for i in idxs)
        # 4. lines advance strictly: next anchor is > prev anchor + th
        if prev_anchor is not None:
            assert anchor > prev_anchor + 10.0
        prev_anchor = anchor


@settings(max_examples=150, deadline=None)
@given(boxes_strategy)
def test_paragraph_grouping_invariants(raw):
    boxes = _to_boxes(raw)
    texts = [f"t{i}" for i in range(len(boxes))]
    paras = K.group_paragraphs(boxes, texts, para_th=30.0)
    flat = [t for p in paras for t in p]
    assert sorted(flat) == sorted(texts)
    assert all(len(p) > 0 for p in paras)


@settings(max_examples=100, deadline=None)
@given(
    boxes_strategy,
    st.lists(st.floats(0, 1, allow_nan=False, width=32), min_size=0, max_size=40),
)
def test_nms_kept_pairwise_below_threshold(raw, scores):
    boxes = _to_boxes(raw)
    n = min(len(boxes), len(scores))
    boxes, sc = boxes[:n], np.array(scores[:n], np.float32)
    keep = K.nms(boxes, sc, th=0.5)
    assert len(set(keep)) == len(keep)
    for i, a in enumerate(keep):
        for b in keep[i + 1 :]:
            assert K.aabb_iou(boxes[a], boxes[b]) < 0.5


@settings(max_examples=150, deadline=None)
@given(
    st.integers(1, 60),
    st.integers(0, 2**32 - 1),
)
def test_ctc_greedy_bounds(t_steps, seed):
    rng = np.random.default_rng(seed)
    logits = rng.normal(0, 4, size=(t_steps, K.VOCAB_SIZE)).astype(np.float32)
    text, score = K.ctc_greedy(logits)
    # token count (idx 1 renders as the 5-char '<unk>') is bounded by steps
    assert len(text.replace("<unk>", "?")) <= t_steps
    assert 0.0 <= score <= 1.0
    # determinism
    assert (text, score) == K.ctc_greedy(logits)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(2, 300),
    st.integers(2, 300),
    st.integers(2, 300),
    st.integers(2, 300),
    st.integers(0, 2**32 - 1),
)
def test_resize_bounds_and_identity(h, w, nh, nw, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = K.resize_bilinear(img, nh, nw)
    assert out.shape == (nh, nw) and out.dtype == np.uint8
    # interpolation never exceeds the source value range
    assert out.min() >= img.min() and out.max() <= img.max()
    assert np.array_equal(K.resize_bilinear(img, h, w), img)


def test_fused_r2_morphology_equivalence():
    """_dilate(m, 2)/_erode(m, 2) (one separable radius-2 pass pair) must be
    bit-identical to chaining the radius-1 ops twice — the fused passes in
    detect_prob must not change a single pixel."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import kernels as K

    rng = np.random.default_rng(0)
    for _ in range(30):
        m = rng.random((int(rng.integers(3, 90)), int(rng.integers(3, 90)))) < 0.3
        assert np.array_equal(K._dilate(m, 2), K._dilate(K._dilate(m)))
        assert np.array_equal(K._erode(m, 2), K._erode(K._erode(m)))


@settings(max_examples=60, deadline=None)
@given(
    st.integers(2, 40),
    st.integers(2, 60),
    st.integers(0, 2**32 - 1),
    st.floats(0.02, 0.95),
)
def test_fax_codecs_roundtrip_property(h, w, seed, density):
    """All three fax encodings are exact inverses over arbitrary bilevel
    masks (shape, density, and seed fuzzed)."""
    from ai_invoice_ocr_engine_spark import fax

    mask = (np.random.default_rng(seed).random((h, w)) < density).astype(np.uint8)
    assert np.array_equal(fax.decode_g4(fax.encode_g4(mask), w, h), mask)
    assert np.array_equal(fax.decode_mh(fax.encode_mh(mask), w, h), mask)
    assert np.array_equal(fax.decode_t4(fax.encode_t4(mask), w, h), mask)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 80), st.integers(0, 60)),
        min_size=1,
        max_size=30,
    )
)
def test_min_area_rect_contains_and_bounds(pts_raw):
    """min_area_rect invariants over arbitrary point sets: (a) every input
    point lies inside the rect (within the half-extent convention), and
    (b) its area never exceeds the axis-aligned extent rect's area (the
    rotating-calipers optimum is at least as tight)."""
    pts = np.array(pts_raw, np.float64)
    quad, w_ext, h_ext = K.min_area_rect(pts)
    # (a) containment: project points onto the rect's axes
    p0 = quad[0].astype(np.float64)
    ux = (quad[1] - quad[0]).astype(np.float64)
    uy = (quad[3] - quad[0]).astype(np.float64)
    nx = np.hypot(*ux)
    ny = np.hypot(*uy)
    if nx > 1e-9 and ny > 1e-9:
        rel = pts - p0
        pu = rel @ (ux / nx)
        pv = rel @ (uy / ny)
        eps = 1e-3  # quad is float32; extents O(100)
        assert (pu >= -eps).all() and (pu <= nx + eps).all()
        assert (pv >= -eps).all() and (pv <= ny + eps).all()
    # (b) optimality vs the axis-aligned candidate (same +1 extent rule)
    x0, y0 = pts.min(axis=0)
    x1, y1 = pts.max(axis=0)
    aabb_area = (x1 - x0 + 1.0) * (y1 - y0 + 1.0)
    assert w_ext * h_ext <= aabb_area + 1e-6


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(5, 40),
    st.integers(5, 60),
)
def test_crop_quad_axis_aligned_slice_property(seed, h, w):
    """Property form of the bit-for-bit judge criterion: any axis-aligned
    quad (integer or fractional corners) crops identically via crop_quad
    and crop_box."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h + 20, w + 30)).astype(np.uint8)
    x0 = float(rng.uniform(0, 20))
    y0 = float(rng.uniform(0, 15))
    x1 = x0 + float(rng.uniform(2, w))
    y1 = y0 + float(rng.uniform(2, h))
    quad = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], np.float32)
    box = np.array([x0, y0, x1, y1], np.float32)
    assert np.array_equal(K.crop_quad(img, quad), K.crop_box(img, box))


# ---- reference twins of the detection front-end
#
# The oracle and the Spark job run the same kernels.py, so oracle equality
# cannot catch a wrong kernel rewrite. The twins below are the earlier,
# plainer formulations of each detection kernel, kept as they were; every
# rewrite must equal its twin bit for bit (as _unfilter_row_loop pins the
# PNG wavefront).


def _twin_gaussian_blur5(img):
    """gaussian_blur5 with the symmetric-tap uint16 horizontal pass."""
    p = np.pad(img, ((0, 0), (2, 2)), mode="reflect").astype(np.uint16)
    w = img.shape[1]
    h = K._G5_U16[0] * (p[:, 0:w] + p[:, 4 : 4 + w])
    h += K._G5_U16[1] * (p[:, 1 : 1 + w] + p[:, 3 : 3 + w])
    h += K._G5_U16[2] * p[:, 2 : 2 + w]
    p2 = np.pad(h, ((2, 2), (0, 0)), mode="reflect").astype(np.int32)
    n = img.shape[0]
    v = K._G5[0] * (p2[0:n, :] + p2[4 : 4 + n, :])
    v += K._G5[1] * (p2[1 : 1 + n, :] + p2[3 : 3 + n, :])
    v += K._G5[2] * p2[2 : 2 + n, :]
    return ((v + (1 << 15)) >> 16).astype(np.uint8)


def _int32_gaussian_blur5(img):
    """The plain five-tap int32 formulation gaussian_blur5 claims to equal."""
    p = np.pad(img, ((2, 2), (2, 2)), mode="reflect").astype(np.int32)
    n, w = img.shape
    h = sum(int(K._G5[k]) * p[:, k : k + w] for k in range(5))
    v = sum(int(K._G5[k]) * h[k : k + n, :] for k in range(5))
    return ((v + (1 << 15)) >> 16).astype(np.uint8)


def _twin_otsu_threshold(img):
    """otsu_threshold over a plain 256-bin bincount."""
    hist = np.bincount(img.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256, dtype=np.float64))
    mu_t = mu[-1]
    denom = omega * (total - omega)
    sigma_b = np.zeros(256, dtype=np.float64)
    valid = denom > 0
    sigma_b[valid] = (mu_t * omega[valid] - mu[valid] * total) ** 2 / denom[valid]
    return int(np.argmax(sigma_b))


def _twin_dilate3(m):
    """3×3 binary dilation as 2-D strided passes; False outside."""
    h = m.copy()
    h[:, 1:] |= m[:, :-1]
    h[:, :-1] |= m[:, 1:]
    v = h.copy()
    v[1:, :] |= h[:-1, :]
    v[:-1, :] |= h[1:, :]
    return v


def _twin_erode3(m):
    """3×3 binary erosion as 2-D strided passes; True outside."""
    h = m.copy()
    h[:, 1:] &= m[:, :-1]
    h[:, :-1] &= m[:, 1:]
    v = h.copy()
    v[1:, :] &= h[:-1, :]
    v[:-1, :] &= h[1:, :]
    return v


def _twin_dilate3_r2(m):
    """Radius-2 dilation in one 2-D strided pass pair."""
    h = m.copy()
    h[:, 1:] |= m[:, :-1]
    h[:, :-1] |= m[:, 1:]
    h[:, 2:] |= m[:, :-2]
    h[:, :-2] |= m[:, 2:]
    v = h.copy()
    v[1:, :] |= h[:-1, :]
    v[:-1, :] |= h[1:, :]
    v[2:, :] |= h[:-2, :]
    v[:-2, :] |= h[2:, :]
    return v


def _twin_erode3_r2(m):
    """Radius-2 erosion in one 2-D strided pass pair."""
    h = m.copy()
    h[:, 1:] &= m[:, :-1]
    h[:, :-1] &= m[:, 1:]
    h[:, 2:] &= m[:, :-2]
    h[:, :-2] &= m[:, 2:]
    v = h.copy()
    v[1:, :] &= h[:-1, :]
    v[:-1, :] &= h[1:, :]
    v[2:, :] &= h[:-2, :]
    v[:-2, :] &= h[2:, :]
    return v


def _twin_detect_prob(gray):
    """detect_prob returning the mask as a float32 0/1 probability map."""
    bl = _twin_gaussian_blur5(gray)
    t = _twin_otsu_threshold(bl)
    mask = bl <= t
    mask = _twin_erode3_r2(_twin_dilate3_r2(mask))
    mask = _twin_dilate3(_twin_erode3(mask))
    return mask.astype(np.float32)


def _twin_label_runs(mask):
    """_label_runs over a 2-D nonzero of the int8 row difference."""
    h, w = mask.shape
    if not mask.any():
        return None
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    yy, xx = np.nonzero(d)
    pos = d[yy, xx] == 1
    sy, sx_a = yy[pos], xx[pos]
    ex_a = xx[~pos]
    sx = sx_a.tolist()
    ex = ex_a.tolist()
    n = len(sx)
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    row_start = np.searchsorted(sy, np.arange(h + 1)).tolist()
    for y in range(1, h):
        i, i1 = row_start[y], row_start[y + 1]
        j, j1 = row_start[y - 1], row_start[y]
        while i < i1 and j < j1:
            if sx[i] <= ex[j] and sx[j] <= ex[i]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
            if ex[i] < ex[j]:
                i += 1
            else:
                j += 1
    return sy, sx, ex, find


def _twin_resize_bilinear(img, nh, nw):
    """resize_bilinear as two weighted gathers per pass."""
    h, w = img.shape
    if (h, w) == (nh, nw):
        return img.copy()
    y0, y1, x0, x1, wyq, wxq = K._resize_indices(h, w, nh, nw)
    f16 = img.astype(np.uint16)
    hx = f16[:, x0] * (256 - wxq) + f16[:, x1] * wxq
    v = hx[y0].astype(np.int32) * (256 - wyq) + hx[y1].astype(np.int32) * wyq
    return ((v + (1 << 15)) >> 16).astype(np.uint8)


def _twin_correct_textline(crop, th=0.9):
    """correct_textline that always runs the classifier."""
    cls, conf = K.textline_flip_class(crop)
    if cls == 1 and conf >= th:
        return np.ascontiguousarray(np.rot90(crop, k=2))
    return crop


@st.composite
def gray_images(draw, max_side=300):
    """uint8 frames of 1..max_side px a side — noise, text-like pages, flat
    and two-level images — half of them strided views of a larger array."""
    h, w = draw(st.integers(1, max_side)), draw(st.integers(1, max_side))
    sy, sx = draw(st.sampled_from(((1, 1), (1, 1), (2, 2), (1, 3), (3, 2))))
    kind = draw(st.sampled_from(("noise", "page", "flat", "two")))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    hh, ww = h * sy, w * sx
    if kind == "noise":
        base = rng.integers(0, 256, (hh, ww), dtype=np.uint8)
    elif kind == "page":
        base = np.full((hh, ww), int(rng.integers(180, 256)), np.uint8)
        for _ in range(int(rng.integers(0, 12))):
            y, x = int(rng.integers(0, hh)), int(rng.integers(0, ww))
            base[y : y + int(rng.integers(1, 20)), x : x + int(rng.integers(1, 120))] = rng.integers(0, 90)
    elif kind == "flat":
        base = np.full((hh, ww), int(rng.integers(0, 256)), np.uint8)
    else:
        base = rng.choice(rng.integers(0, 256, 2).astype(np.uint8), size=(hh, ww))
    return base[::sy, ::sx]


@st.composite
def masks(draw, max_side=300):
    """bool masks of 1..max_side px a side (a third of them at most 8 px
    wide): empty, full, random at any density, and horizontal/vertical
    stripes; some strided."""
    h = draw(st.integers(1, max_side))
    w = draw(st.one_of(st.integers(1, 8), st.integers(1, max_side), st.integers(1, max_side)))
    kind = draw(st.sampled_from(("empty", "full", "random", "hstripes", "vstripes")))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    if kind == "empty":
        return np.zeros((h, w), bool)
    if kind == "full":
        return np.ones((h, w), bool)
    if kind == "random":
        m = rng.random((h, 2 * w)) < draw(st.floats(0.01, 0.99))
        return m[:, ::2] if draw(st.booleans()) else m[:, :w]
    period = int(rng.integers(2, 9))
    if kind == "hstripes":
        return np.broadcast_to((np.arange(h) % period < 1)[:, None], (h, w)).copy()
    return np.broadcast_to((np.arange(w) % period < 1)[None, :], (h, w)).copy()


@settings(max_examples=120, deadline=None)
@given(gray_images())
def test_gaussian_blur5_equals_twins(img):
    out = K.gaussian_blur5(img)
    assert out.dtype == np.uint8 and out.shape == img.shape
    assert np.array_equal(out, _twin_gaussian_blur5(img))
    assert np.array_equal(out, _int32_gaussian_blur5(img))


@settings(max_examples=200, deadline=None)
@given(gray_images())
def test_otsu_threshold_equals_twin(img):
    assert K.otsu_threshold(img) == _twin_otsu_threshold(img)


def test_otsu_threshold_odd_and_tiny_counts():
    """The pair histogram pads an odd pixel count with one zero pixel and
    takes it back out; a dark or all-zero image must not see it."""
    rng = np.random.default_rng(3)
    for shape in ((1, 1), (1, 2), (1, 3), (3, 5), (7, 1), (299, 301)):
        for img in (
            rng.integers(0, 256, shape, dtype=np.uint8),
            np.zeros(shape, np.uint8),
            np.full(shape, 255, np.uint8),
            rng.integers(0, 2, shape, dtype=np.uint8),
        ):
            assert K.otsu_threshold(img) == _twin_otsu_threshold(img), shape
    assert K.otsu_threshold(np.zeros((0, 4), np.uint8)) == _twin_otsu_threshold(np.zeros((0, 4), np.uint8))


@settings(max_examples=120, deadline=None)
@given(gray_images())
def test_detect_prob_equals_twin(img):
    mask = K.detect_prob(img)
    assert mask.dtype == np.bool_
    assert np.array_equal(mask.astype(np.float32), _twin_detect_prob(img))


@settings(max_examples=120, deadline=None)
@given(masks())
def test_label_runs_equals_twin(mask):
    got, want = K._label_runs(mask), _twin_label_runs(mask)
    if want is None:
        assert got is None and not mask.any()
        return
    assert np.array_equal(got[0], want[0])
    assert got[1] == want[1] and got[2] == want[2]
    n = len(want[1])
    assert [got[3](k) for k in range(n)] == [want[3](k) for k in range(n)]


@settings(max_examples=150, deadline=None)
@given(masks(), st.integers(0, 4))
def test_morphology_equals_twins(mask, r):
    """A radius-r pass equals r radius-1 passes of the strided twins, also
    on masks narrower than the 2r recomputed edge columns."""
    dil, ero = mask, mask
    for _ in range(r):
        dil, ero = _twin_dilate3(dil), _twin_erode3(ero)
    assert np.array_equal(K._dilate(mask, r), dil)
    assert np.array_equal(K._erode(mask, r), ero)
    if r == 2:
        assert np.array_equal(K._dilate(mask, 2), _twin_dilate3_r2(mask))
        assert np.array_equal(K._erode(mask, 2), _twin_erode3_r2(mask))


@settings(max_examples=150, deadline=None)
@given(gray_images(), st.integers(1, 300), st.integers(1, 300))
def test_resize_bilinear_equals_twin(img, nh, nw):
    out = K.resize_bilinear(img, nh, nw)
    assert out.dtype == np.uint8 and out.shape == (nh, nw)
    assert np.array_equal(out, _twin_resize_bilinear(img, nh, nw))


@settings(max_examples=120, deadline=None)
@given(masks(), st.integers(0, 2))
def test_extract_boxes_bool_mask_equals_float_map(mask, dil):
    """The scoring mean over a bool region equals the float32 0/1 map's
    float32 mean, so the detector's bool mask and its float copy give the
    same boxes and scores on both geometries."""
    h, w = mask.shape
    prob = mask.astype(np.float32)
    for fn in (K.extract_boxes, K.extract_boxes_rotated):
        bb, sb = fn(mask, (2 * h + 1, 3 * w), dil=dil)
        bf, sf = fn(prob, (2 * h + 1, 3 * w), dil=dil)
        assert np.array_equal(bb, bf) and np.array_equal(sb, sf)
        assert sb.dtype == sf.dtype == np.float32


# crops under 3 px wide have an empty third: the classifier's variances are
# nan (with numpy's RuntimeWarnings) in the kernel and the twin alike
@pytest.mark.filterwarnings("ignore::RuntimeWarning")
@settings(max_examples=120, deadline=None)
@given(
    gray_images(max_side=90),
    st.one_of(st.sampled_from((0.5, 0.6, 0.7, 0.70001, 0.9)), st.floats(0.0, 1.0)),
)
def test_correct_textline_equals_twin(crop, th):
    assert np.array_equal(K.correct_textline(crop, th=th), _twin_correct_textline(crop, th=th))


def _twin_kernels(monkeypatch):
    for name, twin in (
        ("gaussian_blur5", _twin_gaussian_blur5),
        ("otsu_threshold", _twin_otsu_threshold),
        ("detect_prob", _twin_detect_prob),
        ("_label_runs", _twin_label_runs),
        ("resize_bilinear", _twin_resize_bilinear),
        ("correct_textline", _twin_correct_textline),
    ):
        monkeypatch.setattr(K, name, twin)


def test_frame_geometry_equals_twins_on_fixture_frames(monkeypatch):
    """Whole-frame check on generated media: decode → orientation →
    detection → crops → textline gate, on the AABB and the rotated path,
    equals the same flow run on the twins."""
    from ai_invoice_ocr_engine_spark import extractor, fixtures
    from ai_invoice_ocr_engine_spark.config import DetectConfig, ExtractConfig

    rows = fixtures.gen_media(20261017, 24, max_side=640)
    cfgs = (ExtractConfig(), ExtractConfig(det=DetectConfig(rotated=True)))
    got = [[extractor.frame_geometry(r["image"], c) for r in rows] for c in cfgs]
    _twin_kernels(monkeypatch)
    want = [[extractor.frame_geometry(r["image"], c) for r in rows] for c in cfgs]
    n_crops = 0
    for g_cfg, w_cfg in zip(got, want):
        for (gc, gb, goh), (wc, wb, woh) in zip(g_cfg, w_cfg):
            assert goh == woh and np.array_equal(gb, wb) and gb.dtype == wb.dtype
            assert len(gc) == len(wc)
            assert all(np.array_equal(a, b) for a, b in zip(gc, wc))
            n_crops += len(gc)
    assert n_crops > 50  # the frames carry text, so the check has teeth
