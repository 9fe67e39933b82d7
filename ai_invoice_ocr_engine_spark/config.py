"""Pipeline configuration.

Default numeric thresholds mirror the reference engine's defaults
(/root/reference/config.py:14-37 — det.th=0.3, det.bth=0.6, det.ur=1.5,
det.mxs=960, det.ms=3, det.dil=1; rec.h=48, rec.mw=320), plus the layout
threshold line_th=10 (reference postprocess.py:56).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class DetectConfig:
    th: float = 0.3        # probability threshold on the prob map
    bth: float = 0.6       # box score threshold
    ur: float = 1.5        # unclip (expansion) ratio
    mxs: int = 960         # max side for detection input
    ms: int = 3            # min box side in px
    dil: int = 1           # dilation radius pre-component-labeling
    rotated: bool = False  # min-area-rect quads + perspective crop (reference
                           # detect/postprocess.py:47-52, postprocess.py:5-10)
                           # instead of AABB geometry; off = SURVEY §7.3 AABB


@dataclass(frozen=True)
class RecognizeConfig:
    h: int = 48            # fixed crop height
    mw: int = 320          # max crop width after resize
    min_w: int = 8         # floor on resized crop width
    weight_seed: int = 20260816  # frozen-weight seed (fixture artifact)
    weights_path: str | None = None  # externally supplied weight file (.npz
                                     # w1/w2) — the pretrained-model seam
                                     # (reference recognize/recognizer.py:18-25
                                     # loads ONNX weights); overrides the seed
    decode: str = "greedy"  # CTC decode mode: 'greedy' | 'beam' (reference config.py:35 bm)
    beam_width: int = 5     # beam width when decode='beam' (reference config.py:36 bw)


@dataclass(frozen=True)
class LayoutConfig:
    line_th: float = 10.0      # reading-order line threshold (px)
    strip_boilerplate: bool = True
    header_frac: float = 0.10  # lines with y-center above this band are header
    footer_frac: float = 0.90  # …below this band are footer
    min_lines_for_strip: int = 3


@dataclass(frozen=True)
class ClsConfig:
    en: bool = True    # textline 0/180 classification on (reference config.py:41 cls.en)
    th: float = 0.9    # confidence gate (reference config.py:42 cls.th)


@dataclass(frozen=True)
class PrepConfig:
    ori: bool = True    # orientation correction on (reference config.py:48 prep.ori)
    oth: float = 0.9    # orientation confidence gate (reference config.py:50 oth)
    unwarp: bool = False  # page perspective rectification (reference
                          # config.py:49 uwp — off by default there too)
    uwth: float = 0.5   # unwarp confidence gate (reference config.py:51 uwth)


@dataclass(frozen=True)
class ExtractConfig:
    det: DetectConfig = field(default_factory=DetectConfig)
    rec: RecognizeConfig = field(default_factory=RecognizeConfig)
    layout: LayoutConfig = field(default_factory=LayoutConfig)
    prep: PrepConfig = field(default_factory=PrepConfig)
    cls: ClsConfig = field(default_factory=ClsConfig)
    #: corrupt/unsupported media bytes: 'fail' (reference parity — the
    #: task dies, with the offending media_ref named) or 'skip' (the 100
    #: TB posture: the frame counts toward n_media_missing and the rest of
    #: the document extracts — one rotten blob in 10^12 must not kill a
    #: 1000-executor stage)
    on_bad_media: str = "fail" 

    def to_dict(self) -> dict:
        return asdict(self)
