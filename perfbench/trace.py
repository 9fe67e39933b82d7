"""Per-layer numbers of a traced run, all taken from outside the program:

* ``Tracer`` wraps the calls the job makes from the Python process into ``snapshots``
  and ``DataFrameWriter.parquet`` (classified by target path), timing each
  and tagging the Spark jobs it starts with a ``perfbench.layer`` local
  property;
* ``event_log_layers`` reads Spark's event log (turned on only for the
  traced run) for per-stage task time, CPU time, shuffle bytes and the
  Python UDF metrics of the OCR ``mapInPandas`` stage;
* ``replay_kernels`` times each per-frame stage function on the workload's
  frames in one process, grouped like the Arrow batches the UDF receives.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark import snapshots
from ai_invoice_ocr_engine_spark.config import ExtractConfig
from ai_invoice_ocr_engine_spark.extractor import assemble_frame_lines
from pyspark.sql import DataFrameWriter

LAYER_PROP = "perfbench.layer"
_SNAPSHOT_CALLS = {
    "reconcile_to_head": "snapshots.reconcile",
    "archive_buckets": "snapshots.archive",
    "commit_snapshot": "snapshots.commit",
}


def write_kind(path: str) -> str:
    p = str(path).rstrip("/")
    if p.endswith("_upsert_tmp"):
        return "write.staging"
    if p.endswith("/lineage"):
        return "write.lineage"
    if p.endswith("/spans"):
        return "write.spans"
    return "write.other"


class Tracer:
    """While entered, times every wrapped call per layer into ``seconds``
    and labels the Spark jobs it runs. Wrapping happens on the module and
    class attributes the program looks up at call time."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.seconds: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    def _timed(self, layer: str, fn):
        sc, seconds = self._sc, self.seconds

        def wrapper(*args, **kwargs):
            prev = sc.getLocalProperty(LAYER_PROP)
            sc.setLocalProperty(LAYER_PROP, layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                seconds[layer] += time.perf_counter() - t0
                sc.setLocalProperty(LAYER_PROP, prev)

        return wrapper

    def __enter__(self) -> "Tracer":
        for name, layer in _SNAPSHOT_CALLS.items():
            fn = getattr(snapshots, name)
            self._saved.append((snapshots, name, fn))
            setattr(snapshots, name, self._timed(layer, fn))
        parquet = DataFrameWriter.parquet
        self._saved.append((DataFrameWriter, "parquet", parquet))
        tracer = self

        def traced_parquet(writer, path, *args, **kwargs):
            return tracer._timed(write_kind(path), parquet)(writer, path, *args, **kwargs)

        DataFrameWriter.parquet = traced_parquet
        return self

    def __exit__(self, *exc) -> None:
        for owner, name, fn in reversed(self._saved):
            setattr(owner, name, fn)
        self._saved.clear()


# ---- Spark event log


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _ocr_input_accumulators(events: list[dict]) -> set[int]:
    """Accumulator ids counting the rows that enter each MapInPandas node:
    the 'records read' (shuffle) or 'number of output rows' metric of the
    first descendant that has one."""
    ids = set()
    for ev in events:
        info = ev.get("sparkPlanInfo")
        if info is None:
            continue
        for node in _plan_nodes(info):
            if node["nodeName"] != "MapInPandas":
                continue
            child = node["children"][0] if node["children"] else None
            while child is not None:
                metrics = {m["name"]: m["accumulatorId"] for m in child["metrics"]}
                acc = metrics.get("records read", metrics.get("number of output rows"))
                if acc is not None:
                    ids.add(acc)
                    break
                child = child["children"][0] if child["children"] else None
    return ids


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def event_log_layers(log_dir: str, app_id: str) -> dict[str, dict[str, dict[str, float]]]:
    """group id (one per user call) -> layer ('compute', 'write.*',
    'snapshots.*') -> summed stage figures, plus job and stage counts."""
    (path,) = glob.glob(os.path.join(log_dir, app_id + "*"))
    with open(path) as f:
        events = [json.loads(line) for line in f]
    rows_in_ids = _ocr_input_accumulators(events)
    stage_owner: dict[int, tuple[str, str]] = {}
    out: dict[str, dict[str, dict[str, float]]] = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for ev in events:
        if ev["Event"] != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        group = props.get("spark.jobGroup.id")
        if not group:
            continue
        layer = props.get(LAYER_PROP) or "compute"
        out[group]["calls"]["jobs"] += 1
        for sid in ev["Stage IDs"]:
            stage_owner[sid] = (group, layer)
    for ev in events:
        if ev["Event"] != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        owner = stage_owner.get(info["Stage ID"])
        if owner is None:
            continue
        group, layer = owner
        acc = defaultdict(float)
        rows_in = 0.0
        for a in info.get("Accumulables", ()):
            acc[a["Name"]] += _num(a.get("Value"))
            if a["ID"] in rows_in_ids:
                rows_in += _num(a.get("Value"))
        out[group]["calls"]["stages"] += 1
        is_ocr = "time to run Python workers" in acc
        writes = acc["internal.metrics.output.bytesWritten"] > 0
        kind = "udf" if is_ocr else "output" if writes else "merge"
        if layer.startswith("snapshots."):
            kind = "snapshots"
        s = out[group][kind]
        s["run_s"] += acc["internal.metrics.executorRunTime"] / 1e3
        s["cpu_s"] += acc["internal.metrics.executorCpuTime"] / 1e9
        s["shuffle_bytes"] += acc["internal.metrics.shuffle.write.bytesWritten"]
        if is_ocr:
            s["python_run_s"] += acc["time to run Python workers"] / 1e3
            s["python_start_s"] += acc["time to start Python workers"] / 1e3
            s["python_init_s"] += acc["time to initialize Python workers"] / 1e3
            s["bytes_to_python"] += acc["data sent to Python workers"]
            s["bytes_from_python"] += acc["data returned from Python workers"]
            s["rows_in"] += rows_in
    return out


# ---- single-process kernel replay

KERNEL_STAGES = (
    "decode", "orientation", "det_resize", "detect_prob", "extract_boxes",
    "crop", "textline_cls", "recognize", "assemble",
)


def replay_kernels(frames: list[tuple[str, bytes]], batch: int, expect: dict[str, list[str]]) -> dict:
    """ms per frame of each stage of the OCR UDF, replayed in groups of
    ``batch`` frames (recognition runs once per group, as in the UDF; its
    time is shared evenly by the group's frames). Each frame's text must
    equal ``expect[ref]``, so the replay cannot drift from the program."""
    cfg = ExtractConfig()
    if cfg.prep.unwarp or cfg.det.rotated or not cfg.prep.ori or not cfg.cls.en:
        raise ValueError("kernel replay mirrors the default ExtractConfig only")
    weights = K.resolve_weights(cfg.rec)
    rec_kw = dict(
        h=cfg.rec.h, mw=cfg.rec.mw, min_w=cfg.rec.min_w,
        decode=cfg.rec.decode, beam_width=cfg.rec.beam_width,
    )
    box_kw = dict(th=cfg.det.th, bth=cfg.det.bth, ur=cfg.det.ur, ms=cfg.det.ms, dil=cfg.det.dil)
    total = dict.fromkeys(KERNEL_STAGES, 0.0)
    n_crops = 0
    clock = time.perf_counter
    for start in range(0, len(frames), batch):
        group = frames[start : start + batch]
        geoms, crop_groups = [], []
        for _ref, data in group:
            t0 = clock()
            img = K.decode_image(bytes(data))
            t1 = clock()
            img, _ = K.correct_orientation(img, oth=cfg.prep.oth)
            t2 = clock()
            det_img = K.det_resize(img, cfg.det.mxs)
            t3 = clock()
            prob = K.detect_prob(det_img)
            t4 = clock()
            boxes, _scores = K.extract_boxes(prob, img.shape, **box_kw)
            t5 = clock()
            crops = [K.crop_box(img, b) for b in boxes]
            t6 = clock()
            crops = [K.correct_textline(c, th=cfg.cls.th) for c in crops]
            t7 = clock()
            for name, dt in zip(KERNEL_STAGES, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5, t7 - t6)):
                total[name] += dt
            geoms.append((boxes, img.shape[0]))
            crop_groups.append(crops)
            n_crops += len(crops)
        t0 = clock()
        texts = K.recognize_crop_groups(crop_groups, weights, **rec_kw)
        total["recognize"] += clock() - t0
        for (ref, _data), (boxes, oh), ts in zip(group, geoms, texts):
            t0 = clock()
            lines = assemble_frame_lines(boxes, ts, oh, cfg) if len(boxes) else []
            total["assemble"] += clock() - t0
            got = [t for line in lines for t, _score in line]
            if got != expect[ref]:
                raise ValueError(f"kernel replay of {ref} differs from the oracle")
    n = len(frames)
    out = {f"kernel.{k}_ms": v * 1e3 / n for k, v in total.items()}
    out["kernel.frame_ms"] = sum(total.values()) * 1e3 / n
    out["kernel.frames"] = float(n)
    out["kernel.crops"] = float(n_crops)
    return out


def median_of(rows: list[dict]) -> dict:
    keys = set().union(*rows) if rows else set()
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}
