#!/usr/bin/env python3
"""Layered benchmark of the extraction job, run as a user runs it.

    python3 perfbench/run.py --workload synf --seed 1 --seconds 10 --trace 0

One Python process, ``local[nproc]``. Per run it generates (or reuses) the
seeded inputs and oracle of the workload under ``perfbench/.work``, starts
a session, builds the media blob, makes one warm pass, then repeats until
``--seconds`` have passed (at least MIN_ITERATIONS times) the sequence

    run_extract(v1) into a fresh table → upsert_extract(v2 slice)
    → upsert_extract(delete=True)

and checks every table against the oracle and ``verify_lineage``. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics of a traced run with ``--trace 1``). A mismatch exits 1. Every
process the run starts is gone when it exits, also after SIGTERM or its
own deadline. perfbench/layers.json says what each metric measures, which
layer it belongs to and which end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
# the whole run, cleanup included, must end within 180 s
DEADLINE_S = 150
DRIVER_MEM = "2g"

# C1-only JIT: with the default tiered JIT, C2 compilation keeps running
# for many passes and was the largest source of run-to-run spread. C1-only
# shrinks the default code cache to 48 MB, which Spark fills; keep the
# tiered default size.
JAVA_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


class Interrupted(BaseException):
    """SIGTERM, SIGINT or the run's own deadline."""


def _interrupt(signum, _frame):
    raise Interrupted(signal.Signals(signum).name)


def _tables_files(out_dir: str) -> dict[str, int]:
    """relative path -> bytes of every visible parquet file under the
    table's spans/ and lineage/ trees."""
    out = {}
    for sub in ("spans", "lineage"):
        for dirpath, dirs, names in os.walk(os.path.join(out_dir, sub)):
            dirs[:] = [d for d in dirs if d[0] not in "_."]
            for n in names:
                if n.endswith(".parquet") and n[0] not in "_.":
                    p = os.path.join(dirpath, n)
                    out[os.path.relpath(p, out_dir)] = os.path.getsize(p)
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, n)) for dp, _d, names in os.walk(path) for n in names
    )


class Bench:
    """One run: a session, its workload inputs and the measured calls."""

    def __init__(self, workload: str, seed: int, nproc: int, run_dir: str):
        from ai_invoice_ocr_engine_spark import pipeline
        from perfbench import procs, workloads

        if not os.path.abspath(pipeline.__file__).startswith(ROOT + os.sep):
            raise RuntimeError(f"the program must come from {ROOT}, not {pipeline.__file__}")
        self.pipeline, self.procs, self.workloads = pipeline, procs, workloads
        self.workload, self.nproc = workload, nproc
        self.master = f"local[{nproc}]"
        self.run_dir = run_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.layers: dict[str, float] = {}
        t0 = time.perf_counter()
        self.corpus, self.pool = workloads.ensure(WORK, workload, seed, nproc)
        print(f"inputs {os.path.basename(self.corpus)} {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        with open(os.path.join(self.corpus, "meta.json")) as f:
            self.meta = json.load(f)
        self.docs_v1 = os.path.join(self.corpus, "documents.parquet")
        self.docs_v2 = os.path.join(self.corpus, "documents_v2.parquet")
        self.docs_warm = os.path.join(self.corpus, "documents_warm.parquet")
        self.media = os.path.join(self.pool, "media.parquet")
        self.want_extract, self.want_final = workloads.expected_tables(self.corpus)

    # -- set-up

    def setup(self, event_log_dir: str | None) -> float:
        """Session start, media blob, and one warm pass over the warm slice:
        run_extract, then a delete (the first delete of a session is the
        slowest and least steady call); returns seconds."""
        from ai_invoice_ocr_engine_spark.sources.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JAVA_OPTS}",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        shutil.rmtree(os.path.join(self.pool, ".blob_cache"), ignore_errors=True)
        os.sync()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app=f"perfbench-{self.workload}", master=self.master,
            shuffle_partitions=self.nproc, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        blob = self.pipeline.build_media_blob(self.media)
        t2 = time.perf_counter()
        print(f"session {t1 - t0:.3f} s, blob {t2 - t1:.3f} s", file=sys.stderr)
        self.layers.update({
            "session.start_s": t1 - t0,
            "blob.build_s": t2 - t1,
            "blob.bytes": float(os.path.getsize(blob)),
        })
        warm = os.path.join(self.run_dir, "table-warm")
        p = self.pipeline
        if (
            self._call("warm:extract", p.run_extract, self.spark, self.docs_warm, self.media, warm) is None
            or self._call(
                "warm:delete", p.upsert_extract, self.spark, warm, self.docs_warm,
                where=self.workloads.DELETE_WHERE, delete=True,
            ) is None
        ):
            raise RuntimeError("warm pass failed")
        return time.perf_counter() - t0

    # -- measured calls

    def _call(self, label: str, fn, *args, **kwargs):
        """One user call, labelled as a Spark job group; returns (result,
        wall s, tree CPU s) or None when it raised."""
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        self.attempted += 1
        cpu0 = self.procs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            res = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        wall = time.perf_counter() - t0
        cpu = self.procs.tree_cpu_s(os.getpid()) - cpu0
        print(f"call {label} {wall:.3f} s, cpu {cpu:.2f} s", file=sys.stderr)
        return res, wall, cpu

    def _check(self, what: str, out_dir: str, want: dict) -> None:
        got = self.workloads.read_table(out_dir)
        for m in self.workloads.mismatches(got, want):
            self.mismatches.append(f"{what}: {m}")

    def iteration(self, tag) -> dict | None:
        """run_extract → upsert → delete on a fresh table ``table-<tag>``
        (left in place for the caller). Returns the iteration's figures, or
        None if a call raised."""
        p, w = self.pipeline, self.workloads
        out = os.path.join(self.run_dir, f"table-{tag}")
        seen: dict[str, int] = {}
        r = self._call(f"{tag}:extract", p.run_extract, self.spark, self.docs_v1, self.media, out)
        if r is None:
            return None
        res, ex_wall, ex_cpu = r
        docs = int(res["docs"])
        seen.update(_tables_files(out))
        spans_bytes = sum(v for k, v in seen.items() if k.startswith("spans"))
        per_bucket = {}
        for k in seen:
            if k.startswith("spans"):
                per_bucket[os.path.dirname(k)] = per_bucket.get(os.path.dirname(k), 0) + 1
        self._check(f"{tag} run_extract", out, self.want_extract)
        r = self._call(
            f"{tag}:upsert", p.upsert_extract, self.spark, out, self.docs_v2, self.media,
            where=w.UPSERT_WHERE,
        )
        if r is None:
            return None
        up_wall = r[1]
        seen.update(_tables_files(out))
        r = self._call(
            f"{tag}:delete", p.upsert_extract, self.spark, out, self.docs_v2,
            where=w.DELETE_WHERE, delete=True,
        )
        if r is None:
            return None
        del_wall = r[1]
        seen.update(_tables_files(out))
        self._check(f"{tag} final", out, self.want_final)
        fig = {
            "docs": docs,
            "extract_s": ex_wall,
            "extract_docs_per_s": docs / ex_wall,
            "extract_cpu_s_per_kdoc": ex_cpu * 1e3 / docs,
            "upsert_s": up_wall,
            "delete_s": del_wall,
            "files_written": float(len(seen)),
            "table_bytes_per_doc": spans_bytes / docs,
            "write.files_per_bucket_max": float(max(per_bucket.values())),
            "write.bytes": float(sum(seen.values())),
            "snapshots.manifest_bytes": float(_dir_bytes(os.path.join(out, "_snapshots"))),
        }
        return fig

    def verify(self, out_dir: str) -> None:
        r = self._call("verify_lineage", self.pipeline.verify_lineage, self.spark, out_dir)
        if r is not None and not r[0]["ok"]:
            self.mismatches.append(f"verify_lineage: {r[0]}")

    def checksum_s(self) -> float:
        """bench.py's checksum action over ``pipeline.extract`` (the OCR and
        merge without the write tail)."""
        from pyspark.sql import functions as F

        docs = self.spark.read.parquet(self.docs_v1)
        media = self.spark.read.parquet(self.media)
        t0 = time.perf_counter()
        self.pipeline.extract(docs, media, media_strategy="frames", media_side_path=self.media).agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias("ck"),
        ).collect()
        return time.perf_counter() - t0

    def close(self) -> None:
        self.procs.stop_spark(self.spark)
        self.spark = None
        shutil.rmtree(os.path.join(self.pool, ".blob_cache"), ignore_errors=True)


def _measure(bench: Bench, seconds: float, trace: bool) -> list[dict]:
    """Repeat the iteration until ``seconds`` have passed, at least
    MIN_ITERATIONS times. A traced run alternates plain and traced
    iterations."""
    from perfbench.trace import Tracer

    figs = []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < MIN_ITERATIONS or time.perf_counter() < t_end:
        # write back the set-up's and the last iteration's files (the media
        # blob is ~180 MB on synf) now, not during the next timed call
        os.sync()
        traced = bool(trace and i % 2 == 1)
        if traced:
            with Tracer(bench.spark) as tr:
                fig = bench.iteration(i)
            if fig is not None:
                fig.update({k + "_s": v for k, v in tr.seconds.items()})
        else:
            fig = bench.iteration(i)
        if fig is None:
            break
        fig["traced"] = traced
        figs.append(fig)
        i += 1
    return figs


def _end_to_end(setup_s: float, peak_bytes: int, figs: list[dict]) -> dict[str, float]:
    vals = {"setup_s": setup_s, "peak_rss_mb": peak_bytes / 2**20}
    for k in ("extract_docs_per_s", "extract_cpu_s_per_kdoc", "upsert_s", "delete_s",
              "files_written", "table_bytes_per_doc"):
        vals[k] = statistics.median(f[k] for f in figs)
    return vals


def _per_layer(bench: Bench, figs: list[dict], event_log_dir: str, app_id: str) -> dict:
    from perfbench import trace

    meta = bench.meta
    traced = [f for f in figs if f["traced"]]
    plain = [f for f in figs if not f["traced"]]
    groups = trace.event_log_layers(event_log_dir, app_id)
    rows = []
    for i, fig in enumerate(figs):
        if not fig["traced"]:
            continue
        row = {k: fig.get(k, 0.0) for k in (
            "write.spans_s", "write.lineage_s", "write.staging_s", "snapshots.reconcile_s",
            "snapshots.archive_s", "snapshots.commit_s", "write.files_per_bucket_max",
            "write.bytes", "snapshots.manifest_bytes")}
        row["write.files"] = fig["files_written"]
        udf, merge = {}, {}
        for call in ("extract", "upsert", "delete"):
            g = groups.get(f"{i}:{call}", {})
            row[f"spark.jobs.{call}"] = g.get("calls", {}).get("jobs", 0.0)
            row[f"spark.stages.{call}"] = g.get("calls", {}).get("stages", 0.0)
            for k, v in g.get("udf", {}).items():
                udf[k] = udf.get(k, 0.0) + v
            for k, v in g.get("merge", {}).items():
                merge[k] = merge.get(k, 0.0) + v
        row.update({
            "udf.stage_run_s": udf.get("run_s", 0.0),
            "udf.stage_cpu_s": udf.get("cpu_s", 0.0),
            "udf.python_run_s": udf.get("python_run_s", 0.0),
            "udf.python_start_s": udf.get("python_start_s", 0.0),
            "udf.python_init_s": udf.get("python_init_s", 0.0),
            "udf.bytes_to_python": udf.get("bytes_to_python", 0.0),
            "udf.bytes_from_python": udf.get("bytes_from_python", 0.0),
            "udf.rows_in": udf.get("rows_in", 0.0),
            "ocr.frames_ratio": udf.get("rows_in", 0.0)
            / (meta["refs_needed_extract"] + meta["refs_needed_upsert"]),
            "merge.run_s": merge.get("run_s", 0.0),
            "merge.cpu_s": merge.get("cpu_s", 0.0),
            "merge.shuffle_bytes": merge.get("shuffle_bytes", 0.0),
        })
        rows.append(row)
    out = trace.median_of(rows)
    out.update(bench.layers)
    out["ocr.frames_ratio"] = max(r["ocr.frames_ratio"] for r in rows)
    out["udf.crossing_ratio"] = out["udf.python_run_s"] / (
        out["kernel.frame_ms"] / 1e3 * out["udf.rows_in"]
    )
    out["trace.overhead_s"] = statistics.median(f["extract_s"] for f in traced) - statistics.median(
        f["extract_s"] for f in plain
    )
    return out


def _replay(bench: Bench, limit: int, batch: int) -> dict:
    import pyarrow.parquet as pq

    from perfbench import trace

    expect = bench.workloads.frame_texts(bench.pool)
    t = pq.read_table(bench.media, columns=["media_ref", "image"])
    frames = sorted(zip(t.column("media_ref").to_pylist(), t.column("image").to_pylist()))
    return trace.replay_kernels(frames[:limit], batch, expect)


def _env(nproc: int, master: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "master": master,
        "OPENBLAS_NUM_THREADS": os.environ.get("OPENBLAS_NUM_THREADS"),
        "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
    }


REPLAY_FRAMES = 64
# the box's speed drifts within a run; two iterations ~15 s apart halve the
# run-to-run spread of one, and a traced run needs a plain and a traced one
MIN_ITERATIONS = 2


def run(args, nproc: int, run_dir: str) -> tuple[dict, int]:
    from perfbench import procs

    env = _env(nproc, f"local[{nproc}]")
    env["loadavg_before"] = os.getloadavg()
    bench = Bench(args.workload, args.seed, nproc, run_dir)
    try:
        with procs.MemorySampler(os.getpid()) as sampler:
            event_log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
            setup_s = bench.setup(event_log_dir)
            app_id = bench.spark.sparkContext.applicationId
            batch = int(bench.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            sampler.reset()
            figs = _measure(bench, args.seconds, args.trace)
            peak_bytes = sampler.peak
            if figs:
                bench.verify(os.path.join(run_dir, f"table-{len(figs) - 1}"))
            if args.trace and figs:
                bench.layers["extract.checksum_s"] = bench.checksum_s()
    finally:
        bench.close()
    env["loadavg_after"] = os.getloadavg()
    env["workload"] = bench.meta
    env["iterations"] = len(figs)
    print(json.dumps({"env": env}))
    correct = bool(figs) and not bench.mismatches and bench.failed == 0
    for m in bench.mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    if not figs:
        raise RuntimeError("no iteration completed")
    with open(os.path.join(BENCH_DIR, "layers.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        bench.layers.update(_replay(bench, REPLAY_FRAMES, batch))
        values = _per_layer(bench, figs, event_log_dir, app_id)
    else:
        values = _end_to_end(setup_s, peak_bytes, figs)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    for name, m in metrics.items():
        samples = [f[name] for f in figs if name in f]
        hi = f" max {max(samples):.6g} n={len(samples)}" if samples else ""
        print(f"{name:32s} {m['value']:.6g} {m['unit']}{hi}", file=sys.stderr)
    if not args.trace:
        fails = bench.failed / max(bench.attempted, 1)
        print(f"{'fail_ratio':32s} {fails:.6g} ratio ({bench.failed}/{bench.attempted} calls)", file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return result, 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("synf", "codec", "mutate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    token = uuid.uuid4().hex
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{token[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # set before any process starts: the JVM, the Python workers and the
    # oracle pool inherit it; workers find the package through PYTHONPATH,
    # never through the working directory
    os.environ.update({
        "PERFBENCH_RUN_TOKEN": token,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _interrupt)
    signal.alarm(DEADLINE_S)
    code, result = 1, None
    try:
        result, code = run(args, nproc, run_dir)
    except (Exception, Interrupted):
        traceback.print_exc(file=sys.stderr)
        code = 1
    finally:
        signal.alarm(0)
        # no signal may cut the cleanup short
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)
        from perfbench import procs

        procs.kill_tagged(token)
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is not None:
        print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
