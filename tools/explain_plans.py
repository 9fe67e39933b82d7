"""Dump formatted physical plans for the flagship pipeline + headline queries
so plan quality (pushdown, pruning, broadcast choice, codegen spans) can be
reviewed per round. Usage: python tools/explain_plans.py [sf_dir] > PLANS.txt
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from ai_invoice_ocr_engine_spark.config import ExtractConfig  # noqa: E402
from ai_invoice_ocr_engine_spark.pipeline import extract  # noqa: E402
from ai_invoice_ocr_engine_spark.queries import REGISTRY  # noqa: E402
from ai_invoice_ocr_engine_spark.sources.session import get_spark  # noqa: E402

SHOW = [
    "pricing_summary",
    "topk_orders",
    "local_supplier_volume",
    "sessionize_events",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "ann_cosine_topk",
    "ann_batch_topk",
    "ann_ivf_full_probe",
    "cube_revenue",
    "exists_late_orders",
    "range_join_buckets",
    "multi_distinct",
    "disjunctive_parts",
    "correlated_avg_qty",
    "asof_forward_activation",
    "range_moving_avg",
    "deterministic_split",
    # round 3 additions
    "quartiles_bucketed",
    "dedup_clusters_star",
    "ntile_spend_quartiles",
    # round 3 curation additions
    "repetition_filter",
    "stratified_sample",
    "corpus_funnel",
    # session 4: exact-substring dedup (no-pair-join), containment,
    # mixture weights
    "substring_dedup",
    "containment_pairs",
    "mixture_weights",
    # session 5: analytics + interleaved-span curation + distributed rank
    "funnel_conversion",
    "retention_cohorts",
    "top_bigrams",
    "event_transitions",
    "caption_pairs",
    # round 4: curation map stages
    "pii_scrub",
    "chunk_windows",
    # round 4, session 12: mixture materialization
    "token_budget_select",
    "deterministic_shuffle",
    "epoch_upsample",
    "tokenizer_fertility",
    "dedup_keep_policy",
    "mojibake_gate",
    "bigram_cross_entropy",
    "hashed_ngram_score",
]


def formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app="explain", master="local[4]", shuffle_partitions=4)
    print("#" * 78)
    print("# extract — flagship pipeline")
    print("#" * 78)
    docs = spark.createDataFrame(
        [], "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    media = spark.createDataFrame(
        [], "media_ref string, width int, height int, image binary, n_lines int"
    )
    print(formatted(spark, extract(docs, media, ExtractConfig())))
    for name in SHOW:
        fn, _sql = REGISTRY[name]
        print("#" * 78)
        print(f"# {name}")
        print("#" * 78)
        print(formatted(spark, fn(spark, sf)))
    spark.stop()


if __name__ == "__main__":
    main()
