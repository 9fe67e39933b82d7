"""spark-submit entry script (north_star launch mode):

    spark-submit --master local[32] \
        --py-files dist/ai_invoice_ocr_engine_spark.zip \
        tools/submit_extract.py --docs D.parquet --media M.parquet --out OUT

Unlike ``python -m``, this path exercises the real cluster deployment shape:
the package rides --py-files, the session comes from spark-submit's conf.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True)
    p.add_argument("--media", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--no-resume", action="store_true")
    args = p.parse_args()

    from ai_invoice_ocr_engine_spark.pipeline import run_extract

    spark = (
        SparkSession.builder.appName("ai-invoice-ocr-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
        .getOrCreate()
    )
    stats = run_extract(
        spark,
        args.docs,
        args.media,
        args.out,
        num_buckets=args.buckets,
        resume=not args.no_resume,
    )
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
