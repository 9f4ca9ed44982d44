"""spark-submit entrypoint for the flagship quality pipeline.

    spark-submit --py-files dq.zip jobs/run_pipeline.py \
        --input  /path/to/pages_parquet_or_documents_parquet \
        --output /path/to/out_dir \
        [--config conf/pipeline.json] [--no-dedup] [--limit N]

Reads a pages table (url, warc_ts, html, text, lang) — or a
``documents``-shaped table (doc_id, text, lang, source, n_chars), which is
mapped into pages shape per FIXTURES.md F6 — runs the
dedup → annotate → rules → scrub DAG, writes pages_out parquet plus a
one-row run-metrics parquet, and prints a JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# script-mode sys.path[0] is jobs/, not the repo root; under a real
# spark-submit deployment --py-files dq.zip supersedes this
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def map_documents_to_pages(df):
    """FIXTURES.md F6: documents(doc_id,text,lang,source,n_chars) -> pages."""
    from pyspark.sql import functions as F

    return df.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url"),
        (F.to_timestamp(F.lit("2022-01-01 00:00:00"))
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--config", default=None)
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument(
        "--materialize-scrub", default=True,
        action=argparse.BooleanOptionalAction,
        help="write full scrubbed_text bytes at the sink (DEFAULT — the "
        "parquet contract stays 'scrubbed_text = the bytes'); "
        "--no-materialize-scrub keeps the engine-internal "
        "NULL-means-unchanged convention in the output (near-zero "
        "column on clean text; consumers must coalesce via "
        "plans.pipeline.materialize_scrubbed)",
    )
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from data_quality_assessment_spark.config import DEFAULT_CONFIG, PipelineConfig
    from data_quality_assessment_spark.session import get_spark
    from data_quality_assessment_spark.plans.pipeline import pages_out, run_pipeline

    cfg = PipelineConfig.from_json(args.config) if args.config else DEFAULT_CONFIG
    spark = get_spark(app_name="dq-run-pipeline", master=args.master)
    # ship the package to executor Python workers (cwd-independent)
    from data_quality_assessment_spark.session import ship_package

    ship_package(spark)
    t0 = time.time()
    df = spark.read.parquet(args.input)
    if "doc_id" in df.columns and "url" not in df.columns:
        df = map_documents_to_pages(df)
    if args.limit:
        df = df.limit(args.limit)

    res_df = run_pipeline(df, cfg, dedup=not args.no_dedup)
    if args.materialize_scrub:
        from data_quality_assessment_spark.plans.pipeline import (
            materialize_scrubbed,
        )

        res_df = materialize_scrubbed(res_df)
    out = pages_out(res_df)
    out.write.mode("overwrite").parquet(args.output + "/pages_out")

    from pyspark.sql import functions as F

    n, kept = spark.read.parquet(args.output + "/pages_out").agg(
        F.count(F.lit(1)), F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0))
    ).first()
    dt = time.time() - t0
    summary = {
        "n_docs": n,
        "n_kept": kept,
        "keep_rate": round(kept / n, 4) if n else None,
        "wall_sec": round(dt, 2),
        "docs_per_sec": round(n / dt, 1) if dt > 0 else None,
        "output": args.output + "/pages_out",
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
