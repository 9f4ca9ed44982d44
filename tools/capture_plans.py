"""Capture .explain('formatted') for the bench queries + the flagship
pipeline into a directory (r6 deliverable: plans/r06/<q>_{before,after}.txt).

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]
Runs from the repo root it lives in (works in a worktree too).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir(ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from bench import BENCH_QUERIES, ensure_corpus
    from data_quality_assessment_spark.session import get_spark

    spark = get_spark(
        "capture-plans", master="local[4]", shuffle_partitions=32,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1 << 20)},
    )
    qs = entrymod.queries()
    for item in BENCH_QUERIES:
        name, fn = item if isinstance(item, tuple) else (item, qs[item])
        if only and name not in only:
            continue
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print("captured", name)

    if not only or "pipeline_full" in only:
        from data_quality_assessment_spark.config import DEFAULT_CONFIG
        from data_quality_assessment_spark.plans.pipeline import (
            pages_out, run_pipeline,
        )

        corpus = ensure_corpus()
        df = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        plan = pages_out(
            run_pipeline(df, DEFAULT_CONFIG)
        )._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(
            os.path.join(out_dir, f"pipeline_full_{suffix}.txt"), "w"
        ) as f:
            f.write(plan)
        print("captured pipeline_full")
    spark.stop()


if __name__ == "__main__":
    main()
