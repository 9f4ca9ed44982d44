"""data_quality_assessment_spark — a PySpark-native web-text quality engine.

A from-scratch reimagination of ``datakaveri/data-quality-assessment``
(reference at /root/reference, surveyed in SURVEY.md): the reference's
per-row validation rules, dedup, and inter-arrival-time statistics become a
langid + quality-score + PII/toxicity-scrub DAG over Common-Crawl-style
page tables, expressed entirely through the PySpark DataFrame API with
Arrow-batched pandas UDFs for the (few) steps Catalyst cannot express.

Layout:
    config.py     declarative pipeline config (mirrors reference config/*.json)
    session.py    SparkSession factory with pinned confs
    functions/    text statistics (native Columns), langid / perplexity /
                  scrub (pure-Python cores shared with the test oracle,
                  wrapped as pandas UDFs)
    operators/    dedup (exact + MinHash-LSH + SimHash + Jaccard + embedding),
                  cadence (mode/MAD/RAE over inter-arrival times),
                  schema metrics, similarity search, multimodal plumbing
    plans/        the flagship quality DAG and dataset-level score tables
    sources/      readers, Iceberg-shaped writer (parquet fallback),
                  checkpoint/resume
"""

__version__ = "0.1.0"
