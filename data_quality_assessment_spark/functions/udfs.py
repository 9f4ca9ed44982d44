"""Arrow-batched UDFs — the only Python in the hot path.

ONE JVM↔Python boundary in the flagship plan (SURVEY.md §4):
``enrich_udf`` — the fused extract + langid + perplexity + repetition +
text-stats + scrub kernel, one ArrowEvalPython node backed by the
batch-vectorized ``kernel.enrich_batch_arrow``. Every caller that needs
any of those fields reads it off this one UDF. ``ppl_udf`` is the one
narrow UDF: opaque struct UDFs are not field-pruned, so a
perplexity-only query would pay for every other field (the ppl-only UDF
measured 2.1x on ``doc_ppl``, OPTIMIZATION_r06.md). Both use the
Iterator form so model/regex state is initialized once per executor
Python worker and reused across Arrow batches ("model broadcast once per
executor, no per-row Python" — BASELINE.json north_star).

All per-row semantics are imported from ``lm``/``kernel`` — the same
modules the test oracle uses — so Spark output is byte-identical to the
oracle by construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lm import get_model

ENRICH_SCHEMA = T.StructType([
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("ppl", T.DoubleType()),
    T.StructField("top_bigram_share", T.DoubleType()),
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("pii_email", T.IntegerType()),
    T.StructField("pii_ip", T.IntegerType()),
    T.StructField("pii_phone", T.IntegerType()),
    T.StructField("toxicity_slur", T.IntegerType()),
    T.StructField("nw", T.LongType()),
    T.StructField("mean_wl", T.DoubleType()),
    T.StructField("symbol_ratio", T.DoubleType()),
    T.StructField("stopword_frac", T.DoubleType()),
    T.StructField("dup_line_frac", T.DoubleType()),
])


@F.arrow_udf(ENRICH_SCHEMA)
def enrich_udf(
    batches: Iterator[tuple[pa.Array, pa.Array]],
) -> Iterator[pa.Array]:
    """(html, text) -> the full fused enrich kernel (``kernel.py``):
    extract + langid + ppl + repetition + scrub + heuristic text stats,
    ONE ArrowEvalPython node.

    Fusing matters beyond serialization: each ArrowEvalPython node runs
    its own Python worker per task, so two chained UDF stages put
    2x|cores| Python processes plus |cores| JVM threads on the box —
    measured 3x per-core slowdown at local[32] vs local[8] from that
    oversubscription alone. One node = one worker per task, the text
    crosses the JVM<->Python boundary once, and the stats ride along
    for microseconds per doc instead of ~7 JVM regex passes (see
    kernel.py docstring). ``text_extracted`` is deliberately NOT
    returned — nothing downstream needs the raw text again, which
    halves the Arrow output bytes.

    r6: Arrow-NATIVE UDF (Spark 4 ``arrow_udf``): batches arrive and
    return as pyarrow arrays — no pandas Series of per-row bytes
    objects on the way in, no DataFrame->Arrow conversion on the way
    out, and html extraction runs as a C cast + RE2 tag strip
    (``kernel.enrich_batch_arrow``; per-row fallback keeps
    errors='replace' semantics for invalid UTF-8).
    """
    from .kernel import enrich_batch_arrow

    for htmls, texts in batches:
        yield enrich_batch_arrow(htmls, texts)


@F.pandas_udf(T.DoubleType())
def ppl_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """text -> perplexity only (vectorized batch path, kernel.ppl_batch)
    — bit-identical to ``enrich_udf(...).ppl`` on null html, without
    paying for extraction/langid/scrub/top-bigram the caller discards
    (Catalyst cannot prune unused struct fields out of an opaque UDF)."""
    from .kernel import ppl_batch

    model = get_model()
    for texts in batches:
        yield pd.Series(ppl_batch(texts, model), dtype="float64")
