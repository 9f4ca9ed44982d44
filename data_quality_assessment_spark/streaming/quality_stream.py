"""Structured Streaming surface for the quality DAG.

The reference is pure batch (SURVEY.md §2.12) and the north rule is
batch too; this module exists because the engine's stages are naturally
stream-safe — annotate/rules/scrub are stateless per-row, and the only
stateful pieces map onto standard streaming state:

  * exact dedup (D2)      -> ``dropDuplicatesWithinWatermark`` keyed on
                             (url, warc_ts): first arrival wins within
                             the watermark horizon (the batch path's
                             deterministic tiebreak needs global sight,
                             which a stream by definition lacks)
  * per-host cadence (A9) -> watermarked sliding-window counts

State sizing at scale: dedup state is keyed by (url, warc_ts) and GC'd
at the watermark, so executor state is bounded by the late-data horizon
x ingest rate, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..plans import pipeline

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def streaming_pipeline(
    stream: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    watermark: str = "1 hour",
    dedup: bool = True,
) -> DataFrame:
    """The flagship DAG over a streaming pages DataFrame."""
    if dedup:
        stream = stream.withWatermark("warc_ts", watermark)
        stream = stream.dropDuplicatesWithinWatermark(["url", "warc_ts"])
    out = pipeline.verdict(pipeline.annotate(stream), cfg)
    return out.select(*pipeline.OUTPUT_COLUMNS)


def host_window_counts(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-host page counts over event-time windows (append-mode safe)."""
    from ..functions import textstats as ts

    s = stream.withWatermark("warc_ts", watermark)
    w = F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    return (
        s.withColumn("host", ts.host_of(F.col("url")))
        .groupBy(w.alias("win"), "host")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select("win.start", "win.end", "host", "n_pages")
    )


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> None:
    """Process everything currently in input_dir (availableNow trigger)
    and stop — incremental across invocations via the stream checkpoint,
    the streaming twin of plans/resumable.py."""
    out = streaming_pipeline(read_pages_stream(spark, input_dir), cfg)
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# custom stateful operator: per-host cadence state across micro-batches
# (applyInPandasWithState — the escape hatch when built-in streaming
# aggregations can't express the semantics; here: an exact capped
# IAT-value histogram + last-seen timestamp per host, carried across
# batches, emitting the reference's smallest-tie mode per update)
# ---------------------------------------------------------------------------

CADENCE_STATE_SCHEMA = (
    "last_ts double, n long, iat_keys array<double>, iat_counts array<long>"
)
CADENCE_OUT_SCHEMA = (
    "host string, n_pages long, n_iat long, mode_iat double"
)
_CADENCE_MAX_KEYS = 1024  # state cap per host: drop rarest keys beyond


def host_cadence_stateful(
    stream: DataFrame, timeout_min: int | None = None
) -> DataFrame:
    """Running per-host IAT mode over a stream of (host, warc_ts).

    State per host: last event-time + a capped {iat: count} histogram —
    the exact smallest-tie mode (A3/Q3) needs value counts, which no
    built-in windowed aggregation keeps across batches. State is
    explicitly bounded (``_CADENCE_MAX_KEYS``); pass ``timeout_min`` in
    a continuous deployment to GC idle hosts by processing-time timeout
    (leave None for availableNow/backfill runs — a pending timeout
    keeps scheduling batches past the available data), so a 10^8-host
    stream holds O(hosts x cap) state.

    Timestamps are processed in event-time order WITHIN each batch
    (sorted), so replaying the same batches yields the same state.
    """
    import pandas as pd

    def fn(key, pdfs, state):
        if timeout_min is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            last_ts, n, keys, counts = state.get
            hist = dict(zip(keys, counts))
        else:
            last_ts, n, hist = None, 0, {}
        # Materialize the whole group's timestamps before sorting: a host
        # whose rows span multiple Arrow chunks (default ~10k rows/chunk)
        # must still be processed in one event-time order, or IATs would
        # depend on nondeterministic chunk order. Bounded by per-batch
        # group size, which the watermark/ingest-rate already bounds.
        for ts in sorted(t for pdf in pdfs for t in pdf["warc_ts"]):
            t = ts.timestamp()
            if last_ts is not None and t >= last_ts:
                iat = round(t - last_ts, 6)
                hist[iat] = hist.get(iat, 0) + 1
            last_ts = t
            n += 1
        if len(hist) > _CADENCE_MAX_KEYS:
            keep = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))
            hist = dict(keep[:_CADENCE_MAX_KEYS])
        state.update((last_ts, n, list(hist), [hist[k] for k in hist]))
        if timeout_min is not None:
            state.setTimeoutDuration(timeout_min * 60 * 1000)
        mode = (
            min(hist, key=lambda k: (-hist[k], k)) if hist else None
        )  # ties -> smallest (Q3)
        yield pd.DataFrame({
            "host": [key[0]],
            "n_pages": [n],
            "n_iat": [sum(hist.values())],
            "mode_iat": [mode],
        })

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=CADENCE_OUT_SCHEMA,
        stateStructType=CADENCE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_min is not None else GroupStateTimeout.NoTimeout
        ),
    )
