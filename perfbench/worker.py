"""One benchmark process: start a session, warm up, run one workload's
ops in a closed loop (one op in flight), check every op's output and
write the samples to ``--out``.

With ``--trace 1`` the same process also times each layer from outside:
lazy layers as prefix plans forced to a ``noop`` sink (self time = the
difference between successive prefixes), eager calls wrapped in spans,
and Spark's own SQL metrics read after every action.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_quality_assessment_spark.config import DEFAULT_CONFIG  # noqa: E402
from data_quality_assessment_spark.operators import cadence  # noqa: E402
from data_quality_assessment_spark.plans import pipeline as P  # noqa: E402
from data_quality_assessment_spark.plans import report, resumable  # noqa: E402
from data_quality_assessment_spark.session import get_spark, ship_package  # noqa: E402
from data_quality_assessment_spark.sources.warehouse import Warehouse  # noqa: E402

from measure import PYTHON_NODES, PeakRss, Spans, SqlMetrics, tree_usage  # noqa: E402

OP_TIMEOUT_S = 90.0
MIN_ROUNDS_TRACED = 2


def _tree_bytes(d: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``d``."""
    n = size = 0
    for root, _, files in os.walk(d):
        for f in files:
            size += os.path.getsize(os.path.join(root, f))
            n += f.endswith(".parquet")
    return n, size


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_pages_sink(path: str, meta: dict, expected) -> str | None:
    """keep, rules_fired and scrubbed bytes of the sampled urls against
    the oracle, plus the sink's total row count; None when it matches."""
    tbl = pq.read_table(path, columns=["url", "keep", "rules_fired", "scrubbed_text"])
    if tbl.num_rows != meta["dedup_rows"]:
        return f"rows {tbl.num_rows} != {meta['dedup_rows']}"
    got = tbl.filter(pc.is_in(tbl["url"], value_set=pa.array(expected.index))).to_pandas()
    got = got.set_index("url").sort_index()
    if not got.index.equals(expected.index):
        return f"sampled urls {len(got)} != {len(expected)}"
    scrub = got["scrubbed_text"].where(got["scrubbed_text"].notna(), expected["extracted"])
    fired = got["rules_fired"].map(lambda x: ",".join(x) if x is not None else "")
    for name, a, b in (
        ("keep", got["keep"], expected["keep"]),
        ("rules_fired", fired, expected["rules_fired"]),
        ("scrubbed_text", scrub, expected["scrubbed_text"]),
    ):
        bad = (a != b).sum()
        if bad:
            return f"{name} differs on {bad} of {len(got)} sampled rows"
    return None


class Workload:
    """One op = the public calls a job makes; ``base`` is the row count
    ``docs_per_s`` divides by."""

    warm_ops = 3
    runs_kernel = False  # the enrich kernel runs inside the op

    def __init__(self, spark, meta: dict, tmp: str, spans: Spans) -> None:
        self.spark, self.meta, self.tmp, self.spans = spark, meta, tmp, spans
        self.input = os.path.join(meta["dir"], "input")
        self.base = meta["rows"]

    def setup(self) -> None:
        """Work that must precede the warm-up ops."""

    def prepare(self, i) -> None:
        """Untimed per-op preparation."""

    def cleanup(self, i) -> None:
        """Untimed per-op cleanup, after the output check."""

    def prefixes(self) -> list[tuple[str, object]]:
        """(name, fn) prefix plans forced to a noop sink, outermost last."""
        return []

    def traced_record(self, i) -> dict:
        """Per-op facts the traced run keeps beside the op's samples."""
        return {}

    def _self_times(self, names: list[str]) -> dict[str, float]:
        """Median wall of each prefix minus that of the one before it."""
        walls = [_med(self.spans.durations(f"prefix.{n}")) for n in names]
        return {n: w - (walls[k - 1] if k else 0.0) for k, (n, w) in enumerate(zip(names, walls))}


class Resume(Workload):
    """run_resumable into a copy of a warehouse whose checkpoint already
    holds a finished run for half the part_ids."""

    warm_ops = 2  # after the template build, which runs the same pipeline
    runs_kernel = True

    def __init__(self, *a) -> None:
        super().__init__(*a)
        import pandas as pd

        self.expected = pd.read_parquet(os.path.join(self.meta["dir"], "expected.parquet")).set_index("url").sort_index()
        self.template = os.path.join(self.tmp, "template")
        self.parts = self.meta["num_parts"]

    def wh_dir(self, i) -> str:
        return os.path.join(self.tmp, f"wh-{i}")

    def setup(self) -> None:
        """Build the template: a cold run_resumable over the rows of the
        template's part_ids; count the rows a resume leaves pending."""
        done = self.meta["template_parts"]
        keyed = resumable.with_part_id(self.spark.read.parquet(self.input), self.parts)
        half = keyed.filter(F.col("part_id").isin(done)).drop("part_id")
        res = resumable.run_resumable(self.spark, half, Warehouse(self.spark, self.template),
                                      DEFAULT_CONFIG, num_parts=self.parts)
        if res["parts_run"] != self.parts:
            raise RuntimeError(f"template run: {res}")
        self.base = keyed.filter(~F.col("part_id").isin(done)).count()
        self.template_bytes = _tree_bytes(self.template)

    def prepare(self, i):
        shutil.copytree(self.template, self.wh_dir(i))

    def op(self, i, traced):
        df = self.spark.read.parquet(self.input)
        if not traced:
            self.res = resumable.run_resumable(self.spark, df, Warehouse(self.spark, self.wh_dir(i)),
                                               DEFAULT_CONFIG, num_parts=self.parts)
            return
        # eager layer calls wrapped in spans: pending_work through the
        # module attribute run_resumable calls, the warehouse writes
        # through a Warehouse subclass
        spans, spark = self.spans, self.spark
        real_pending = resumable.pending_work

        def pending_work(*a, **k):
            with spans.span("plans.resumable.pending_work", op=i):
                return real_pending(*a, **k)

        class TracedWarehouse(Warehouse):
            def overwrite_partitions(self, df, table, cols):
                with spans.span(f"sources.warehouse.{table}_write", op=i) as rec:
                    super().overwrite_partitions(df, table, cols)
                # read while run_resumable still holds its persisted output;
                # outside the span, so the REST call does not count as write time
                if table == resumable.PAGES_OUT:
                    rec["persist_bytes"] = SqlMetrics.storage_bytes(spark)

            def append(self, df, table):
                with spans.span(f"sources.warehouse.{table}_append", op=i):
                    super().append(df, table)

        resumable.pending_work = pending_work
        try:
            self.res = resumable.run_resumable(spark, df, TracedWarehouse(spark, self.wh_dir(i)),
                                               DEFAULT_CONFIG, num_parts=self.parts)
        finally:
            resumable.pending_work = real_pending

    def check(self, i):
        half = self.parts // 2
        if self.res != {"parts_done_prior": half, "parts_run": self.parts - half}:
            return f"run_resumable returned {self.res}"
        ck = pq.read_table(os.path.join(self.wh_dir(i), resumable.CHECKPOINT), columns=["part_id"])
        if sorted(set(ck["part_id"].to_pylist())) != list(range(self.parts)):
            return "checkpoint does not hold every part_id"
        return check_pages_sink(os.path.join(self.wh_dir(i), resumable.PAGES_OUT), self.meta, self.expected)

    def written(self, i) -> tuple[int, int]:
        """(parquet files, bytes) this op added to the warehouse."""
        files, size = _tree_bytes(self.wh_dir(i))
        return files - self.template_bytes[0], size - self.template_bytes[1]

    def out_bytes(self, i):
        return self.written(i)[1]

    def traced_record(self, i):
        return {"files_written": self.written(i)[0]}

    def cleanup(self, i):
        shutil.rmtree(self.wh_dir(i), ignore_errors=True)

    def prefixes(self):
        # the pending rows' plan is built once, outside the timed prefixes:
        # its driver-side checkpoint read is timed as pending_work in the op
        keyed = resumable.with_part_id(self.spark.read.parquet(self.input), self.parts)
        pending = resumable.pending_work(keyed, Warehouse(self.spark, self.template), DEFAULT_CONFIG.run_id)[0]

        def out():
            return P.run_pipeline(pending, DEFAULT_CONFIG).select("part_id", *P.OUTPUT_COLUMNS)

        def scan():
            _noop(self.spark.read.parquet(self.input))

        def annotate():
            _noop(P.annotate(pending.withColumn("_tb", F.unhex(P.content_tiebreak())), with_host=False))

        def pipeline():
            _noop(out())

        def write():
            # the pages_out write itself, without the persist
            Warehouse(self.spark, os.path.join(self.tmp, "prefix-wh")).overwrite_partitions(
                out(), resumable.PAGES_OUT, ["part_id"])

        return [("scan", scan), ("annotate", annotate), ("pipeline", pipeline), ("write", write)]

    def layers(self, traced, untraced_wall):
        spans = {
            "plans.resumable.pending_work_s": "plans.resumable.pending_work",
            "sources.warehouse.pages_out_write_s": "sources.warehouse.pages_out_write",
            "sources.warehouse.lineage_write_s": "sources.warehouse.lineage_write",
            "sources.warehouse.metrics_write_s": "sources.warehouse.metrics_write",
            "sources.warehouse.checkpoint_append_s": "sources.warehouse.checkpoint_append",
        }
        out = {k: _med(self.spans.durations(s)) for k, s in spans.items()}

        def m(f):
            return _med([f(t["sql"]) for t in traced])

        # the dedup exchange: in the execution whose ArrowEvalPython ran
        aep = "ArrowEvalPython"
        out.update({
            "operators.dedup.shuffle_write_bytes_per_doc": m(
                lambda s: s.get("Exchange", "shuffle bytes written", within=aep)) / self.base,
            "operators.dedup.shuffle_write_s": m(lambda s: s.get("Exchange", "shuffle write time", within=aep)),
            "operators.dedup.fetch_wait_s": m(lambda s: s.get("Exchange", "fetch wait time", within=aep)),
            "operators.dedup.rows_kept_ratio": m(
                lambda s: s.get("Execute InsertIntoHadoopFsRelationCommand", "number of output rows", within=aep)
                / s.get(aep, "number of output rows")),
            "plans.pipeline.exchanges": m(lambda s: s.count("Exchange")),
        })
        pre = self._self_times(["scan", "annotate", "pipeline", "write"])
        out.update({
            "sources.scan_s": pre["scan"],
            "functions.udfs.enrich_self_s": pre["annotate"],
            "operators.dedup.exact_self_s": pre["pipeline"],
            "plans.pipeline.write_self_s": pre["write"],
            "plans.resumable.persist_mb": _med([
                r["persist_bytes"] / 1e6 for r in self.spans.records if "persist_bytes" in r]),
            "plans.resumable.pending_ratio": self.base / self.meta["rows"],
            "plans.resumable.annotated_per_pending": m(lambda s: s.get(aep, "number of output rows")) / self.base,
            "sources.warehouse.files_written": _med([t["files_written"] for t in traced]),
            "sources.warehouse.bytes_written_per_doc": _med([t["out_bytes"] for t in traced]) / self.base,
            # layer self times measured apart from the op (the prefix
            # plans) plus the spans of the calls after the pages_out
            # write, against the untraced op wall: time no layer
            # accounts for (persist, the emptiness probe, job
            # scheduling) lowers it
            "trace.coverage": (sum(pre.values()) + sum(out[k] for k in (
                "plans.resumable.pending_work_s", "sources.warehouse.lineage_write_s",
                "sources.warehouse.metrics_write_s", "sources.warehouse.checkpoint_append_s",
            ))) / untraced_wall,
        })
        return out


class Report(Workload):
    """six_metric_report(global_order=False).collect() over the packet table."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        with open(os.path.join(self.meta["dir"], "expected.json")) as f:
            self.expected = json.load(f)

    def op(self, i, traced):
        df = self.spark.read.parquet(self.input)
        self.rows = [r.asDict() for r in report.six_metric_report(df, global_order=False).collect()]

    def check(self, i):
        if len(self.rows) != 1:
            return f"{len(self.rows)} report rows"
        bad = {k: (self.rows[0].get(k), v) for k, v in self.expected.items() if self.rows[0].get(k) != v}
        return f"scores differ (got, want): {bad}" if bad else None

    def out_bytes(self, i):
        return len(json.dumps(self.rows).encode())

    def prefixes(self):
        def scan():
            _noop(self.spark.read.parquet(self.input))

        def iat():
            d = self.spark.read.parquet(self.input).withColumn("_ts", F.to_timestamp("observationDateTime"))
            _noop(cadence.with_iat(d, "entity_id", "_ts", global_order=False))

        return [("scan", scan), ("iat", iat)]

    def layers(self, traced, untraced_wall):
        pre = self._self_times(["scan", "iat"])
        # no trace.coverage here: the rest of the report has no prefix,
        # so its self time is the op wall minus the IAT prefix, and a
        # sum over the three would only restate trace.overhead
        return {
            "sources.scan_s": pre["scan"],
            "operators.cadence.iat_self_s": pre["iat"],
            "plans.report.self_s": _med([t["wall"] for t in traced]) - _med(self.spans.durations("prefix.iat")),
            "plans.report.exchanges": _med([t["sql"].count("Exchange") for t in traced]),
            "plans.report.spark_jobs": _med([t["sql"].jobs for t in traced]),
            "plans.report.shuffle_write_bytes_per_doc": _med(
                [t["sql"].get("Exchange", "shuffle bytes written") for t in traced]) / self.base,
        }


WORKLOADS = {"resume": Resume, "report": Report}


def kernel_us_per_doc(input_dir: str) -> dict:
    """Single-thread direct calls of the enrich kernel over the
    workload's own rows, shaped as annotate ships them (text only where
    html is null): 4096-row batches (vector path) and 8-row batches
    (the scalar fallback below 16 rows)."""
    from data_quality_assessment_spark.functions.kernel import enrich_batch_arrow

    tbl = pq.read_table(input_dir, columns=["html", "text"])
    html = tbl["html"].combine_chunks()
    text = pc.if_else(pc.is_null(html), tbl["text"], pa.scalar(None, pa.string())).combine_chunks()
    enrich_batch_arrow(html.slice(0, 64), text.slice(0, 64))  # model + constants

    def per_doc(rows: int, batches: int) -> float:
        times = []
        for b in range(batches):
            off = (b * rows) % (len(html) - rows)
            t = time.perf_counter()
            enrich_batch_arrow(html.slice(off, rows), text.slice(off, rows))
            times.append((time.perf_counter() - t) / rows)
        return statistics.median(times) * 1e6

    return {
        "functions.kernel.vector_us_per_doc": per_doc(4096, 3),
        "functions.kernel.scalar_us_per_doc": per_doc(8, 96),
    }


def sql_layers(wl: Workload, traced: list[dict]) -> dict:
    """Layer metrics Spark counts itself, medians over the traced ops."""
    def m(f):
        return _med([f(t["sql"]) for t in traced])

    aep = "ArrowEvalPython"
    return {
        "sources.read_bytes_per_doc": m(lambda s: s.get("Scan parquet", "size of files read")) / wl.base,
        "functions.udfs.python_boot_s": m(lambda s: s.get(aep, "time to start Python workers")),
        "functions.udfs.python_init_s": m(lambda s: s.get(aep, "time to initialize Python workers")),
        "functions.udfs.python_run_s": m(lambda s: s.get(aep, "time to run Python workers")),
        "functions.udfs.bytes_to_python_per_doc": m(lambda s: s.get(aep, "data sent to Python workers")) / wl.base,
        "functions.udfs.bytes_from_python_per_doc": m(lambda s: s.get(aep, "data returned from Python workers")) / wl.base,
        "plans.pipeline.python_nodes": m(lambda s: s.count(*PYTHON_NODES)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--meta", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.meta) as f:
        meta = json.load(f)
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"perfbench-{a.workload}",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": os.path.join(a.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(a.tmp, "spark-warehouse"),
            # the session's GC choice, plus: JVM temp files in the run's
            # directory and no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:+PerfDisableSharedMem "
            "-Djava.io.tmpdir=" + os.path.join(a.tmp, "java"),
            "spark.ui.enabled": "true" if a.trace else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    ship_package(spark)
    start_s = time.time() - a.t0
    spans = Spans()
    wl = WORKLOADS[a.workload](spark, meta, a.tmp, spans)
    rss = PeakRss()
    jit = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def run(i, traced: bool) -> dict:
        wl.prepare(i)
        tag = f"op-{i}"
        sc.setJobGroup(tag, tag)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        rss.start()
        jit0 = jit.getTotalCompilationTime()
        cpu0, err = tree_usage()[0], None
        t = time.perf_counter()
        timer.start()
        try:
            with spans.span("op", op=i, traced=traced):
                wl.op(i, traced)
        except Exception as e:  # noqa: BLE001 — a failed op is a sample
            err = f"{type(e).__name__}: {e}"[:500]
        wall = time.perf_counter() - t
        timer.cancel()
        cpu = tree_usage()[0] - cpu0
        jit_s = (jit.getTotalCompilationTime() - jit0) / 1000
        peak = rss.stop()
        rec = {"i": i, "traced": traced, "wall": wall, "cpu": cpu, "jit": jit_s, "peak_rss": peak}
        if err is None:
            try:
                err = wl.check(i)
                rec["out_bytes"] = wl.out_bytes(i)
                if traced:
                    rec.update(wl.traced_record(i))
            except Exception as e:  # noqa: BLE001 — a failed check fails the op
                err = f"check: {type(e).__name__}: {e}"[:500]
        rec["error"] = err
        if traced:
            rec["sql"] = SqlMetrics(spark, tag)
        wl.cleanup(i)
        return rec

    wl.setup()
    # warm-up ops: the timed op's plan on the timed input, until the
    # JIT has compiled the hot paths (op walls fall ~40% over the first
    # few ops of a session); checked like every op, left out of the
    # medians
    ops = [dict(run(f"warm{k}", False), warm=True) for k in range(wl.warm_ops)]
    setup_s = time.time() - a.t0
    result = {
        "start_s": start_s, "setup_s": setup_s, "base": wl.base, "nproc": nproc,
        "versions": {"spark": spark.version, "java": sc._jvm.System.getProperty("java.version"),
                     "python": sys.version.split()[0]},
    }
    if a.trace and wl.runs_kernel:
        result["kernel"] = kernel_us_per_doc(wl.input)

    t_start = time.perf_counter()
    i = 0
    try:
        if not a.trace:
            while len(ops) <= wl.warm_ops or time.perf_counter() - t_start < a.seconds:
                ops.append(run(i, False))
                i += 1
        else:
            rounds = 0
            while rounds < MIN_ROUNDS_TRACED or time.perf_counter() - t_start < a.seconds:
                for name, fn in wl.prefixes():
                    tag = f"prefix-{name}-{rounds}"
                    sc.setJobGroup(tag, tag)
                    with spans.span(f"prefix.{name}"):
                        fn()
                ops.append(run(i, True))
                ops.append(run(i + 1, False))
                i += 2
                rounds += 1
    finally:
        rss.close()
        sc.setJobGroup("end", "end")

    result["loop_end_s"] = time.time() - a.t0
    result["ops"] = [{k: v for k, v in o.items() if k != "sql"} for o in ops]
    if a.trace:
        traced = [o for o in ops if o["traced"] and o["error"] is None]
        untraced = [o for o in ops if not o["traced"] and not o.get("warm") and o["error"] is None]
        uw = _med([o["wall"] for o in untraced]) or float("nan")
        layers = {
            "session.start_s": start_s,
            "session.first_op_s": ops[0]["wall"],
            "session.jit_compile_s": _med([o["jit"] for o in ops if not o.get("warm")]),
        }
        layers.update(result.get("kernel", {}))
        if traced:
            layers.update(sql_layers(wl, traced))
            layers.update(wl.layers(traced, uw))
            tw = _med([o["wall"] for o in traced])
            layers["trace.overhead"] = (tw - uw) / uw
        result["layers"] = layers
        spans.dump(os.path.join(a.tmp, "spans.json"))
    with open(a.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    # end the JVM before this process exits, so no part of the run outlives it
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    main()
