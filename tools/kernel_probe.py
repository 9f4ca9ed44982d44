"""Kernel-level 8->32 scaling probe (no Spark).

Runs the EXACT per-doc enrich kernel (extract + tokenize + langid + ppl +
top-bigram + scrub — the same code path as ``udfs.enrich_udf``) over a
fixed synthetic doc batch in W worker processes, and reports aggregate
docs/sec plus per-worker CPU time at 8 and 32 workers.

Interpretation: the probe shows the scaling ceiling of the real
allocation-heavy kernel with no Spark in the way. If its 8->32
efficiency is as low as bench.py's, the CPU-work inflation there is
bound in the kernel itself (memory bandwidth, host scheduling), not
Spark overhead. On a host with fewer than 32 cores the 32-worker level
is oversubscribed and its efficiency says nothing about the kernel.

Usage: python tools/kernel_probe.py [seconds_per_level] [doc_count]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _make_docs(n: int) -> list[tuple[bytes | None, str | None]]:
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    pdf = gen_pages_fast(n, seed=7)
    return list(zip(pdf["html"], pdf["text"]))


def _work(q, docs, seconds: float) -> None:
    from data_quality_assessment_spark.functions.kernel import enrich_batch
    from data_quality_assessment_spark.functions.lm import get_model

    get_model()  # pay singleton init before the timed window
    htmls = [b for b, _ in docs]
    texts = [t for _, t in docs]
    t0 = time.time()
    c0 = time.process_time()
    n_done = 0
    while time.time() - t0 < seconds:
        enrich_batch(htmls, texts)
        n_done += len(docs)
    q.put((n_done, time.time() - t0, time.process_time() - c0))


def measure(workers: int, docs, seconds: float) -> tuple[float, float]:
    q: mp.Queue = mp.Queue()
    ps = [mp.Process(target=_work, args=(q, docs, seconds)) for _ in range(workers)]
    for p in ps:
        p.start()
    rows = [q.get() for _ in ps]
    for p in ps:
        p.join()
    total_docs = sum(r[0] for r in rows)
    wall = max(r[1] for r in rows)
    cpu = sum(r[2] for r in rows)
    return total_docs / wall, cpu / total_docs * 1000  # docs/s, cpu-ms/doc


def main() -> None:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 8.0
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    docs = _make_docs(n_docs)
    # interleave to sample the same host windows
    r8a, c8a = measure(8, docs, seconds)
    r32a, c32a = measure(32, docs, seconds)
    r8b, c8b = measure(8, docs, seconds)
    r32b, c32b = measure(32, docs, seconds)
    r8, c8 = max(r8a, r8b), min(c8a, c8b)
    r32, c32 = max(r32a, r32b), min(c32a, c32b)
    print(
        f"8w: {r8:,.0f} docs/s ({c8:.3f} cpu-ms/doc) | "
        f"32w: {r32:,.0f} docs/s ({c32:.3f} cpu-ms/doc) | "
        f"aggregate ratio {r32 / r8:.2f}x (ideal 4.0) | "
        f"kernel 8->32 efficiency {r32 / r8 / 4:.2f} | "
        f"cpu inflation 32/8: {c32 / c8:.2f}x"
    )


if __name__ == "__main__":
    main()
