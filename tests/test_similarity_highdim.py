"""Similarity kernel: cosine, LSH signatures, IVF cells and near-dup
pairs must be BIT-IDENTICAL to the plain-Python left-to-right folds in
tests/oracle.py at a small (16) and a high (256) dim, and the plan must
stay O(1) expression nodes at real embedding dims (768+) and at the
driver queries' IVF geometry."""

from __future__ import annotations

import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F
import pytest

from data_quality_assessment_spark.operators import similarity as sim
from tests.oracle import oracle_cosine, oracle_plane_dots

DIMS = (16, 256)


@pytest.fixture(scope="module")
def vecs(spark):
    """dim -> (rows, frame) of 48 float32-valued vectors."""
    out = {}
    for dim in DIMS:
        rng = np.random.RandomState(7)
        rows = [
            (i, [float(np.float32(x)) for x in rng.randn(dim)])
            for i in range(48)
        ]
        out[dim] = (
            rows,
            spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        )
    return out


def test_cosine_bit_identical(spark, vecs):
    for dim in DIMS:
        rows, df = vecs[dim]
        q = df.filter("vec_id = 0").select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        got = {
            r.vec_id: r.c
            for r in df.crossJoin(F.broadcast(q)).select(
                "vec_id",
                sim.cosine(F.col("embedding"), F.col("q_vec")).alias("c"),
            ).collect()
        }
        want = {i: oracle_cosine(v, rows[0][1]) for i, v in rows}
        assert got == want, dim  # exact float equality, not approx


def test_lsh_signature_bit_identical(spark, vecs):
    for dim in DIMS:
        rows, df = vecs[dim]
        planes = [sim.hyperplane_weights(j, dim) for j in range(16)]
        got = {
            r.vec_id: r.sig
            for r in sim.with_lsh_signature(
                df, "embedding", dim, 16, "sig"
            ).collect()
        }
        want = {
            i: sum(1 << j for j, d in enumerate(oracle_plane_dots(v, planes))
                   if d > 0)
            for i, v in rows
        }
        assert got == want, dim


def test_ivf_cell_bit_identical(spark, vecs):
    for dim in DIMS:
        rows, df = vecs[dim]
        cb = sim.ivf_codebook(8, dim)
        got = {
            r.vec_id: r.cell
            for r in sim.with_ivf_cell(df, "embedding", cb)
            .select("vec_id", "cell").collect()
        }
        want = {}
        for i, v in rows:
            dots = oracle_plane_dots(v, cb)
            want[i] = dots.index(max(dots))
        assert got == want, dim


def _oracle_ivf_topk_rows(rows, queries, cb, k, nprobe) -> int:
    """Row count of ivf_topk from the reference dots: each query reranks
    the other vectors in its nprobe best cells and keeps at most k."""
    cell = {}
    for i, v in rows:
        dots = oracle_plane_dots(v, cb)
        cell[i] = dots.index(max(dots))
    n = 0
    for qi, qv in queries:
        dots = oracle_plane_dots(qv, cb)
        probes = sorted(range(len(cb)), key=lambda c: (-dots[c], c))[:nprobe]
        n += min(k, sum(1 for i, c in cell.items() if c in probes and i != qi))
    return n


def _plan_cases(spark):
    """name -> (frame builder, ArrowEvalPython nodes expected, rows
    expected)."""
    rng = np.random.RandomState(11)

    def frame(dim):
        rows = [
            (i, [float(np.float32(x)) for x in rng.randn(dim)])
            for i in range(8)
        ]
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    (_, hd), (rows64, d64) = frame(1024), frame(64)
    q64 = d64.filter("vec_id < 2").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cb = sim.ivf_codebook(16, 64)
    return {
        "with_lsh_signature 1024 dims": (
            lambda: sim.with_lsh_signature(hd, "embedding", 1024, 16, "sig"),
            1, 8,
        ),
        "with_ivf_cell 64 dims x 16 centroids": (
            lambda: sim.with_ivf_cell(d64, "embedding", cb), 1, 8,
        ),
        # corpus cells, query probe dots, rerank cosine
        "ivf_topk 64 dims x 16 centroids": (
            lambda: sim.ivf_topk(
                d64, q64, dim=64, k=5, nprobe=8, codebook=cb
            ), 3,
            _oracle_ivf_topk_rows(rows64, rows64[:2], cb, k=5, nprobe=8),
        ),
    }


def test_highdim_plan_stays_small(spark):
    """Driver analysis must complete in seconds (not minutes) and the
    physical plan must hold the kernel's ArrowEvalPython nodes and no
    dim-expanded expression tree (sub-linear plan growth — the r2
    VERDICT's acceptance test for this path). A literal-expansion plan
    at dim 1024 x 16 planes would be ~1.5 MB of plan text; at 64 dims x
    16 centroids its generated code grew beyond janino's 64 KB method
    limit."""
    for name, (build, n_arrow, n_rows) in _plan_cases(spark).items():
        t0 = time.time()
        out = build()
        plan = out._jdf.queryExecution().executedPlan().toString()
        elapsed = time.time() - t0
        assert elapsed < 30, (name, elapsed)
        assert plan.count("ArrowEvalPython") == n_arrow, (name, plan)
        assert len(plan) < 20_000, (name, len(plan))
        assert out.count() == n_rows, name


def test_null_vectors_score_null(spark, vecs):
    """A null vector, a wrong-length one and one with a null component
    score NULL in every kernel instead of failing the batch: NULL
    cosines rank last, their IVF cell (-1) matches no probe, and their
    LSH signature has no bit set."""
    rows, df = vecs[16]
    bad = spark.createDataFrame(
        [(100, None), (101, [1.0] * 8), (102, [1.0] * 15 + [None])],
        "vec_id long, embedding array<float>",
    )
    mixed = df.unionByName(bad)
    q = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = sim.cosine_topk(mixed, q, k=100).collect()
    assert {r.vec_id: r.cos for r in top if r.vec_id >= 100} == {
        100: None, 101: None, 102: None,
    }
    assert all(r.rank > len(rows) - 1 for r in top if r.cos is None)
    want = {i: oracle_cosine(v, rows[0][1]) for i, v in rows if i != 0}
    assert {r.vec_id: r.cos for r in top if r.cos is not None} == want

    cb = sim.ivf_codebook(8, 16)
    cells = {
        r.vec_id: r.cell
        for r in sim.with_ivf_cell(mixed, "embedding", cb).collect()
    }
    assert [cells[i] for i in (100, 101, 102)] == [-1, -1, -1]
    assert all(cells[i] >= 0 for i, _ in rows)
    ivf = sim.ivf_topk(mixed, q, dim=16, k=100, codebook=cb, nprobe=8)
    assert {r.vec_id for r in ivf.collect()} == {i for i, _ in rows} - {0}

    sigs = {
        r.vec_id: r.sig
        for r in sim.with_lsh_signature(mixed, "embedding", 16, 16).collect()
    }
    assert [sigs[i] for i in (100, 101, 102)] == [0, 0, 0]


def test_lsh_topk_highdim_end_to_end(spark, vecs):
    """The composed operator (bucket join + rerank) runs through the
    kernel and returns well-formed ranks."""
    df = vecs[256][1]
    q = df.limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = sim.lsh_topk(df, q, 256, k=5, n_planes=8).collect()
    assert len(out) > 0
    for r in out:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.cos <= 1.0001


def _spark_round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the shortest decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_cosine_near_dup_pairs_highdim_bit_identical(spark, vecs):
    for dim in DIMS:
        rows, df = vecs[dim]
        blocked = df.withColumn("blk", F.col("vec_id") % 4)
        got = {
            (r.id_a, r.id_b): r.cos
            for r in sim.cosine_near_dup_pairs(
                blocked, "vec_id", "embedding", "blk", threshold=-1.0
            ).collect()
        }
        want = {
            (a, b): _spark_round6(oracle_cosine(va, vb))
            for a, va in rows for b, vb in rows
            if a < b and a % 4 == b % 4
        }
        assert got == want and len(want) > 0, dim
