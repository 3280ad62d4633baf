"""Similarity search vs a numpy oracle + LSH recall vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fluent_server_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    cosine_neardup_pairs,
    lsh_topk,
    with_lsh_bucket,
)

DIM = 16
N = 120  # vec_df/vecs fixtures (6 clusters) live in conftest.py


def _np_topk(vecs, qids, k):
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    out = {}
    for q in qids:
        order = [
            i for i in np.lexsort((np.arange(N), -sims[q])) if i != q
        ][:k]
        out[q] = order
    return out


def test_bruteforce_matches_numpy(spark, vec_df, vecs):
    qids = list(range(5))
    want = _np_topk(vecs, qids, 5)
    got = brute_force_topk(
        vec_df.filter(F.col("vec_id") < 5), vec_df, k=5
    ).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rk)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert {q: v for q, v in by_q.items()} == {q: list(map(int, v)) for q, v in want.items()}


def test_cosine_values_match_numpy(spark, vec_df, vecs):
    row = (
        vec_df.alias("a")
        .crossJoin(vec_df.alias("b"))
        .filter((F.col("a.vec_id") == 0) & (F.col("b.vec_id") == 1))
        .select(cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"))
        .first()
    )
    want = float(
        vecs[0] @ vecs[1] / (np.linalg.norm(vecs[0]) * np.linalg.norm(vecs[1]))
    )
    assert abs(row.cos - want) < 1e-12


def test_neardup_pairs_symmetric_threshold(spark, vec_df, vecs):
    got = {(r.a_id, r.b_id) for r in cosine_neardup_pairs(vec_df, 0.9).collect()}
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    want = {
        (a, b)
        for a in range(N)
        for b in range(a + 1, N)
        if sims[a, b] >= 0.9
    }
    assert got == want


def test_lsh_recall_on_clustered_data(spark, vec_df, vecs):
    """Bucketed ANN must recover most true neighbors on clustered data
    (same-cluster points nearly always share a hyperplane signature)."""
    k = 5
    queries = vec_df.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, vec_df, k=k).collect()
    approx = lsh_topk(queries, vec_df, dim=DIM, k=k, n_planes=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_neardup_lsh_recall_and_exact_precision(spark, vec_df, vecs):
    from fluent_server_spark.operators.similarity import cosine_neardup_lsh

    exact = {(r.a_id, r.b_id): r.cos for r in cosine_neardup_pairs(vec_df, 0.9).collect()}
    approx = {(r.a_id, r.b_id): r.cos for r in cosine_neardup_lsh(vec_df, dim=DIM, threshold=0.9).collect()}
    assert set(approx) <= set(exact)  # exact verify => perfect precision
    recall = len(approx) / max(len(exact), 1)
    assert recall >= 0.9, f"LSH near-dup recall too low: {recall}"
    for k, v in approx.items():
        assert v == exact[k]  # verified cosine identical to baseline


def test_lsh_bucket_is_narrow_plan(spark, vec_df):
    """Bucketing must not introduce a shuffle — it's a projection."""
    bucketed = with_lsh_bucket(vec_df, dim=DIM, n_planes=4)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_multiprobe_lsh_raises_recall_monotonically(spark, vec_df, vecs):
    """Multi-probe (flip least-confident bits) must (a) leave probes=1
    results IDENTICAL to the original single-bucket path, (b) never lose
    candidates as probes grow, and (c) reach brute-force at full probe
    width on this fixture."""
    from fluent_server_spark.operators.similarity import lsh_topk

    q = vec_df.filter(vec_df.vec_id < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, vec_df, k=3).collect()
    }

    def run(probes):
        return {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(
                q, vec_df, dim=DIM, k=3, n_planes=4, probes=probes
            ).collect()
        }

    base = run(1)
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(q, vec_df, dim=DIM, k=3, n_planes=4).collect()
    }
    assert base == single  # probes=1 is bit-compatible with the default
    last_recall = -1.0
    for p in (1, 2, 3, 5):
        rec = len(run(p) & exact) / len(exact)
        assert rec >= last_recall  # more probes never lose recall
        last_recall = rec
    # probing all hamming-1 buckets of a 4-bit signature on clustered
    # data recovers (nearly) everything the cross join finds
    assert last_recall >= 0.9


def test_band_table_matches_literal_buckets(spark, vec_df, vecs):
    """The multi-table bucket kernel (lsh_buckets_arrow, 3 tables) must
    equal buckets computed from the literal _hyperplanes with a plain
    sequential dot (acc = acc + v_k * p_k in index order, the
    association every oracle replays); with_lsh_bucket is table 0 of
    the same kernel."""
    from fluent_server_spark.operators.similarity import (
        _hyperplanes,
        lsh_buckets_arrow,
    )

    n_planes, n_tables, seed = 4, 3, 42
    want = {}
    for i, v in enumerate(vecs):
        row = []
        for t in range(n_tables):
            bkt = 0
            for bit, p in enumerate(_hyperplanes(DIM, n_planes, seed + 1000 * t)):
                acc = 0.0
                for x, y in zip(v.tolist(), p):
                    acc = acc + x * y
                bkt += int(acc > 0) << bit
            row.append(bkt)
        want[i] = row
    bkts = lsh_buckets_arrow(DIM, n_planes, n_tables, seed)
    got = {
        r.vec_id: list(r.b)
        for r in vec_df.select("vec_id", bkts(F.col("embedding")).alias("b")).collect()
    }
    assert got == want
    assert len({tuple(b) for b in want.values()}) > 1  # planes split the data
    single = {
        r.vec_id: r.bucket
        for r in with_lsh_bucket(vec_df, dim=DIM, n_planes=n_planes, seed=seed).collect()
    }
    assert single == {i: b[0] for i, b in want.items()}
