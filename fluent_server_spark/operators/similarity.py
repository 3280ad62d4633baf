"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — exact, O(Q*N), expressed entirely in
Catalyst array expressions (zip_with product + aggregate sum in double),
so the whole kernel is JVM-side codegen, no Python in the loop.

Scale path: random-hyperplane LSH bucketing — embeddings are signed
against H fixed hyperplanes into an H-bit bucket; neighbor search probes
only the query's bucket (optionally multi-probe with hamming-1 buckets).
The hyperplanes are generated deterministically from a seed and ride
the plan inside the bucketing kernel, so bucketing is a narrow projection
and search is an equi-join on bucket — no cross join at any scale.

An IVF variant would replace the hyperplanes with k-means centroids; the
join/plumbing here is identical, so LSH is the shipped representative.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Exact double-precision dot product of two array columns (JVM-side)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: crossJoin + window. The correctness baseline;
    cost O(Q*N) — fine for small Q (queries broadcast), not for Q~N.

    Norms are per-VECTOR quantities, precomputed on each side before the
    join so the per-pair kernel is ONE dot product instead of three
    array folds (the r2 lesson from cosine_neardup_lsh, applied here in
    r3: at Q=8 this cuts the O(Q*N) inner loop's array traversals 3x;
    same arithmetic — dot/(|q|*|c|) — so oracle values are bit-identical)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup)."""
    a = vectors.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = vectors.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    return (
        pairs.withColumn("cos", cosine(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", F.round("cos", 6).alias("cos"))
    )


# --------------------------------------------------------------- LSH / ANN


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes (Box-Muller over a
    multiplicative generator) — plain literals, same on every executor."""
    planes = []
    state = seed * 6364136223846793005 + 1442695040888963407
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            u1 = ((state >> 11) % 1_000_000 + 1) / 1_000_001
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            u2 = ((state >> 11) % 1_000_000) / 1_000_000
            v.append(
                math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
            )
        planes.append(v)
    return planes


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """H-bit random-hyperplane signature as the ANN bucket (narrow op),
    computed by the exact-sequential numpy kernel lsh_buckets_arrow. It
    replaced a literal-plane Catalyst expression whose interpreted fold
    dominated the bucketing stage."""
    bkts = lsh_buckets_arrow(dim, n_planes, 1, seed)
    return df.withColumn(out, F.element_at(bkts(F.col(vec_col)), 1))


def lsh_buckets_arrow(
    dim: int, n_planes: int, n_tables: int, seed: int
):
    """Arrow-vectorized multi-table hyperplane bucketing (r6): all
    n_tables H-bit buckets per vector in one numpy pass. Each per-plane
    dot uses the SEQUENTIAL per-dimension association of the Catalyst
    `dot` fold (acc = acc + v_k*p_k in index order, vectorized across
    rows), so the sign tests — and therefore the buckets — are
    BIT-IDENTICAL to the DuckDB oracles' replay (queries/vectors.py;
    also pinned against a numpy reference in tests/test_similarity.py).
    Motivation (measured, sf1.0): the broadcast-planes join +
    interpreted fold + groupBy(id, tbl) bucket assembly it replaced cost
    ~1.5 s and one exchange; this is a single narrow ArrowEvalPython
    node."""
    planes = np.array(
        [
            _hyperplanes(dim, n_planes, seed + 1000 * t)
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (n_tables, n_planes, dim)

    @F.pandas_udf("array<int>")
    def bkts(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="object")
        V = np.array(emb.to_list(), dtype=np.float64)
        out = np.zeros((len(V), planes.shape[0]), dtype=np.int32)
        for t in range(planes.shape[0]):
            for bit in range(planes.shape[1]):
                p = planes[t, bit]
                acc = np.zeros(len(V))
                for kk in range(V.shape[1]):
                    acc = acc + V[:, kk] * p[kk]
                out[:, t] += ((acc > 0).astype(np.int32)) << bit
        return pd.Series(list(out), index=emb.index)

    return bkts


def _gram_pairs_fn(threshold: float, margin: float = 1e-6):
    """applyInPandas kernel: all within-bucket pairs with cosine >=
    threshold, computed as ONE BLAS gram matrix per bucket instead of
    materializing candidate pair rows (guide §8: decide with small
    rows — here, decide with a matrix product — and never ship
    per-pair vector copies).

    Exactness contract: the gram matrix (numpy/BLAS) re-associates the
    dot-product sum, so it is only a SCREEN at `threshold - margin`;
    every screened-in pair is then re-scored with the SEQUENTIAL
    per-dimension fold (acc = ((0 + p_1) + p_2) + ... — the exact
    association Catalyst's `dot` uses) and the final filter/values use
    only those bit-identical cosines. For 64-dim unit-scale vectors the
    two summation orders differ by < 1e-12, so margin=1e-6 cannot lose
    a qualifying pair; survivors are few (the threshold is the point),
    so the exact re-score is O(|output|), not O(pairs)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"a_id": pd.Series([], dtype="int64"),
         "b_id": pd.Series([], dtype="int64"),
         "cos": pd.Series([], dtype="float64")}
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["_gid"].to_numpy(dtype=np.int64)
        V = np.array(pdf["_gvec"].to_list(), dtype=np.float64)
        # exact norms: sequential fold, same association as l2_norm()
        acc = np.zeros(m)
        for k in range(V.shape[1]):
            acc = acc + V[:, k] * V[:, k]
        nrm = np.sqrt(acc)
        U = V / nrm[:, None]
        thr = threshold - margin
        cand_a: list[np.ndarray] = []
        cand_b: list[np.ndarray] = []
        blk = max(1, min(m, 8 * 1024 * 1024 // max(m, 1)))
        for s in range(0, m, blk):
            G = U[s : s + blk] @ U.T  # (b, m) BLAS screen
            bi, bj = np.nonzero(G >= thr)
            if len(bi) == 0:
                continue
            gi = bi + s
            keep = ids[gi] < ids[bj]  # orient + drop self/mirror
            cand_a.append(gi[keep])
            cand_b.append(bj[keep])
        if not cand_a:
            return empty
        ia = np.concatenate(cand_a)
        ib = np.concatenate(cand_b)
        # exact re-score: sequential fold over dims, vectorized over pairs
        A, B = V[ia], V[ib]
        d = np.zeros(len(ia))
        for k in range(V.shape[1]):
            d = d + A[:, k] * B[:, k]
        cos = d / (nrm[ia] * nrm[ib])
        keep = cos >= threshold
        return pd.DataFrame(
            {"a_id": ids[ia[keep]], "b_id": ids[ib[keep]], "cos": cos[keep]}
        )

    return fn


def cosine_neardup_lsh(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs at scale: multi-table hyperplane LSH candidates,
    then EXACT cosine verification — precision is exact, recall is the
    only approximation (for cos>=0.9 pairs, P(same bucket per table) =
    (1 - theta/pi)^H ~ 0.43 at H=8, so 6 tables give ~97% recall; tested
    against the cross-join baseline). No cross join at any scale.

    Candidate PAIRS are never materialized (r6): vectors group by
    (table, bucket) and each bucket's pairwise cosines come from ONE
    BLAS gram matrix (`_gram_pairs_fn`), with every screened-in pair
    re-scored by the sequential fold so the emitted values are
    bit-identical to the Catalyst `dot` (pinned against the crossJoin
    baseline in tests/test_similarity.py and by the DuckDB oracle of
    embedding_neardup_lsh). The r5 plan joined bucket tables into a
    candidate-pair relation — O(sum(bucket^2)) ROWS through a distinct
    + two vector join-backs + a per-pair fold; at sf1.0 that is ~104M
    pair-slots and measured 183 s end to end — while this ships each
    vector once per table (8 rows of 64 doubles) and does the 13 GFLOP
    of pair math inside BLAS (measured ~3 s at sf1.0). Pair dedup
    across tables happens AFTER the threshold filter, on the tiny
    survivor set."""
    # buckets for all tables in one narrow Arrow pass (see
    # lsh_buckets_arrow), exploded to (tbl, bkt) rows that CARRY the
    # vector: no join, one exchange (the applyInPandas grouping) in the
    # whole plan
    bkts = lsh_buckets_arrow(dim, n_planes, n_tables, seed)
    grouped = (
        vectors.select(
            F.col(id_col).alias("_gid"),
            F.col(vec_col).alias("_gvec"),
            bkts(F.col(vec_col)).alias("_bkts"),
        )
        .select(
            "_gid",
            "_gvec",
            F.explode(
                F.transform(
                    F.col("_bkts"),
                    lambda b, t: F.struct(t.alias("tbl"), b.alias("bkt")),
                )
            ).alias("_tb"),
        )
        .select("_tb.tbl", "_tb.bkt", "_gid", "_gvec")
    )
    # groupBy directly: a balanced-key repartition was measured here
    # and REGRESSED slightly (the 128 buckets spread acceptably
    # under the plain grouping exchange; adding a repartition only
    # added an exchange)
    pairs = grouped.groupBy("tbl", "bkt").applyInPandas(
        _gram_pairs_fn(threshold), "a_id long, b_id long, cos double"
    )
    # the same pair surviving in several tables carries IDENTICAL
    # (deterministic) cosine bits — distinct on the survivor set is
    # the cross-table dedup, paid on |output| rows, not candidates
    return pairs.distinct().select(
        "a_id", "b_id", F.round("cos", 6).alias("cos")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates.

    The equi-join on bucket replaces the cross join: expected candidate
    count N/2^H per query. Recall is tested against brute_force_topk.

    `probes` > 1 enables MULTI-PROBE (Lv et al. VLDB'07): each query
    additionally probes the hamming-1 buckets reached by flipping its
    LEAST-CONFIDENT plane signs — the bits whose |dot(v, plane)| margin
    is smallest, i.e. where a true neighbor most plausibly landed on the
    other side. Recall rises toward brute force WITHOUT more tables or
    fewer planes: candidate cost scales linearly in `probes` (each
    corpus vector lives in exactly one bucket, so probe buckets are
    disjoint — no candidate dedup needed), and only the tiny QUERY side
    fans out; the corpus-side plan is unchanged and stays narrow."""
    planes = _hyperplanes(dim, n_planes, seed)
    margins = F.array(
        *[
            dot(F.col(vec_col), F.array(*[F.lit(x) for x in p]))
            for p in planes
        ]
    )
    qb = with_lsh_bucket(queries, dim, n_planes, seed, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
        "bucket",
        margins.alias("_margins"),
    )
    if probes > 1:
        # bits ordered by |margin| asc; probe j flips the j-th least
        # confident bit (probe 0 = the query's own bucket)
        order = F.array_sort(
            F.transform(
                F.col("_margins"),
                lambda m, i: F.struct(F.abs(m).alias("a"), i.alias("bit")),
            )
        )
        pow2 = F.array(*[F.lit(1 << b) for b in range(n_planes)])
        variants = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(
                    F.element_at(pow2, F.element_at(order, j + 1)["bit"] + 1)
                )
                for j in range(min(probes - 1, n_planes))
            ],
        )
        qb = qb.withColumn("bucket", F.explode(variants))
    qb = qb.drop("_margins")
    cb = with_lsh_bucket(corpus, dim, n_planes, seed, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
        "bucket",
    )
    scored = (
        qb.join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", F.round("cos", 6).alias("cos"))
    )
