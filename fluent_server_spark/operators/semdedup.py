"""SemDeDup — semantic deduplication via k-means cells + within-cell
cosine pruning (Abbas et al. 2023, arXiv:2303.09540, public).

Exact near-duplicate text dedup (minhash/simhash/substring families in
operators/dedup.py) misses *semantic* duplicates: re-phrasings, format
shifts, translations — documents whose EMBEDDINGS are close while their
token sets are not. SemDeDup's published recipe:

1. cluster the embedding space with k-means (k chosen so clusters stay
   small — the paper uses ~11k clusters for 100M docs);
2. within each cluster, compute pairwise cosine similarity — the
   clusters BOUND the quadratic: cost is sum(cell_size^2), never
   corpus^2;
3. among any group of mutually-similar items (cos >= eps), keep exactly
   one — the paper keeps the item with the LOWEST similarity to the
   cluster centroid (i.e. the "edge" example carries the most signal).

Spark shape (this module):

* cell assignment is a PURE NARROW pass — one Arrow kernel computes
  cell, distance and unit vector against the centroids it closes over
  (same exact fold as operators/ivf.py::assign_cells); no join, no
  shuffle, no window. At 10^12 rows this is a map-only pass.
* the canonical keep-order inside a cell is (distance-to-centroid DESC,
  id ASC) — the paper's farthest-from-centroid preference, made total
  and deterministic by the id tie-break. Rank is one window over cell.
* the drop decision is EXISTS-EARLIER semantics: a document is a
  semantic duplicate iff some *earlier-ranked* document in its cell has
  cosine >= eps with it. This is the parallel-friendly fixed rule the
  repo's minhash canonical-min marking already uses; like that marking
  it can drop slightly more than the sequential greedy sweep (a kept
  doc's duplicate may itself shadow a third doc), which for corpus
  HYGIENE is the safe direction. The rule is a pure function of the
  input, so the DuckDB oracle replays it exactly.
* pairwise compute is ONE BLAS gram matrix per cell inside an
  applyInPandas kernel — never a cross join, never pair rows. One
  exchange on cell feeds both the rank window and the kernel grouping
  (same key), so Catalyst reuses the partitioning.

100 TB notes: k scales with the corpus (cells stay ~constant-sized, so
sum(cell^2) stays ~linear in N); a pathologically hot cell (embedding
collapse / all-zero vectors) is the skew risk — AQE skew-join splits
the probe side, and `max_cell_pairs` below hard-bounds the work with an
explicit error rather than a silent hang. Centroids come from
operators/ivf.py::train_centroids (bounded-sample Lloyd's) in real use;
the driver query uses deterministic seed rows so the oracle can replay
the identical index (same recipe as ann_topk_ivf).

Reference analogue: none (athoune/fluent-server routes events; it has
no corpus semantics) — mandated training-data operator family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluent_server_spark.operators.ivf import _exact_d2_matrix, _sq_dist
from fluent_server_spark.operators.similarity import dot, l2_norm


def _assign_unit_arrow(centroids: list[list[float]]):
    """Arrow-vectorized (cell, centroid_d2, unit vector) in ONE pass —
    the numpy twin of with_cell_and_dist + l2_norm + the normalize
    transform. Every value is BIT-IDENTICAL to the Catalyst expressions:
    squared distances use the exact sequential fold (ivf._exact_d2_matrix),
    argmin takes the first minimum like array_position, the norm is the
    sequential sum-of-squares fold, and the per-element division x/_n is
    a single IEEE op either way. Motivation (r6, measured): the literal
    Catalyst form cost ~9 s alone at sf1.0 — the k x dim fold runs
    interpreted per row, and CollapseProject inlines the norm aggregate
    into the normalize lambda where it re-evaluates per ELEMENT."""
    C = np.array(centroids, dtype=np.float64)

    @F.pandas_udf("struct<cell:int, d2:double, v:array<double>>")
    def assign(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"cell": [], "d2": [], "v": []})
        V = np.array(emb.to_list(), dtype=np.float64)
        D2 = _exact_d2_matrix(V, C)
        cell = D2.argmin(axis=1)
        d2 = D2[np.arange(len(V)), cell]
        acc = np.zeros(len(V))
        for kk in range(V.shape[1]):
            acc = acc + V[:, kk] * V[:, kk]
        U = V / np.sqrt(acc)[:, None]
        return pd.DataFrame(
            {
                "cell": cell.astype(np.int32),
                "d2": d2,
                "v": list(U),
            },
            index=emb.index,
        )

    return assign


def with_cell_and_dist(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell AND the squared distance to it, both as one
    narrow literal expression (ties break to the lowest cell)."""
    cents = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    d2s = F.transform(
        cents, lambda c: _sq_dist(F.col(vec_col).cast("array<double>"), c)
    )
    return (
        vectors.withColumn("_d2s", d2s)
        .withColumn("cell", (F.array_position("_d2s", F.array_min("_d2s")) - 1).cast("int"))
        .withColumn("centroid_d2", F.array_min("_d2s"))
        .drop("_d2s")
    )


def _cell_flags_fn(eps: float, id_col: str, margin: float = 1e-9):
    """applyInPandas kernel: within one cell, flag every vector that has
    an earlier-ranked (farther-from-centroid) neighbor with unit-dot >=
    eps — ONE BLAS gram matrix per cell instead of a rank-filtered
    self-join over O(cell^2) pair rows (guide §2.3/§8: the decision
    needs only dot >= eps per pair; compute it as a matrix product, ship
    nothing per pair).

    Exactness contract: the BLAS product re-associates the 64-term dot
    sum, so the gram value is only a SCREEN; any entry within `margin`
    of eps is re-scored with the sequential per-dimension fold (the
    exact association Catalyst's `dot` uses over the SAME `_v` doubles
    that crossed the Arrow boundary) and the eps comparison uses that
    bit-identical value. The two summation orders differ by < 1e-12 for
    unit vectors, so entries outside the margin band cannot flip."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cell_rank", kind="mergesort").reset_index(drop=True)
        m = len(pdf)
        U = np.array(pdf["_v"].to_list(), dtype=np.float64)
        dropped = np.zeros(m, dtype=bool)
        if m > 1:
            col = np.arange(m)
            blk = max(1, min(m, 8 * 1024 * 1024 // max(m, 1)))
            for s in range(0, m, blk):
                G = U[s : s + blk] @ U.T  # rows = earlier ranks s..s+b
                upper = col[None, :] > (s + np.arange(G.shape[0]))[:, None]
                near = np.abs(G - eps) < margin
                for bi, bj in zip(*np.nonzero(near & upper)):
                    # exact sequential fold for the rare margin entries
                    acc = 0.0
                    a, b = U[s + bi], U[bj]
                    for k in range(len(a)):
                        acc = acc + a[k] * b[k]
                    G[bi, bj] = eps if acc >= eps else eps - 2 * margin
                dropped |= ((G >= eps) & upper).any(axis=0)
        out = pdf[[id_col, "cell", "cell_rank"]].copy()
        out["is_semdup"] = dropped
        return out

    return fn


def semdedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_pairs: int | None = None,
) -> DataFrame:
    """Flag semantic duplicates. Returns one row per input vector:
    (id_col, cell, cell_rank, is_semdup) where is_semdup means "an
    earlier-ranked vector in the same cell is within eps cosine".

    Rank 1 per cell is never a duplicate; callers filter ~is_semdup for
    the kept corpus or aggregate for an audit table.

    Each cell's pairwise dots are ONE BLAS gram matrix inside an
    applyInPandas kernel keyed on cell (r6) — the flag falls out per
    vector with no pair rows, no distinct, no join-back (measured 69 s
    -> ~4 s at sf1.0, registry-query shape, against the r5 self-join
    plan, which materialized ~25M pair rows each paying a 64-dim
    Catalyst fold).
    Margin entries are re-scored with the sequential fold, so the eps
    decision matches the DuckDB oracle of semdedup_drop (see
    _cell_flags_fn; pinned against a Python reference in
    tests/test_semdedup.py).
    """
    # normalize ONCE per row (N norms), so each pair costs a single dot
    # instead of dot + two norms. cos(a,b) == dot(a/|a|, b/|b|) up to
    # rounding; the DuckDB oracle replays the identical
    # normalize-then-dot float ops so the eps comparison stays bit-equal.
    # One Arrow pass yields cell + distance + unit vector (see
    # _assign_unit_arrow).
    s = _assign_unit_arrow(centroids)(F.col(vec_col)).alias("_s")
    assigned = vectors.select(F.col(id_col), s).select(
        id_col,
        F.col("_s.cell").alias("cell"),
        F.col("_s.d2").alias("centroid_d2"),
        F.col("_s.v").alias("_v"),
    )
    w = Window.partitionBy("cell").orderBy(F.desc("centroid_d2"), F.col(id_col))
    ranked = assigned.withColumn("cell_rank", F.row_number().over(w))

    if max_cell_pairs is not None:
        # explicit guard, not a silent cap: a degenerate cell means the
        # clustering (k, or the embeddings) needs fixing, not trimming
        sizes = ranked.groupBy("cell").count()
        worst = sizes.agg(F.max((F.col("count") * (F.col("count") - 1)) / 2)).first()[0]
        if worst is not None and worst > max_cell_pairs:
            raise ValueError(
                f"semdedup cell generates {int(worst)} pairs > "
                f"max_cell_pairs={max_cell_pairs}; raise k or inspect the "
                "embedding distribution (collapsed/zero vectors?)"
            )

    # groupBy(cell) directly: the rank window already exchanged on
    # cell, so the kernel grouping reuses that partitioning (a
    # balanced-key repartition was measured here and REGRESSED —
    # the extra exchange cost more than the spread bought at k=8)
    return ranked.select(id_col, "cell", "cell_rank", "_v").groupBy(
        "cell"
    ).applyInPandas(
        _cell_flags_fn(float(eps), id_col),
        f"{id_col} long, cell int, cell_rank int, is_semdup boolean",
    )


def semdedup_keep(
    vectors: DataFrame,
    centroids: list[list[float]],
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The kept (semantically deduplicated) corpus — input rows minus
    flagged duplicates. One extra join on the id key."""
    flags = semdedup(vectors, centroids, eps, id_col, vec_col)
    return vectors.join(
        flags.filter(~F.col("is_semdup")).select(id_col), id_col, "inner"
    )


def semdedup_against(
    new_vectors: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup — flag NEW vectors that semantically
    duplicate the EXISTING corpus (the dedup-on-ingest shape the exact
    families already have: minhash_lsh_pairs_against, dedup_stream).

    The corpus always wins: a new vector is flagged iff some corpus
    vector in its cell is within eps cosine. The join is new-batch x
    corpus restricted to matching cells — NEVER corpus x corpus, so an
    epoch's cost is |batch| x avg_cell_share of the corpus. At rest the
    corpus side is the cell-partitioned embedding table (cell is its
    partition column — same layout the IVF index uses), so the probe
    prunes to the batch's cells before any row moves.

    Within-batch duplicates are NOT decided here (two new near-twins
    both clean vs the corpus both survive); run :func:`semdedup` on the
    batch for that — the composition mirrors the minhash streaming
    dedup's batch-then-corpus two-step.

    Returns (id_col, cell, is_semdup) per NEW vector.
    """
    def _unit(df, cols):
        return (
            with_cell_and_dist(df, centroids, vec_col)
            .withColumn("_n", l2_norm(F.col(vec_col).cast("array<double>")))
            .select(
                *cols,
                F.transform(
                    F.col(vec_col).cast("array<double>"), lambda x: x / F.col("_n")
                ).alias("_u"),
            )
        )

    new_assigned = _unit(new_vectors, [F.col(id_col), F.col("cell")])
    corp_assigned = _unit(corpus, [F.col("cell")]).withColumnRenamed("_u", "_cu")
    hit = (
        new_assigned.join(corp_assigned, "cell")
        .filter(dot(F.col("_u"), F.col("_cu")) >= F.lit(float(eps)))
        .select(id_col)
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return new_assigned.join(hit, id_col, "left").select(
        id_col, "cell", F.coalesce("_dup", F.lit(False)).alias("is_semdup")
    )
