"""IVF (inverted-file) approximate nearest neighbor — the k-means-bucket
counterpart to the hyperplane LSH in operators/similarity.py.

Shape (mirrors FAISS IVF-Flat, public knowledge):
1. TRAIN: k-means over a sample — Lloyd's iterations expressed as
   DataFrame ops. Centroids are tiny (k x dim); each iteration is one
   broadcast-join assignment + one groupBy mean. The full corpus is never
   shuffled by the training loop (it trains on a driver-bounded sample).
2. INDEX: assign every vector to its nearest centroid (one broadcast
   join, narrow) — `cell` is the inverted-list key; at rest this is the
   partition column of the vector table.
3. SEARCH: probe the `nprobe` nearest cells per query (broadcast the
   query set), score only vectors in probed cells via an equi-join on
   cell, exact cosine on the survivors, window top-k.

Recall/cost dial: nprobe=k is exact (degenerates to brute force);
nprobe=1 scans ~N/k of the corpus per query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fluent_server_spark.operators.similarity import cosine


def _sq_dist(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)


def train_centroids(
    vectors: DataFrame,
    k: int,
    dim: int,
    n_iter: int = 8,
    sample_rows: int = 10_000,
    seed: int = 13,
    vec_col: str = "embedding",
    total_rows: int | None = None,
) -> list[list[float]]:
    """Lloyd's k-means on a bounded sample; returns centroid literals.

    Sampling is deterministic and the sample is small enough to iterate
    cheaply; at 10^12 rows you train on ~10^5-10^6 sampled rows, which is
    the standard IVF recipe. Pass `total_rows` (usually known from table
    metadata) to fraction-sample uniformly across the corpus; without it
    the trainer takes a LIMIT — a pushed-down, early-terminating scan —
    rather than paying a full count() job just to derive a fraction."""
    src = vectors.select(vec_col)
    if total_rows is not None:
        frac = min(1.0, (2.0 * sample_rows) / max(total_rows, 1))
        src = src.sample(fraction=frac, seed=seed)
    sample = np.array(
        src.limit(sample_rows).toPandas()[vec_col].tolist(),
        dtype=np.float64,
    )
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)]
    for _ in range(n_iter):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(cent)):
            members = sample[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cent]


def _centroid_df(spark, centroids: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )


def _exact_d2_matrix(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(rows, k) squared distances with the SEQUENTIAL per-dimension
    association Catalyst's `_sq_dist` fold uses — acc = acc + d_k*d_k in
    index order, vectorized across rows — so every value is BIT-IDENTICAL
    to the literal-centroid expression (argmin ties therefore break
    identically too)."""
    m, k = len(V), len(C)
    D2 = np.empty((m, k))
    for c in range(k):
        acc = np.zeros(m)
        for kk in range(V.shape[1]):
            d = V[:, kk] - C[c, kk]
            acc = acc + d * d
        D2[:, c] = acc
    return D2


def assign_cells_arrow(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment (r6): the
    exact-sequential squared-distance fold of `_sq_dist` (see
    _exact_d2_matrix) with numpy doing the per-row work in batches, so
    cells match the DuckDB oracle of ann_topk_ivf. It replaced a literal
    Catalyst expression that measured ~9 s at sf1.0 for 20k x 8 x 64
    dims because the k*dim*3-op fold ran as an interpreted expression
    tree per row."""
    C = np.array(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def cellf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        V = np.array(emb.to_list(), dtype=np.float64)
        D2 = _exact_d2_matrix(V, C)
        return pd.Series(D2.argmin(axis=1).astype(np.int32), index=emb.index)

    return cellf


def assign_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment — narrow/map-only, no join, no
    shuffle, no window. Ties break to the lowest cell (first minimum),
    computed by the batched kernel assign_cells_arrow."""
    return vectors.withColumn(out, assign_cells_arrow(centroids)(F.col(vec_col)))


def _nearest_cells(
    queries: DataFrame,
    cent: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, q_vec, cell): the nprobe nearest cells per query.
    Query set and centroid table are both broadcast — the cross join is
    bounded at n_queries x k rows and never touches the corpus."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .withColumn("_d2", _sq_dist(F.col("q_vec"), F.col("centroid")))
    )
    wq = Window.partitionBy("query_id").orderBy("_d2", "cell")
    return (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )


def _score_probed(probes: DataFrame, indexed: DataFrame, k: int) -> DataFrame:
    """Exact cosine within probed cells (equi-join on cell), top-k per
    query. Shared by the inline and the index-backed search paths so
    they stay bit-identical by construction."""
    scored = (
        probes.join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe the nprobe nearest cells per query, exact cosine
    within probed cells, top-k per query."""
    spark = queries.sparkSession
    cent = _centroid_df(spark, centroids)

    indexed = assign_cells(corpus, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cell"
    )
    probes = _nearest_cells(queries, cent, nprobe, id_col, vec_col)
    return _score_probed(probes, indexed, k)


# --------------------------------------------- persisted IVF index

def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sq8: bool = False,
) -> None:
    """Persist the inverted-file layout — the artifact a served ANN
    deployment probes without ever rescanning the corpus (the vector
    counterpart of write_bm25_index / write_minhash_index):

    * `{path}/vectors` — (id, embedding) PARTITIONED BY `cell`: the
      inverted lists ARE the partition dirs, so a probe that touches
      `nprobe` cells reads only those directories (static partition
      pruning — asserted empirically in tests via inputFiles()).
    * `{path}/centroids` — the k x dim routing table (tiny).
    * `{path}/index.json` — k, dim, column names, validated at read
      time so an index built with different geometry can never
      silently join.

    Build is ONE narrow assignment pass over the corpus plus the
    partitioned write's shuffle on cell. Vectors whose dimension
    disagrees with the centroids are rejected loudly up front —
    assign_cells would otherwise give them a NULL-ish cell silently.

    `sq8=True` stores the inverted lists SCALAR-QUANTIZED
    (operators/quantize.py — byte-range codes per dimension; the
    on-disk shrink comes from Parquet's encoding of the 256-value
    domain, see quantize.py's header caveat): per-dim bounds are
    learned from this corpus, recorded in
    the manifest, and FROZEN for the index lifetime (appends encode
    with the stored bounds, clamping drift — same immutability
    contract as the centroids). Probes dequantize on read; results are
    approximate within the SQ8 reconstruction bound rather than
    bit-equal to the float inline path (recall pinned in tests).
    """
    import json
    import os

    spark = corpus.sparkSession
    dim = len(centroids[0])
    if any(len(c) != dim for c in centroids):
        raise ValueError("centroids are ragged: all must share one dimension")
    if not sq8:
        bad = corpus.filter(F.size(F.col(vec_col)) != dim).limit(1).count()
        if bad:
            raise ValueError(
                f"corpus contains vectors whose dimension != centroid dim {dim} "
                "— refusing to build an index that would silently mis-route them"
            )
    indexed = assign_cells(corpus, centroids, vec_col).select(id_col, vec_col, "cell")
    manifest = {
        "k": len(centroids),
        "dim": dim,
        "id_col": id_col,
        "vec_col": vec_col,
        "format": 1,
    }
    if sq8:
        from fluent_server_spark.operators.quantize import (
            embedding_bounds,
            quantize_expr,
        )

        # check_dim folds the ragged-size validation into the SAME
        # bounds pass — the sq8 build pays two corpus scans (bounds,
        # assign+write), not three
        mins, maxs = embedding_bounds(corpus, dim, vec_col, check_dim=True)
        indexed = indexed.select(
            id_col,
            quantize_expr(F.col(vec_col), mins, maxs).alias("q_vec"),
            "cell",
        )
        manifest["sq8"] = {"mins": mins, "maxs": maxs}
    indexed.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/vectors")
    _centroid_df(spark, centroids).write.mode("overwrite").parquet(f"{path}/centroids")
    with open(os.path.join(path, "index.json"), "w") as f:
        json.dump(manifest, f)
    # a REBUILD over an existing path starts a fresh lineage: reset the
    # base pointer and drop any old increments (they were assigned
    # against this path's previous centroids), leaving stale versioned
    # base dirs for the next compaction's cleanup pass
    import shutil

    shutil.rmtree(f"{path}/increments", ignore_errors=True)
    _write_base_state(path, {"dir": "vectors", "folded": []})


def read_ivf_manifest(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "index.json")) as f:
        return json.load(f)


def read_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Stored centroids as literals, ordered by cell. The collect is
    bounded at k rows — the same small table every probe broadcasts."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return [[float(x) for x in r.centroid] for r in rows]


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    epoch: int,
) -> None:
    """Incremental index growth: assign the new batch with the STORED
    centroids (never retrained mid-index — retraining moves cell
    boundaries and would strand earlier epochs on stale routing) and
    write it under `{path}/increments/epoch={epoch}`, whole-epoch
    overwrite so a crashed-and-replayed ingest epoch is idempotent.
    The base index is never rewritten; LSM-style folding (rewrite base
    + drop increments) is a compaction the caller schedules. Duplicate
    ids ACROSS epochs are the caller's contract, exactly as in the
    BM25 epoch merge."""
    man = read_ivf_manifest(path)
    spark = new_vectors.sparkSession
    vec_col, id_col, dim = man["vec_col"], man["id_col"], man["dim"]
    bad = new_vectors.filter(F.size(F.col(vec_col)) != dim).limit(1).count()
    if bad:
        raise ValueError(
            f"append batch contains vectors whose dimension != index dim {dim}"
        )
    centroids = read_ivf_centroids(spark, path)
    if len(centroids) != man["k"]:
        raise ValueError(
            f"stored centroids ({len(centroids)}) disagree with manifest k="
            f"{man['k']} — index is corrupt, refusing to append"
        )
    assigned = assign_cells(new_vectors, centroids, vec_col).select(
        id_col, vec_col, "cell"
    )
    if "sq8" in man:
        from fluent_server_spark.operators.quantize import (
            nan_vector_count,
            quantize_expr,
        )

        # ADVICE r5: the BUILD path rejects NaN loudly (embedding_bounds)
        # but quantize_expr silently encodes NaN as code 255 (greatest/
        # least order NaN above every value) — a drifted append batch
        # would corrupt stored codes with no signal. Same loud check,
        # same single-sourced detection expression (nan_vector_count).
        n_nan = nan_vector_count(new_vectors, vec_col)
        if n_nan:
            raise ValueError(
                f"append batch contains {n_nan} vector(s) with NaN — sq8 "
                "would silently encode them as code 255; clean the batch "
                "(the build path rejects the same corruption loudly)"
            )
        sq = man["sq8"]
        assigned = assigned.select(
            id_col,
            quantize_expr(F.col(vec_col), sq["mins"], sq["maxs"]).alias("q_vec"),
            "cell",
        )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/increments/epoch={epoch}"
    )


def _base_state(path: str) -> dict:
    """{"dir": <base dir name>, "folded": [epoch names already folded
    into that base]} — from `{path}/base.json`, defaulting to the
    original layout for indexes written before compaction ever ran.
    base.json is the SINGLE atomic commit point of compaction: one
    os.replace flips both the base pointer and the folded-epoch list
    together, so readers never see a state where an epoch is both in
    the base and read as an increment."""
    import json
    import os

    bp = os.path.join(path, "base.json")
    if os.path.exists(bp):
        with open(bp) as f:
            return json.load(f)
    return {"dir": "vectors", "folded": []}


def _write_base_state(path: str, state: dict) -> None:
    import json
    import os

    tmp = os.path.join(path, "base.json.tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(path, "base.json"))


def read_ivf_vectors(spark, path: str, raw: bool = False) -> DataFrame:
    """(id, embedding, cell) over the current base + all LIVE increment
    epochs. Epochs listed in base.json's folded list are skipped: they
    are already inside the base it points at, and only a crash in
    compaction's cleanup phase leaves their dirs on disk (reading them
    would double-count). For an SQ8 index the default view DEQUANTIZES
    to floats for scoring; `raw=True` returns the stored byte codes —
    what compaction moves, so a fold never round-trips through the
    quantizer (re-encoding reconstructed floats would be a silent
    second quantization if the bounds ever changed)."""
    import glob as _glob
    import os

    man = read_ivf_manifest(path)
    state = _base_state(path)
    stored_vec = "q_vec" if "sq8" in man else man["vec_col"]
    cols = [man["id_col"], stored_vec, "cell"]
    vecs = spark.read.parquet(f"{path}/{state['dir']}").select(*cols)
    for ep in sorted(_glob.glob(f"{path}/increments/epoch=*")):
        if os.path.basename(ep) in state["folded"]:
            continue
        vecs = vecs.unionByName(spark.read.parquet(ep).select(*cols))
    if "sq8" in man and not raw:
        from fluent_server_spark.operators.quantize import dequantize_expr

        sq = man["sq8"]
        vecs = vecs.select(
            man["id_col"],
            dequantize_expr(F.col("q_vec"), sq["mins"], sq["maxs"]).alias(
                man["vec_col"]
            ),
            "cell",
        )
    return vecs


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe-only ANN over a persisted index — the marginal cost a
    served query actually pays. The probe set's distinct cells are
    collected (bounded by min(k_cells, n_queries x nprobe) ints — the
    routing table is small by construction) and pushed as a LITERAL
    partition filter, so the scan provably touches only the probed
    cell directories; scoring is then the exact same equi-join +
    window kernel as the inline path — bit-identical to ivf_topk over
    base + increments for a FLOAT index (pinned in tests/test_ivf.py).
    For an sq8 index scoring runs on dequantized reconstructions, so
    results are approximate within the SQ8 bound rather than
    bit-equal (recall pinned in tests/test_quantize.py)."""
    man = read_ivf_manifest(path)
    centroids = read_ivf_centroids(spark, path)
    cent = _centroid_df(spark, centroids)
    probes = _nearest_cells(queries, cent, nprobe, id_col, vec_col)
    cells = sorted(r.cell for r in probes.select("cell").distinct().collect())
    indexed = (
        read_ivf_vectors(spark, path)
        .filter(F.col("cell").isin(cells))
        .select(
            F.col(man["id_col"]).alias("neighbor_id"),
            F.col(man["vec_col"]).alias("c_vec"),
            "cell",
        )
    )
    return _score_probed(probes, indexed, k)


def compact_ivf_index(spark, path: str, retain_old_base: bool = False) -> int:
    """LSM-style compaction: fold every increment epoch into the base
    `vectors` layout and drop the increment dirs — the maintenance op a
    long-lived index schedules once increments accumulate (same role
    as fold_ledger_into_index for the curate ledger and
    rewrite_data_files for the snapshot sinks). Probe results are
    unchanged by construction: the fold is a union of already-assigned
    (id, vec, cell) rows rewritten under the same partitioning, and
    cell assignments never move because the centroids are immutable
    for the index's lifetime (append_to_ivf_index's contract).

    Crash-safe via a SINGLE atomic commit point (the base.json pointer
    file — the same single-writer protocol as every index manifest
    here):

    1. cleanup: finish any crashed prior run — delete folded-epoch
       dirs and base dirs base.json no longer references, then clear
       the folded list once its dirs are gone. Pure garbage collection;
       reads were already correct before it.
    2. write the merged base to a NEW versioned dir (vectors_vN+1) —
       invisible until committed; a crash leaves an orphan dir that
       step 1 removes next time.
    3. COMMIT: one os.replace of base.json flips the base pointer AND
       records the folded epochs together — before it, reads use the
       old base + live epochs; after it, the new base with those
       epochs skipped. No window under- or double-counts, and a rerun
       after any crash converges (the epoch filter keys on names, so
       re-merging never re-folds an already-folded epoch).
    4. cleanup again (old base dir + folded epoch dirs + clear list).

    Reader/compactor exclusion (ADVICE r5): step 4 deletes the old base
    IMMEDIATELY after the pointer flip, so a reader that resolved
    base.json just before the commit can fail mid-scan — the default
    contract is therefore SINGLE-WRITER, NO CONCURRENT READERS during
    compaction (the same exclusion every manifest-pointer flip in this
    package assumes). For a live-read deployment pass
    `retain_old_base=True`: step 4 is skipped and the superseded base +
    folded epoch dirs survive until the NEXT compaction's step-1
    cleanup collects them (the folded-list machinery already reads
    correctly around them), giving in-flight readers a full
    compaction interval of retention — Iceberg's expire-snapshots
    grace, at the cost of the old base's disk until then.

    Returns the number of epochs folded (0 = nothing to do)."""
    import glob as _glob
    import os
    import shutil

    read_ivf_manifest(path)  # fail loud on a non-index path

    def _cleanup(state: dict) -> None:
        # drop folded-epoch dirs (their rows live in the current base)
        for e in _glob.glob(f"{path}/increments/epoch=*"):
            if os.path.basename(e) in state["folded"]:
                shutil.rmtree(e, ignore_errors=True)
        # drop base dirs the pointer no longer references (old bases,
        # crashed staging writes)
        for d in _glob.glob(f"{path}/vectors*"):
            if os.path.isdir(d) and os.path.basename(d) != state["dir"]:
                shutil.rmtree(d, ignore_errors=True)
        # folded entries whose dirs are gone have done their job
        if state["folded"] and not any(
            os.path.isdir(f"{path}/increments/{name}") for name in state["folded"]
        ):
            _write_base_state(path, {"dir": state["dir"], "folded": []})
            state["folded"] = []

    state = _base_state(path)
    _cleanup(state)
    epochs = sorted(
        os.path.basename(e)
        for e in _glob.glob(f"{path}/increments/epoch=*")
        if os.path.basename(e) not in state["folded"]
    )
    if not epochs:
        return 0
    merged = read_ivf_vectors(spark, path, raw=True)  # stored repr, as-is
    cur = state["dir"]
    ver = int(cur.rsplit("_v", 1)[1]) if "_v" in cur else 0
    new_dir = f"vectors_v{ver + 1}"
    merged.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/{new_dir}"
    )
    # THE commit: pointer + folded list flip together, atomically
    _write_base_state(
        path, {"dir": new_dir, "folded": state["folded"] + epochs}
    )
    if not retain_old_base:
        _cleanup({"dir": new_dir, "folded": state["folded"] + epochs})
    return len(epochs)
