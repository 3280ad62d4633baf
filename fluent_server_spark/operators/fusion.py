"""Hybrid retrieval — Reciprocal Rank Fusion over independent
retriever rankings, plus the character-n-gram retriever that makes the
classic lexical+fuzzy pair with BM25.

RRF (Cormack, Clarke & Buettcher, SIGIR 2009 — public):

    fused(q, d) = sum over retrievers r of  1 / (k + rank_r(q, d))

with a document absent from retriever r's top list contributing 0 for
that r. k=60 is the published default; ranks (not raw scores) make the
fusion scale-free, so retrievers with incomparable score ranges (BM25
log-idf sums vs Jaccard in [0,1] vs cosine) combine without
calibration — exactly why RRF is the default hybrid in production
search stacks.

Spark shape:

* each input ranking is a DataFrame (query_id, rk, doc_id, ...) — the
  exact output contract of `bm25_topk`, `chargram_topk`, and the ANN
  family. Fusion = unionByName of the skinny (query, doc, rk) columns
  + ONE hash agg on (query, doc) + a per-query window top-k. The union
  inputs are already top-`depth` lists (depth * |queries| rows per
  retriever), so at 100 TB the fusion stage is tiny regardless of
  corpus size — all the heavy lifting stays inside the retrievers,
  which are independently scale-audited.
* `chargram_topk` is the fuzzy retriever: distinct character n-grams
  (default n=3) as an inverted index, query-restricted equi-join
  (only grams appearing in some query move), Jaccard on distinct-gram
  counts. Trigrams survive typos and morphology that whitespace BM25
  terms miss — the standard reason to fuse the two. Cost is bounded by
  sum over query grams of df(gram); `max_df` drops stop-grams (the
  same insurance dial as BM25's `max_df`).

Determinism: per-(query,doc) RRF sums are rounded before ranking and
ties break on doc_id, so the fused order is a pure function of the
input — the DuckDB oracle replays the whole path (BM25 CTE + trigram
CTE + fusion).

Reference analogue: none (the reference routes events) — this extends
the training-data / RAG operator family (operators/bm25.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_K = 60  # the SIGIR'09 default


def _chargrams(text_col, n: int):
    """Distinct character n-grams of lower(trim(text)); a text shorter
    than n yields its single partial gram (same contract as the word
    shingles in operators/dedup.py). DuckDB twin:
    list_distinct(list_transform(range(1, greatest(length(t)-(n-1), 1)
    + 1), i -> substr(t, i, n)))."""
    t = F.lower(F.trim(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(n))))


def chargram_topk(
    docs: DataFrame,
    queries: DataFrame,
    n: int = 3,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    max_df: float | None = None,
) -> DataFrame:
    """Top-k docs per query by character-n-gram Jaccard. Returns
    (query_id, rk, doc_id, score), rk 1..k, ties broken by doc_id.

    Plan: doc grams (narrow explode of distinct grams), query grams
    (tiny -> broadcast), gram equi-join restricted to query grams,
    one (query, doc) hash agg for the intersection size, Jaccard from
    the two distinct-gram counts. No UDFs, no cross join."""
    grams = _chargrams(F.col(text_col), n)
    dgrams = docs.select(
        F.col(id_col), F.explode(grams).alias("gram")
    ).filter(F.col("gram") != "")
    # |D| as a NARROW per-row expression (size of the distinct-gram
    # array, minus the empty gram a blank text yields) — a groupBy over
    # the exploded grams would re-execute the corpus-sized explode just
    # to count what each row already knows (measured ~2x on the whole
    # retriever at sf0.1)
    dlen = docs.select(
        F.col(id_col),
        F.size(F.filter(grams, lambda g: g != "")).alias("dlen"),
    )

    if max_df is not None:
        n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # one row
        df_tbl = dgrams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        keep = df_tbl.crossJoin(F.broadcast(n_docs)).filter(
            F.col("df") <= F.lit(float(max_df)) * F.col("n_docs")
        ).select("gram")
        dgrams = dgrams.join(keep, "gram")

    qgrams = queries.select(
        F.col(query_id_col),
        F.explode(_chargrams(F.col(query_text_col), n)).alias("gram"),
    ).filter(F.col("gram") != "").distinct()
    qlen = qgrams.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("qlen"))

    inter = dgrams.join(F.broadcast(qgrams), "gram").groupBy(
        query_id_col, id_col
    ).agg(F.count(F.lit(1)).alias("m"))

    scored = (
        inter.join(dlen, id_col)
        .join(F.broadcast(qlen), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                F.col("m") / (F.col("dlen") + F.col("qlen") - F.col("m")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, "rk", id_col, "score")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = RRF_K,
    topk: int | None = None,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rk",
) -> DataFrame:
    """Fuse per-query rankings by RRF. Returns (query_id, rk, doc_id,
    rrf_score, n_lists) ordered per query by fused score desc, doc_id;
    `n_lists` = how many input rankings surfaced the doc (an audit
    column: n_lists == len(rankings) marks consensus hits).

    Input sizes are top-`depth` lists, so this whole operator moves
    O(len(rankings) * depth * |queries|) rows — corpus-size-free."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    skinny = [
        r.select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(rank_col).cast("int").alias("_rk"),
        )
        for r in rankings
    ]
    unioned = skinny[0]
    for s in skinny[1:]:
        unioned = unioned.unionByName(s)
    fused = unioned.groupBy(query_id_col, id_col).agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(k_rrf) + F.col("_rk"))), 10).alias(
            "rrf_score"
        ),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rrf_score"), F.col(id_col)
    )
    out = fused.withColumn("rk", F.row_number().over(w))
    if topk is not None:
        out = out.filter(F.col("rk") <= topk)
    return out.select(query_id_col, "rk", id_col, "rrf_score", "n_lists")


def hybrid_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    depth: int = 20,
    k_rrf: int = RRF_K,
    ngram: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """BM25 + character-n-gram retrieval fused by RRF — the standard
    lexical/fuzzy hybrid. `depth` is the per-retriever candidate depth
    (fusion sees depth-long lists; the published guidance is depth of
    2-10x the final k)."""
    from fluent_server_spark.operators.bm25 import bm25_topk

    lex = bm25_topk(
        docs, queries, k=depth, k1=k1, b=b,
        id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, query_text_col=query_text_col,
    )
    fuzzy = chargram_topk(
        docs, queries, n=ngram, k=depth,
        id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, query_text_col=query_text_col,
    )
    return rrf_fuse(
        [lex, fuzzy], k_rrf=k_rrf, topk=k,
        query_id_col=query_id_col, id_col=id_col,
    )
