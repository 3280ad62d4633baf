"""BM25 (operators/bm25.py) vs a pure-Python reference of the same
Lucene-variant formula; determinism, max_df insurance, shape laws."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from fluent_server_spark.operators.bm25 import bm25_index, bm25_topk

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "a quick brown dog outpaces a quick fox"),
    (2, "the lazy dog sleeps all day"),
    (3, "slow green turtle walks under the energetic rabbit"),
    (4, "fox fox fox fox fox"),
    (5, "completely unrelated words about spark and tables"),
]
QUERIES = [(0, "quick fox"), (1, "lazy dog"), (2, "spark turtle")]


def _py_bm25(docs, queries, k1=1.2, b=0.75, max_df=None):
    corpus = {i: t.lower().split() for i, t in docs}
    n = len(corpus)
    avgdl = sum(len(ts) for ts in corpus.values()) / n
    df = {}
    for ts in corpus.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    if max_df is not None:  # stop terms contribute nothing
        df = {t: c for t, c in df.items() if c <= max_df * n}
    out = {}
    for qid, q in queries:
        scores = {}
        for d, ts in corpus.items():
            s = 0.0
            for t in set(q.lower().split()):
                tf = ts.count(t)
                if tf == 0 or t not in df:
                    continue
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
            if s > 0:
                scores[d] = s
        out[qid] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.createDataFrame(DOCS, "doc_id int, text string")
    qs = spark.createDataFrame(QUERIES, "query_id int, query string")
    return docs, qs


def test_matches_python_reference(spark, corpus):
    docs, qs = corpus
    # 0.5 keeps 'dog'/'fox' (df 3 of 6, the cap is inclusive); 0.4 drops them
    for max_df in (None, 0.5, 0.4):
        got = bm25_topk(docs, qs, k=10, max_df=max_df).collect()
        exp = _py_bm25(DOCS, QUERIES, max_df=max_df)
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r["rk"])
            assert [r["doc_id"] for r in rows] == [d for d, _ in exp[qid]], max_df
            for r, (_, s) in zip(rows, exp[qid]):
                assert abs(r["score"] - s) < 1e-6, (max_df, qid, r, s)
        # every query with any matching doc appears
        assert set(by_q) == {qid for qid, hits in exp.items() if hits}, max_df


def test_index_shapes(spark, corpus):
    docs, _ = corpus
    postings, doclen = bm25_index(docs)
    # tf of 'fox' in doc 4 is 5; dl of doc 4 is 5
    row = postings.filter("doc_id = 4 AND term = 'fox'").first()
    assert row["tf"] == 5
    assert doclen.filter("doc_id = 4").first()["dl"] == 5
    # postings are per (doc, term) distinct
    assert postings.groupBy("doc_id", "term").count().filter("count > 1").count() == 0


def test_k_truncation_and_tie_break(spark, corpus):
    docs, qs = corpus
    top1 = bm25_topk(docs, qs, k=1)
    assert top1.filter("rk > 1").count() == 0
    # rk is dense 1..n per query
    full = bm25_topk(docs, qs, k=10)
    for qid in [r["query_id"] for r in full.select("query_id").distinct().collect()]:
        rks = sorted(
            r["rk"] for r in full.filter(F.col("query_id") == qid).collect()
        )
        assert rks == list(range(1, len(rks) + 1))


def test_max_df_drops_stop_terms(spark, corpus):
    docs, _ = corpus
    # 'the' appears in 3/6 docs; cap at 0.4 kills it but keeps 'turtle'
    qs = spark.createDataFrame([(0, "the turtle")], "query_id int, query string")
    scored = bm25_topk(docs, qs, k=10, max_df=0.4)
    ids = {r["doc_id"] for r in scored.collect()}
    assert ids == {3}  # only the turtle doc — 'the' contributed nothing


def test_duplicate_query_terms_count_once(spark, corpus):
    docs, _ = corpus
    q1 = spark.createDataFrame([(0, "fox")], "query_id int, query string")
    q2 = spark.createDataFrame([(0, "fox fox fox")], "query_id int, query string")
    a = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, q1, k=10).collect()}
    b = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, q2, k=10).collect()}
    assert a == b


def test_persisted_index_probe_bitequal_and_mergeable(spark, corpus, tmp_path):
    from fluent_server_spark.operators.bm25 import (
        bm25_topk_from_index,
        write_bm25_index,
    )

    docs, qs = corpus
    path = str(tmp_path / "bm25idx")
    write_bm25_index(docs, path)
    inline = {(r["query_id"], r["rk"], r["doc_id"], r["score"])
              for r in bm25_topk(docs, qs, k=10).collect()}
    probed = {(r["query_id"], r["rk"], r["doc_id"], r["score"])
              for r in bm25_topk_from_index(spark, path, qs, k=10).collect()}
    assert inline == probed
    # the stored relations are exactly the inline intermediates
    postings = spark.read.parquet(f"{path}/postings")
    assert postings.filter("doc_id = 4 AND term = 'fox'").first()["tf"] == 5
    one = spark.read.parquet(f"{path}/corpus").collect()
    assert len(one) == 1 and one[0]["n_docs"] == len(DOCS)


def test_empty_corpus_and_no_match_query(spark):
    docs = spark.createDataFrame([], "doc_id int, text string")
    qs = spark.createDataFrame([(0, "anything")], "query_id int, query string")
    assert bm25_topk(docs, qs, k=5).count() == 0
    # query with no term in the corpus: no rows for it, no error
    docs2 = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    qs2 = spark.createDataFrame([(0, "zzz qqq")], "query_id int, query string")
    assert bm25_topk(docs2, qs2, k=5).count() == 0
