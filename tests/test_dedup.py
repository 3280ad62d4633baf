"""Dedup operators on a corpus with PLANTED duplicates — exact baselines
pin the semantics of the approximate (rows-only-for-the-driver) ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_server_spark.operators.dedup import (
    dedup_keep_first,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

_BASE = (
    "the quick brown fox jumps over the lazy dog while the crew ships a "
    "spark pipeline that parses enriches routes and aggregates transcript "
    "turns across many partitions of a very large iceberg table"
)


@pytest.fixture(scope="module")
def corpus(spark):
    words = _BASE.split()
    rows = []
    # 0/1: byte-identical after normalization (exact dups)
    rows.append((0, _BASE))
    rows.append((1, "  " + _BASE.upper().lower() + " "))
    # 2: near-dup of 0 (one word changed) -> high jaccard
    rows.append((2, _BASE.replace("lazy", "sleepy")))
    # 3: half overlap
    rows.append((3, " ".join(words[: len(words) // 2]) + " entirely new tail "
                 + "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    # 4..23: unrelated
    for i in range(4, 24):
        rows.append((i, " ".join(f"tok{i}_{j} f{i}_{j%7}" for j in range(40))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(corpus):
    out = {r.keep_id: r.n_dups for r in exact_dedup(corpus).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert sum(out.values()) == 24
    kept = dedup_keep_first(corpus)
    assert kept.count() == 23
    assert kept.filter(F.col("doc_id") == 1).count() == 0


def test_exact_jaccard_finds_planted_pairs(corpus):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (1, 2) in pairs
    assert all(a < 4 and b < 4 for a, b in pairs)  # no false positives


def test_minhash_lsh_matches_exact_baseline(corpus):
    """Scale-path recall: every exact pair above threshold must be found,
    and verified jaccard values are identical (exact verify stage)."""
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    lsh = {
        (r.a_id, r.b_id): r.jaccard
        for r in minhash_lsh_pairs(corpus, threshold=0.3).collect()
    }
    # precision is exact by construction (candidates re-verified)
    assert set(lsh) <= set(exact)
    # recall on strong pairs (>=0.5) must be total
    strong = {k for k, v in exact.items() if v >= 0.5}
    assert strong <= set(lsh)
    for k in lsh:
        assert lsh[k] == exact[k]


def test_simhash_finds_near_identical(corpus):
    pairs = {(r.a_id, r.b_id): r.hamming for r in simhash_pairs(corpus, max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0  # identical docs -> identical simhash
    assert (0, 2) in pairs  # one-word edit -> small hamming
    assert all(a < 4 and b < 4 for a, b in pairs)


def test_count_kernel_equals_crossjoin_baseline(spark, corpus):
    """The block-pair overlap-count join (jaccard_join_blocks, the scale
    path) must return the EXACT same pair set + values as the O(n^2)
    baseline at loose, middle and tight thresholds — including docs
    with fewer than n words (partial-shingle edge case)."""
    from fluent_server_spark.operators.dedup import jaccard_join_blocks

    shorts = spark.createDataFrame(
        [(100, "hi"), (101, "hi"), (102, "one two"), (103, "one two"), (104, "")],
        "doc_id long, text string",
    )
    docs = corpus.unionByName(shorts)
    for t in (0.2, 0.5, 0.9):
        exact = {
            (r.a_id, r.b_id): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        blocks = {
            (r.a_id, r.b_id): r.jaccard
            for r in jaccard_join_blocks(docs, threshold=t).collect()
        }
        assert blocks == exact and len(exact) > 0, t
        assert blocks[(100, 101)] == 1.0


def test_short_docs_match_duckdb_oracle(spark):
    """ADVICE r1: the SQL gram construction must agree with Spark's
    partial shingle for <3-word docs (w[i+2] NULL-gram divergence)."""
    import duckdb
    import pandas as pd

    from fluent_server_spark.queries.docs import JACCARD_THRESHOLD, SQL_NGRAM_JACCARD_PAIRS
    from fluent_server_spark.operators.dedup import jaccard_join_blocks

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": ["hi", "hi", "one two", "one two three", "one two three four", ""],
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        jaccard_join_blocks(sdf, threshold=JACCARD_THRESHOLD)
        .toPandas()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (
        con.sql(SQL_NGRAM_JACCARD_PAIRS)
        .df()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_connected_components_union_find_oracle(spark):
    """Hash-to-min CC vs an independent pure-Python union-find on a
    planted multi-cluster graph (chain, triangle, star, singleton pair)."""
    from fluent_server_spark.operators.dedup import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4),        # chain -> component 1
        (10, 11), (11, 12), (10, 12),  # triangle -> 10
        (20, 21), (20, 22), (20, 23),  # star -> 20
        (30, 31),                      # pair -> 30
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == want


def test_incremental_neardup_matches_self_join_restriction(spark, corpus):
    """Cross-set LSH (new batch vs standing corpus) must find exactly the
    self-join pairs that straddle the split, with identical jaccard."""
    from pyspark.sql import functions as F

    from fluent_server_spark.operators.dedup import minhash_lsh_pairs_against

    new = corpus.filter(F.col("doc_id") % 2 == 0)
    old = corpus.filter(F.col("doc_id") % 2 == 1)
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in minhash_lsh_pairs_against(new, old, threshold=0.3).collect()
    }
    full = {
        (r.a_id, r.b_id): r.jaccard
        for r in minhash_lsh_pairs(corpus, threshold=0.3).collect()
    }
    want = {}
    for (a, b), j in full.items():
        if a % 2 == 0 and b % 2 == 1:
            want[(a, b)] = j
        elif b % 2 == 0 and a % 2 == 1:
            want[(b, a)] = j
    assert got == want and len(got) > 0


def test_lsh_bucket_cap_drops_degenerate_cluster(spark):
    """A k-copy degenerate cluster emits k^2/2 candidates per band;
    max_bucket_size excises exactly those buckets (exact-dedup owns that
    cluster) while organic near-dup pairs survive."""
    rows = [(i, "the exact same boilerplate page " * 10) for i in range(30)]
    rows += [(100, "a unique doc about spark pipelines and routing stages x" * 5),
             (101, "a unique doc about spark pipelines and routing stages y" * 5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = minhash_lsh_pairs(docs, threshold=0.3)
    capped = minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=10)
    assert full.filter("a_id < 100").count() == 30 * 29 // 2  # degenerate pairs
    got = {(r.a_id, r.b_id) for r in capped.collect()}
    assert got == {(100, 101)}  # cluster gone, organic pair kept


def test_connected_components_deep_chain_converges(spark):
    """A 100-node chain (diameter 99) — hash-to-min alone would need ~99
    rounds; with path halving it must close within the default budget and
    label every node with the chain minimum."""
    from fluent_server_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a_id long, b_id long"
    )
    got = {r.id: r.component for r in connected_components(pairs, max_iter=12).collect()}
    assert got == {i: 0 for i in range(100)}


def test_connected_components_nonconvergence_raises(spark):
    """max_iter too small for the diameter must raise loudly, never
    return silently split clusters (round-2 judge finding)."""
    import pytest as _pytest

    from fluent_server_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a_id long, b_id long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_persisted_index_matches_direct_incremental(spark, corpus, tmp_path):
    """Increment vs a STORED corpus index == recomputing the corpus side
    inline, bit for bit — and the index path provably never touches the
    corpus table: the corpus parquet is DELETED after the index build,
    and the index-backed query still runs (the direct formulation would
    throw on its first scan)."""
    import shutil

    from fluent_server_spark.operators.dedup import (
        minhash_lsh_pairs_against,
        write_minhash_index,
    )

    new = corpus.filter("doc_id % 5 = 0")
    corp = corpus.filter("NOT (doc_id % 5 = 0)")

    corp_path = str(tmp_path / "corpus.parquet")
    corp.write.parquet(corp_path)
    corp_stored = spark.read.parquet(corp_path)
    idx = str(tmp_path / "lsh_index")
    write_minhash_index(corp_stored, idx)

    key = lambda r: (r["new_id"], r["corpus_id"], r["jaccard"])  # noqa: E731
    direct = sorted(
        map(key, minhash_lsh_pairs_against(new, corp_stored, threshold=0.2).collect())
    )

    # the corpus table is gone; only the stored index remains
    shutil.rmtree(corp_path)
    indexed = sorted(
        map(
            key,
            minhash_lsh_pairs_against(new, corpus_index=idx, threshold=0.2).collect(),
        )
    )
    assert indexed == direct
    assert len(indexed) > 0


def test_persisted_index_rejects_mismatched_params(spark, corpus, tmp_path):
    import pytest as _pytest

    from fluent_server_spark.operators.dedup import (
        minhash_lsh_pairs_against,
        write_minhash_index,
    )

    idx = str(tmp_path / "idx")
    write_minhash_index(corpus, idx, n=3)
    with _pytest.raises(ValueError, match="do not match"):
        minhash_lsh_pairs_against(corpus.limit(5), corpus_index=idx, n=5)
    # seed is part of the signature: an index built with a different seed
    # would silently produce mismatched buckets (near-zero recall), so the
    # manifest check must cover it too
    with _pytest.raises(ValueError, match="do not match"):
        minhash_lsh_pairs_against(corpus.limit(5), corpus_index=idx, seed=7)
    with _pytest.raises(ValueError, match="exactly one"):
        minhash_lsh_pairs_against(corpus.limit(5))


def test_simhash_udf_literal_signatures(spark):
    """Literal SimHash signatures: wordless text (NULL, empty, blank) is
    0, and a one-word doc's signature is that word's 64-bit md5 prefix
    read as a signed long (every bit votes once), so the
    two's-complement wrap is pinned without the module's own helper."""
    import hashlib

    from fluent_server_spark.functions.text import simhash_udf

    def word_sig(w: str) -> int:
        return int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big", signed=True)

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "Spark"), (4, " lazy\t")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.sim
        for r in docs.select("doc_id", simhash_udf(F.col("text")).alias("sim")).collect()
    }
    assert word_sig("spark") < 0 < word_sig("lazy")  # both sign cases
    assert got == {0: 0, 1: 0, 2: 0, 3: word_sig("spark"), 4: word_sig("lazy")}


def test_persisted_index_custom_seed_round_trips(spark, corpus, tmp_path):
    from fluent_server_spark.operators.dedup import (
        minhash_lsh_pairs_against,
        write_minhash_index,
    )

    idx = str(tmp_path / "idx_seeded")
    write_minhash_index(corpus, idx, seed=42)
    direct = minhash_lsh_pairs_against(
        corpus.limit(10), corpus=corpus, threshold=0.2, seed=42
    ).collect()
    stored = minhash_lsh_pairs_against(
        corpus.limit(10), corpus_index=idx, threshold=0.2, seed=42
    ).collect()
    key = lambda r: (r["new_id"], r["corpus_id"])  # noqa: E731
    assert sorted(map(key, stored)) == sorted(map(key, direct))


_SHINGLE_EDGE_ROWS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "\tleading tab and trailing newline\n"),
    (4, "  spaces   between   Words  MIXED Case "),
    (5, "one"),
    (6, "one two"),
    (7, "one two three"),
    (8, "exactly four tokens here"),
    (9, "unicode éè 中文 token stream ß test"),
    (10, "a a a a a repeated gram gram gram"),
    (11, " \n mixed \t whitespace \r\n kinds "),
]


def test_string_shingles_arrow_matches_catalyst(spark):
    """r6: the batched string-gram kernel (decontaminate's probe side)
    must produce the IDENTICAL arrays — element order included (both
    keep first occurrence) — as the Catalyst transform/slice/concat_ws
    chain, across the Spark-semantics corner cases: space-only trim
    (tabs/newlines are split chars, not trim chars), split(limit=-1)
    keeping leading AND trailing empty strings, the partial-shingle
    clamp for short docs, and NULL text."""
    from fluent_server_spark.operators.dedup import with_shingles

    df = spark.createDataFrame(_SHINGLE_EDGE_ROWS, "doc_id long, text string")
    for n in (2, 3, 5):
        fold = {
            r.doc_id: r.hg
            for r in with_shingles(df, "text", n, out="hg", impl="fold").collect()
        }
        arrow = {
            r.doc_id: r.hg
            for r in with_shingles(df, "text", n, out="hg", impl="arrow").collect()
        }
        assert arrow == fold, f"n={n}: {arrow} != {fold}"


def test_hashed_shingles_are_md5_of_catalyst_grams(spark):
    """The hashed-shingle kernel every near-dup join runs on must equal
    the first 15 md5 hex digits (base 16) of the Catalyst string grams,
    element order included, on the same corner cases."""
    import hashlib

    from fluent_server_spark.operators.dedup import with_hashed_shingles, with_shingles

    df = spark.createDataFrame(_SHINGLE_EDGE_ROWS, "doc_id long, text string")
    for n in (3, 5):
        grams = {
            r.doc_id: r.g
            for r in with_shingles(df, "text", n, out="g", impl="fold").collect()
        }
        want = {
            d: [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in gs]
            for d, gs in grams.items()
        }
        got = {r.doc_id: r.hg for r in with_hashed_shingles(df, "text", n).collect()}
        assert got == want, n
