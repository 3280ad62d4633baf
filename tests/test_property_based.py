"""Property-based tests (hypothesis): the route compiler and the parser
must agree with independent Python oracles on RANDOM inputs, not just
fixtures. (The reference has no property tests, SURVEY.md §5 — this is
part of the upgrade.)

One Spark action per property over a generated batch: hypothesis drives
the data, a single createDataFrame->collect checks the whole batch.
"""

from __future__ import annotations

import re

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from fluent_server_spark.functions.parse import GROK_PATTERN, parse_turns  # noqa: E402
from fluent_server_spark.operators.route import RouteRule, compile_routes  # noqa: E402

_GROK_RE = re.compile(GROK_PATTERN)

# ---------------------------------------------------------------- parser

word = st.text(alphabet="abcdefgz_0123456789", min_size=0, max_size=8)
msg_text = st.text(
    alphabet=' abcdefXYZ.,;:!?0123456789-_=',  # no quotes (pattern excludes them)
    max_size=30,
)
garbage = st.text(max_size=40).filter(lambda s: "\n" not in s and "\r" not in s)


@st.composite
def texts(draw):
    if draw(st.booleans()):
        return draw(garbage)
    lvl, comp = draw(word), draw(word)
    m = draw(msg_text)
    d, t = draw(st.integers(0, 10**6)), draw(st.integers(0, 10**6))
    return f'level={lvl} component={comp} msg="{m}" dur_ms={d} tokens={t}'


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(texts(), min_size=1, max_size=60))
def test_parser_matches_re_oracle(spark, batch):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(batch)], "i long, text string")
    rows = {r.i: r for r in parse_turns(df, impl="native").select("i", "parsed.*").collect()}
    for i, t in enumerate(batch):
        m = _GROK_RE.match(t)
        r = rows[i]
        assert r.parse_ok == (m is not None and m.end() == len(t)), (t, r)
        if m and m.end() == len(t):
            assert (r.level, r.component, r.msg) == (m.group(1), m.group(2), m.group(3))
            assert (r.dur_ms, r.tokens) == (int(m.group(4)), int(m.group(5)))
        else:
            assert r.level is None and r.msg is None


# ---------------------------------------------------------------- router

name = st.sampled_from(["alpha", "beta", "gamma", "al", "alp", "b", ""])
seg = st.sampled_from(["app", "web", "db", "ap", "a", "logs"])
tag_value = st.lists(seg, min_size=1, max_size=4).map(".".join)
tag_seg_pattern = st.one_of(st.just("*"), seg, seg.map(lambda s: s + "*"))
tag_pattern = st.one_of(
    st.just("**"),
    st.lists(tag_seg_pattern, min_size=1, max_size=3).map(".".join),
    st.lists(tag_seg_pattern, min_size=1, max_size=2).map(
        lambda ps: ".".join(ps + ["**"])
    ),
)
pattern = st.one_of(
    st.just("*"),
    name,
    name.map(lambda s: s + "*"),
    tag_pattern,  # fluentd dot-segment grammar, same first-match CASE
)


@st.composite
def rule_sets(draw):
    n = draw(st.integers(1, 6))
    rules = [
        RouteRule(i, draw(pattern), draw(pattern), draw(pattern), f"sink_{i}")
        for i in range(n)
    ]
    # terminal catch-all like fluentd configs end with <match **>
    rules.append(RouteRule(n, "*", "*", "*", "sink_last"))
    return rules


def _py_match(value: str, pat: str) -> bool:
    if pat == "*":
        return True
    if "." in pat or pat == "**":
        return _py_tag_match(value, pat)
    if pat.endswith("*"):
        return value.startswith(pat[:-1])
    return value == pat


def _py_tag_match(value: str, pat: str) -> bool:
    """Independent (non-regex) oracle for fluentd dot-segment patterns."""
    pparts = pat.split(".")
    vparts = value.split(".")
    deep = pparts[-1] == "**"
    if deep:
        pparts = pparts[:-1]
        if len(vparts) < len(pparts):
            return False
        # the absorbed suffix segments must be non-empty (regex [^.]+)
        if any(s == "" for s in vparts[len(pparts):]):
            return False
        vparts = vparts[: len(pparts)]
    elif len(vparts) != len(pparts):
        return False
    for p, v in zip(pparts, vparts):
        if p == "*":
            ok = v != ""
        elif p.endswith("*"):
            ok = v.startswith(p[:-1])
        else:
            ok = v == p
        if not ok:
            return False
    return True


def _py_route(rules, role, tool, level, ok):
    if not ok:
        return "sink_quarantine"
    for r in rules:
        if (
            _py_match(role, r.role_pattern)
            and _py_match(tool, r.tool_pattern)
            and _py_match(level, r.level_pattern)
        ):
            return r.sink
    return "sink_default"


value = st.one_of(name, tag_value)  # plain and dotted tag values


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rule_sets(),
    st.lists(st.tuples(value, value, value, st.booleans()), min_size=1, max_size=50),
)
def test_route_compiler_matches_python_oracle(spark, rules, rows):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i long, role string, tool string, level string, parse_ok boolean",
    )
    got = {
        r.i: r.sink
        for r in df.withColumn(
            "sink", compile_routes(rules, level_col="level", parse_ok_col="parse_ok")
        ).collect()
    }
    for i, (role, tool, level, ok) in enumerate(rows):
        assert got[i] == _py_route(rules, role, tool, level, ok), (
            rules, rows[i],
        )


# ---------------------------------------------------- packing / chunking


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(1, 500)),
        min_size=1,
        max_size=40,
    ),
    st.integers(16, 300),
)
def test_pack_sequences_matches_python_prefix_sum(spark, rows, budget):
    """Spark packing == the sequential per-key prefix-sum oracle, for any
    token distribution and budget: totals conserved, chunk ids identical."""
    from collections import defaultdict

    from fluent_server_spark.operators.packing import pack_sequences
    from pyspark.sql import functions as F

    data = [(k, i, t) for i, (k, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "conv string, idx int, tok int")
    got = {
        (r["conv"], r["chunk_id"]): (r["n_rows"], r["chunk_tokens"])
        for r in pack_sequences(df, "conv", ["idx"], F.col("tok"), budget).collect()
    }
    want = defaultdict(lambda: [0, 0])
    cum = defaultdict(int)
    for k, i, t in sorted(data, key=lambda x: (x[0], x[1])):
        chunk = cum[k] // budget
        want[(k, chunk)][0] += 1
        want[(k, chunk)][1] += t
        cum[k] += t
    assert got == {k: tuple(v) for k, v in want.items()}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.text(alphabet="xyz ", min_size=1, max_size=400),
    st.integers(2, 60),
    st.integers(0, 30),
)
def test_chunk_documents_tiles_exactly(spark, text, chunk_chars, overlap):
    """Chunks tile the document: first starts at 0, consecutive starts
    differ by step, adjacent chunks overlap by exactly `overlap` (or reach
    the end), and concatenating de-overlapped chunks rebuilds the text."""
    import hashlib

    from fluent_server_spark.operators.packing import chunk_documents

    overlap = min(overlap, chunk_chars - 1)
    step = chunk_chars - overlap
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_chars, overlap).collect(),
        key=lambda r: r["chunk_idx"],
    )
    n = len(text)
    assert [r["chunk_idx"] for r in rows] == list(range((n - 1) // step + 1))
    rebuilt = ""
    for r in rows:
        start = r["chunk_idx"] * step
        piece = text[start : start + chunk_chars]
        assert r["chunk_len"] == len(piece)
        assert r["chunk_md5"] == hashlib.md5(piece.encode()).hexdigest()
        rebuilt = rebuilt[:start] + piece
    assert rebuilt == text


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=0, max_value=12),  # heavy ties on purpose
        min_size=1,
        max_size=80,
    ),
    st.integers(min_value=1, max_value=11),
    st.integers(min_value=1, max_value=9),
)
def test_global_ntile_property_matches_window(spark, values, n, n_part):
    """Distributed exact ntile == `ntile(n) OVER (ORDER BY ...)` for
    arbitrary tied value lists, bucket counts (incl. n > rows), and
    range-partition counts (incl. n_part > rows)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fluent_server_spark.operators.ranking import with_global_ntile

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "k int, v double"
    )
    order = [F.desc("v"), F.asc("k")]
    got = {
        r["k"]: r["ntile"]
        for r in with_global_ntile(df, n, order, num_partitions=n_part).collect()
    }
    w = Window.orderBy(F.desc("v"), F.asc("k"))
    want = {
        r["k"]: r["nt"] for r in df.withColumn("nt", F.ntile(n).over(w)).collect()
    }
    assert got == want


# ------------------------------------------- jaccard block-pair count join

doc_text = st.text(alphabet="ab cd", min_size=0, max_size=40)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_text, min_size=2, max_size=12), st.sampled_from([0.1, 0.3, 0.6]))
def test_jaccard_count_kernel_matches_set_oracle(spark, batch, threshold):
    """The block-pair overlap-count join (jaccard_join_blocks) must
    equal a pure-Python shingle-set jaccard on RANDOM corpora — tiny
    vocab ('ab'/'cd' words) maximizes gram collisions, short docs
    exercise the partial-shingle clamp."""
    from fluent_server_spark.operators.dedup import jaccard_join_blocks

    def grams(text: str) -> frozenset[str]:
        ws = re.split(r"\s+", text.strip().lower())
        return frozenset(
            " ".join(ws[i : i + 3]) for i in range(max(len(ws) - 3, 0) + 1)
        )

    want = {}
    for i in range(len(batch)):
        for j in range(i + 1, len(batch)):
            a, b = grams(batch[i]), grams(batch[j])
            u = len(a | b)
            if u == 0:
                continue
            jac = round(len(a & b) / u, 6)
            if jac >= threshold:
                want[(i, j)] = jac
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
    )
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_join_blocks(df, threshold=threshold).collect()
    }
    assert got == want


# ------------------------------------------------------- sketch family

skeys = st.lists(
    st.text(alphabet="abcdefg0123456789", min_size=1, max_size=6),
    min_size=1,
    max_size=120,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(a=skeys, b=skeys)
def test_bloom_never_false_negative_property(spark, a, b):
    """For ANY member set and probe set: every probe that IS a member
    reads maybe_present (zero false negatives, the Bloom contract)."""
    from fluent_server_spark.operators.sketches import bloom_build, bloom_contains

    members = spark.createDataFrame([(k,) for k in a], "k string")
    sk = bloom_build(members, "k", m_bits=1 << 10, n_hashes=4)
    probes = spark.createDataFrame([(k,) for k in set(a) | set(b)], "k string")
    got = {
        r["k"]: r["maybe_present"]
        for r in bloom_contains(probes, sk, "k", m_bits=1 << 10, n_hashes=4).collect()
    }
    for k in set(a):
        assert got[k], f"false negative for member {k!r}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(a=skeys, b=skeys, c=skeys)
def test_kmv_merge_associative_property(spark, a, b, c):
    """merge(merge(A,B),C) == build(A+B+C) for ANY overlapping splits —
    the KMV determinism contract that makes epoch re-ingest safe."""
    from fluent_server_spark.operators.sketches import bottomk_build, bottomk_merge

    k = 16

    def df(keys):
        return spark.createDataFrame([(x,) for x in keys], "v string")

    m = bottomk_merge(
        bottomk_merge(bottomk_build(df(a), "v", k=k),
                      bottomk_build(df(b), "v", k=k), k=k),
        bottomk_build(df(c), "v", k=k),
        k=k,
    )
    direct = bottomk_build(df(a + b + c), "v", k=k)
    assert {(r["hkey"], r["value"]) for r in m.collect()} == {
        (r["hkey"], r["value"]) for r in direct.collect()
    }


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(a=skeys, b=skeys)
def test_cms_estimate_dominates_truth_property(spark, a, b):
    """Merged count-min estimates never undercount ANY key of the
    concatenated stream (one-sided error survives merging)."""
    from collections import Counter

    from fluent_server_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    da = spark.createDataFrame([(k,) for k in a], "k string")
    db = spark.createDataFrame([(k,) for k in b], "k string")
    merged = count_min_merge(
        count_min_build(da, "k", depth=3, width=64),
        count_min_build(db, "k", depth=3, width=64),
    )
    truth = Counter(a) + Counter(b)
    keys = spark.createDataFrame([(k,) for k in truth], "k string")
    est = {
        r["k"]: r["estimate"]
        for r in count_min_estimate(merged, keys, "k", depth=3, width=64).collect()
    }
    for k, t in truth.items():
        assert est[k] >= t, (k, est[k], t)


# ------------------------------------------------------ preference pairs


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),                      # prompt group
            st.integers(0, 10**6),                  # response id
            st.floats(-100, 100, allow_nan=False),  # score (ties likely
        ),                                          # via small int part)
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 4),
    st.floats(0, 5, allow_nan=False),
)
def test_preference_pairs_match_python_oracle(spark, rows, k, margin):
    from fluent_server_spark.operators.preference import build_preference_pairs

    df = spark.createDataFrame(rows, "p int, rid long, score double")
    got = {
        (r["p"], r["chosen_id"], r["rejected_id"])
        for r in build_preference_pairs(
            df, ["p"], "rid", "score", k=k, margin=margin
        ).collect()
    }
    want = set()
    by_p: dict = {}
    for p, rid, s in rows:
        by_p.setdefault(p, []).append((rid, s))
    for p, cands in by_p.items():
        ranked = sorted(cands, key=lambda x: (-x[1], x[0]))
        n = len(ranked)
        for ci in range(min(k, n)):
            for ri in range(max(n - k, 0), n):
                if ci < ri and ranked[ci][1] - ranked[ri][1] > margin:
                    want.add((p, ranked[ci][0], ranked[ri][0]))
    assert got == want


# --------------------------------------------------- cluster-safe splits


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 200)),
        min_size=0,
        max_size=80,
    ),
    st.floats(0.05, 0.95),
)
def test_cluster_splits_never_leak_on_random_graphs(spark, edges, w_eval):
    """For ANY random near-dup graph: connected components + the split
    assigner put every edge's endpoints in the same split."""
    from pyspark.sql import functions as F

    from fluent_server_spark.operators.dedup import connected_components
    from fluent_server_spark.operators.sampling import cluster_safe_splits

    docs = spark.range(201).withColumnRenamed("id", "doc_id")
    if edges:
        pdf = spark.createDataFrame(
            [(a, b) for a, b in edges], "a_id long, b_id long"
        ).filter(F.col("a_id") != F.col("b_id"))
        clusters = connected_components(pdf).select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
        )
    else:
        clusters = spark.createDataFrame(
            [], "doc_id long, cluster_id long"
        )
    out = cluster_safe_splits(
        docs, clusters, "doc_id",
        {"train": 1.0 - w_eval, "eval": w_eval}, salt="prop",
    )
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(split_of) == 201
    for a, b in edges:
        if a != b:
            assert split_of[a] == split_of[b], (a, b)


# ------------------------------------------- banded hamming kernel


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2,
        max_size=40,
    ),
    st.sampled_from([(3, 4), (7, 8), (1, 2)]),
)
def test_banded_hamming_matches_brute_oracle(spark, sigs, ham_bands):
    """banded_hamming_pairs == the brute-force hamming pair set for
    every max_hamming < n_bands (the pigeonhole recall guarantee),
    on RANDOM 64-bit signatures including duplicates and extremes."""
    from fluent_server_spark.operators.dedup import banded_hamming_pairs

    max_hamming, n_bands = ham_bands
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id long, sig long"
    )
    got = {
        (r.a_id, r.b_id, r.hamming)
        for r in banded_hamming_pairs(
            df, id_col="id", sig_col="sig", max_hamming=max_hamming,
            n_bands=n_bands,
        ).collect()
    }
    M = (1 << 64) - 1
    want = set()
    for a in range(len(sigs)):
        for b in range(a + 1, len(sigs)):
            d = bin((sigs[a] & M) ^ (sigs[b] & M)).count("1")
            if d <= max_hamming:
                want.add((a, b, d))
    assert got == want


# ------------------------------------------------- SQ8 quantization


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_sq8_roundtrip_bound_property(spark, vecs):
    """For RANDOM corpora (duplicates, constants, extremes included):
    every reconstructed value is within (max-min)/255/2 of the
    original, and degenerate dimensions decode exactly."""
    import numpy as np

    from fluent_server_spark.operators.quantize import (
        dequantize_embeddings,
        embedding_bounds,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    mins, maxs = embedding_bounds(df, 4)
    deq = dequantize_embeddings(
        quantize_embeddings(df, mins, maxs).select("vec_id", "q_embedding"),
        mins, maxs, out_col="d",
    )
    got = {r.vec_id: list(r.d) for r in deq.collect()}
    bound = [(mx - mn) / 255.0 / 2.0 + 1e-9 * max(abs(mx), abs(mn), 1.0)
             for mn, mx in zip(mins, maxs)]
    for i, v in enumerate(vecs):
        for j in range(4):
            err = abs(got[i][j] - float(v[j]))
            assert err <= bound[j], (i, j, err, bound[j])
            if maxs[j] == mins[j]:
                assert got[i][j] == mins[j]
