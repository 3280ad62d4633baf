"""Substring-level dedup (Lee et al. 2022 shape) vs a pure-Python
reference implementing the identical k-gram-marking semantics."""

from __future__ import annotations

import random

import pytest

from fluent_server_spark.operators.substring_dedup import (
    dedup_substrings,
    duplicate_spans,
)


def _py_spans(docs: dict[int, str], k: int) -> dict[int, list[list[int]]]:
    occ: dict[str, list[tuple[int, int]]] = {}
    for did in sorted(docs):
        t = docs[did]
        for i in range(len(t) - k + 1):
            occ.setdefault(t[i : i + k], []).append((did, i + 1))
    marks: dict[int, set[int]] = {did: set() for did in docs}
    for lst in occ.values():
        if len(lst) > 1:
            canon = min(lst)
            for o in lst:
                if o != canon:
                    marks[o[0]].add(o[1])
    out = {}
    for did in docs:
        spans: list[list[int]] = []
        for p in sorted(marks[did]):
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        out[did] = spans
    return out


def _py_reference(docs: dict[int, str], k: int) -> dict[int, str]:
    out = {}
    for did, spans in _py_spans(docs, k).items():
        t = docs[did]
        parts, cur = [], 1
        for s, e in spans:
            parts.append(t[cur - 1 : s - 1])
            cur = e
        parts.append(t[cur - 1 :])
        out[did] = "".join(parts)
    return out


def _run(spark, docs: dict[int, str], k: int) -> dict[int, str]:
    sdf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    return {
        r["doc_id"]: r["text_dedup"]
        for r in dedup_substrings(sdf, k=k).collect()
    }


def test_shared_paragraph_removed_from_later_doc(spark):
    boiler = "all rights reserved contact us at example dot com for details"
    docs = {
        0: "first page content. " + boiler + " and something unique here",
        1: "second page intro. " + boiler + " plus its own distinct tail",
        2: "totally unrelated document with no shared content at all",
    }
    got = _run(spark, docs, k=20)
    want = _py_reference(docs, 20)
    assert got == want
    assert boiler in got[0]  # canonical first occurrence kept
    assert boiler not in got[1]  # later copy cut
    assert got[2] == docs[2]  # untouched doc byte-identical


def test_within_doc_repetition_dedups(spark):
    rep = "the same sentence repeated verbatim inside one document"
    docs = {0: rep + " -- middle filler text -- " + rep}
    got = _run(spark, docs, k=20)
    want = _py_reference(docs, 20)
    assert got == want
    assert got[0].count(rep) == 1


def test_short_and_unique_docs_pass_through(spark):
    docs = {0: "tiny", 1: "x" * 19, 2: "a perfectly unique sentence nothing shares"}
    sdf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in dedup_substrings(sdf, k=20).collect()}
    for i, t in docs.items():
        assert rows[i]["text_dedup"] == t
        assert rows[i]["n_removed_chars"] == 0


def test_spans_merge_overlapping_marks(spark):
    # a 60-char duplicated block -> its 41 overlapping 20-gram marks in
    # the copy must merge into ONE [pos, pos+60) span
    block = "0123456789" * 6
    docs = {0: "A" + block + "B", 1: "C" + block + "D"}
    spans = {
        (r["doc_id"], r["start"], r["end"])
        for r in duplicate_spans(
            spark.createDataFrame(
                [(i, t) for i, t in docs.items()], "doc_id long, text string"
            ),
            k=20,
        ).collect()
    }
    # within-block self-repetition also duplicates grams INSIDE doc 0,
    # so doc 0 gets marks too; the copy in doc 1 must be one whole span
    assert (1, 2, 62) in spans


def test_randomized_against_reference(spark):
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta", "theta"]
    shared = " ".join(rng.choice(words) for _ in range(12))
    docs = {}
    for i in range(12):
        body = " ".join(rng.choice(words) for _ in range(rng.randint(5, 30)))
        if i % 3 == 0:
            body = body + " " + shared
        if i % 4 == 0:
            body = shared + " " + body
        docs[i] = body
    for k in (12, 25):
        assert _run(spark, docs, k) == _py_reference(docs, k)

    # a 40-doc corpus with a planted boilerplate paragraph in every third
    # doc and a repeated head in many: spans and cut text vs the reference
    rng = random.Random(77)
    boiler = "shared boilerplate paragraph appearing in many documents here"
    docs = {}
    for i in range(40):
        body = "".join(rng.choice("abcdefg ") for _ in range(rng.randint(10, 160)))
        docs[i] = body + (boiler if i % 3 == 0 else "") + body[: rng.randint(0, 30)]
    assert _run(spark, docs, 12) == _py_reference(docs, 12)
    sdf = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.start, r.end) for r in duplicate_spans(sdf, k=12).collect()
    )
    want = sorted(
        (d, s, e) for d, spans in _py_spans(docs, 12).items() for s, e in spans
    )
    assert got == want and len(want) > 0


def test_winnowing_matches_paper_selection_rule(spark):
    """The array-world selection must equal the SIGMOD'03 rule computed
    in python over the SAME hashes (a window ends at every gram, head
    windows truncated): per window keep the rightmost minimal hash,
    union over windows. Also pins the w-window guarantee and that the
    selection is strictly sparser than stride-1."""
    from fluent_server_spark.operators.substring_dedup import (
        gram_positions,
        winnowed_gram_positions,
    )

    rng = random.Random(11)
    docs = {
        i: "".join(rng.choice("abcdef ") for _ in range(rng.randint(30, 200)))
        for i in range(6)
    }
    sdf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    k, w = 8, 5
    by_doc: dict[int, dict[int, int]] = {}
    for r in gram_positions(sdf, k=k).collect():
        by_doc.setdefault(r["doc_id"], {})[r["pos"]] = r["h"]
    want = set()
    for did, posmap in by_doc.items():
        poss = sorted(posmap)
        for e in range(len(poss)):
            window = poss[max(0, e - w + 1): e + 1]
            best = min(window, key=lambda p: (posmap[p], -p))
            want.add((did, best, posmap[best]))
    got = {
        (r["doc_id"], r["pos"], r["h"])
        for r in winnowed_gram_positions(sdf, k=k, w=w).collect()
    }
    assert got == want
    n_all = sum(len(m) for m in by_doc.values())
    assert len(got) < 0.6 * n_all  # expected density ~2/(w+1)
    # the paper's guarantee: every w consecutive grams contain a pick
    for did, posmap in by_doc.items():
        sel = sorted(p for d, p, _ in got if d == did)
        poss = sorted(posmap)
        for s in range(len(poss) - w + 1):
            assert any(p in sel for p in poss[s: s + w]), (did, s)


def test_winnowed_dedup_cuts_long_spans_with_bounded_edge_slop(spark):
    """Approximation contract of the winnowed path: a duplicated region
    much longer than w+k-1 is cut from the non-canonical copy except
    bounded edge slop; removal never exceeds the exact path's, stays
    inside the shared region, and unique docs pass through untouched."""
    rng = random.Random(3)

    def rand_text(n: int) -> str:
        return "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(n)
        )

    shared = rand_text(300)
    docs = {
        0: rand_text(40) + shared + rand_text(35),
        1: rand_text(90) + shared + rand_text(10),
        2: rand_text(120),
    }
    k, w = 20, 8
    sdf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    winnowed = {
        r["doc_id"]: r for r in dedup_substrings(sdf, k=k, winnow_w=w).collect()
    }
    exact = {r["doc_id"]: r for r in dedup_substrings(sdf, k=k).collect()}

    assert winnowed[2]["text_dedup"] == docs[2]
    assert winnowed[0]["text_dedup"] == docs[0]  # canonical copy kept whole
    for i in (0, 1, 2):
        assert winnowed[i]["n_removed_chars"] <= exact[i]["n_removed_chars"]
    # doc 1's copy: interior guaranteed cut, <= bounded slop at edges
    assert winnowed[1]["n_removed_chars"] >= len(shared) - (k + 3 * w)
    # marks can only come from grams identical in both docs, i.e. fully
    # inside the shared region: head and tail survive byte-identical
    assert winnowed[1]["text_dedup"].startswith(docs[1][:90])
    assert winnowed[1]["text_dedup"].endswith(docs[1][90 + len(shared):])


def test_winnowed_selection_adds_no_exchange(spark):
    """The winnowing window-min runs inside the per-doc gram array
    (transform + slice + array_min) BEFORE the explode — it must not
    introduce any exchange over the stride-1 plan (the density win is
    pure shuffle-volume reduction, not traded for a new shuffle)."""
    from fluent_server_spark.operators.substring_dedup import (
        winnowed_gram_positions,
    )

    sdf = spark.createDataFrame(
        [(0, "some text long enough to emit twenty-char grams")],
        "doc_id long, text string",
    )
    plan = (
        winnowed_gram_positions(sdf, k=20, w=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
