"""Substring-level exact deduplication — the training-data operator of
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better", ACL): remove every CHARACTER SPAN of length >= k that occurs
elsewhere in the corpus, keeping only the canonical first occurrence.
Document-level dedup (operators/dedup.py) misses this entirely: two
distinct pages sharing a boilerplate paragraph are not near-dups, but
the paragraph still trains the model twice.

Spark-first shape (the published implementation builds a suffix array;
a distributed engine gets the same >= k spans from stride-1 k-gram
fingerprints):

1. FINGERPRINT (narrow): every position i of every doc emits
   (doc, i, xxhash64(text[i : i+k])) — total rows == total corpus chars,
   which is the honest cost of substring dedup at any scale (the suffix
   array is O(total chars) too). The xxhash64 fingerprint stands in for
   the gram (2^-64 collision risk, same contract as the hashed-shingle
   ops).
2. CANONICALIZE (one shuffle on the 8-byte hash): per gram, occurrences
   ranked by (doc, pos); rank 1 is the canonical occurrence — a
   deterministic global "first".
3. MARK (same window): every occurrence ranked past 1 is a copy of a
   duplicated gram and marks its k chars for removal. Overlapping marks
   chain, so a duplicated span of ANY length >= k is covered end-to-end
   while its canonical copy is untouched (the canonical copy's grams
   rank first, never marked).
4. MERGE (one collect per doc): gaps-and-islands over the sorted
   marked [pos, pos+k) intervals, as narrow array ops -> maximal
   removal spans.
5. CUT (narrow): rebuild each doc's text with a Catalyst fold over its
   sorted spans — no Python in the plan anywhere.

Semantics notes, pinned against a pure-Python reference in
tests/test_substring_dedup.py:
* spans shorter than k are invisible (the k-gram resolution — same as
  the published approach's minimum match length);
* within-doc repetition dedups too (second occurrence removed);
* the canonical occurrence is per-GRAM, so two long duplicated spans
  that partially overlap resolve exactly as the gram marks dictate —
  deterministic, engine-independent.

Skew note for 100 TB: a gram repeated across millions of docs (empty
lines, boilerplate headers) makes steps 2-3 hot on one hash key; the
aggregation is partial (map-side combine collapses per-partition
counts), and the join back is hash -> many rows, which Spark handles as
an ordinary skewed equi-join (AQE skew split). The marked-position
stream never exceeds total corpus chars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gram_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 20
) -> DataFrame:
    """(id, pos, h): stride-1 k-gram fingerprints; pos is 1-based.
    Docs shorter than k emit nothing (no span >= k can start in them)."""
    text = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(text) - k + 1),
        lambda i: F.struct(
            i.alias("pos"), F.xxhash64(text.substr(i, F.lit(k))).alias("h")
        ),
    )
    return (
        docs.filter(F.length(text) >= k)
        .select(id_col, F.explode(grams).alias("g"))
        .select(id_col, "g.pos", "g.h")
    )


def winnowed_gram_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
) -> DataFrame:
    """(id, pos, h): WINNOWING fingerprint selection (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 — the standard mitigation when
    stride-1 is too hot): of every window of `w` consecutive gram
    hashes keep the rightmost minimum. Expected density is 2/(w+1) of
    stride-1, so the canonicalize shuffle carries ~(w+1)/2 x fewer rows
    at the same O(total chars) narrow scan cost.

    Approximation contract (vs the exact stride-1 grams):
    * selection is CONTENT-DEFINED — a position's fate depends only on
      the k+w-1 chars ending at its gram's last char, so both copies of
      any duplicated region pick IDENTICAL interior fingerprints and
      the mark->merge->cut machinery works unchanged;
    * duplicated spans of length >= w + k - 1 are guaranteed detected
      (every w consecutive grams contain a selection); shorter ones may
      be missed, and up to ~w-1 chars at a span's edges can survive the
      cut (the first/last selected gram needn't sit at the span edge);
    * choose w <= k so consecutive selected marks ([pos, pos+k) spaced
      <= w apart) always chain into one island inside a duplicated
      region.

    Plan shape: the selection runs INSIDE the per-doc gram array
    (transform + slice + array_min, all codegen) before the explode —
    no exchange is added; the O(w) window min per position is CPU, not
    shuffle. The gram array is materialized as a column first so the
    two references below (transform input + slice inside the lambda)
    stay one evaluation per row (CollapseProject keeps multi-referenced
    non-trivial aliases un-inlined)."""
    text = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(text) - k + 1),
        lambda i: F.struct(
            F.xxhash64(text.substr(i, F.lit(k))).alias("h"),
            (-i).alias("negpos"),  # min(struct) tie-break => RIGHTMOST pos
        ),
    )
    with_g = docs.filter(F.length(text) >= k).withColumn("_grams", grams)
    garr = F.col("_grams")
    sel_arr = F.array_distinct(
        F.transform(
            garr,
            # window ENDING at 0-based index e covers 1-based positions
            # [max(e+2-w, 1), e+1]; its struct-min is the rightmost
            # minimal hash — the paper's selection rule
            lambda _g, e: F.array_min(
                F.slice(
                    garr,
                    F.greatest(e + 2 - w, F.lit(1)),
                    F.least(e + 1, F.lit(w)),
                )
            ),
        )
    )
    return (
        with_g.select(id_col, F.explode(sel_arr).alias("s"))
        .select(
            id_col,
            (-F.col("s.negpos")).cast("int").alias("pos"),
            "s.h",
        )
    )


def _marked_positions(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    winnow_w: int | None,
) -> DataFrame:
    """(id, pos): every non-canonical occurrence of a duplicated gram —
    the mark stream feeding the islands merge.

    ONE exchange of the gram stream on `h` and a single row_number per
    gram (r6): a non-canonical occurrence is simply `rn > 1` (rn 2 can
    only exist when the gram is duplicated, so the count predicate is
    implied; the ordering (id, pos) is the global-first canonical rule).
    The r5 shape — groupBy canonical + equi-join mark — evaluated the
    O(total chars) gram explode TWICE and shuffled it twice (measured
    ~12 s at sf1.0, 2.6M duplicated grams / 7.9M marked occurrences,
    far too many for a broadcast); this halves the heavy volume
    (measured ~7 s)."""
    if winnow_w is None:
        g = gram_positions(docs, id_col, text_col, k)
    else:
        g = winnowed_gram_positions(docs, id_col, text_col, k, winnow_w)
    who = Window.partitionBy("h").orderBy(id_col, "pos")
    return (
        g.withColumn("_rn", F.row_number().over(who))
        .filter(F.col("_rn") > 1)
        .select(id_col, "pos")
    )


def _span_arrays(marked: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id, _spans): the maximal removal spans per doc as ONE sorted
    array column, computed by a narrow array pass over the per-doc
    sorted mark positions instead of the r5 islands machinery (r6).

    The r5 shape ran gaps-and-islands as a Sort + two Window passes +
    a (doc, island) HashAggregate + a second collect_list aggregate —
    five operators after the doc_id exchange. But once a doc's marks
    sit in one sorted array `ps`, the islands are fully determined
    positionally (guide §2.4 — one exchange, then narrow work):

    * a mark STARTS an island iff it is the first, or it begins after
      the previous mark's span ends (ps[i] > ps[i-1] + k — the previous
      max end IS ps[i-1] + k when positions are sorted);
    * a mark ENDS an island iff it is the last, or the next mark begins
      after its span ends; its island ends at ps[i] + k.

    Both filters preserve array order, so zip_with(starts, ends) pairs
    the j-th start with the j-th end — exactly the (min pos, max pos + k)
    the islands groupBy produced, already sorted by start. The when()
    guards keep element_at off index 0 / past the end (ANSI-safe).
    Pinned against the pure-Python reference in
    tests/test_substring_dedup.py."""
    ps = F.col("_ps")
    starts = F.filter(
        ps,
        lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
            x > F.element_at(ps, i) + k
        ),
    )
    ends = F.transform(
        F.filter(
            ps,
            lambda x, i: F.when(i == F.size(ps) - 1, F.lit(True)).otherwise(
                F.element_at(ps, i + 2) > x + k
            ),
        ),
        lambda x: x + k,
    )
    return marked.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_ps")
    ).select(
        F.col(id_col),
        F.zip_with(
            starts, ends, lambda s, e: F.struct(s.alias("start"), e.alias("end"))
        ).alias("_spans"),
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    winnow_w: int | None = None,
) -> DataFrame:
    """(id, start, end): maximal char spans to REMOVE — every occurrence
    of duplicated >= k-grams except the canonical (global-first) one,
    merged per doc. start is 1-based, end exclusive. `winnow_w` switches
    the fingerprint stage from exact stride-1 grams to the winnowing
    selection (see winnowed_gram_positions for the approximation
    contract). The spans are dedup_substrings' cuts, exploded from the
    per-doc arrays of _span_arrays."""
    return (
        _span_arrays(
            _marked_positions(docs, id_col, text_col, k, winnow_w), id_col, k
        )
        .select(F.col(id_col), F.explode("_spans").alias("_sp"))
        .select(id_col, "_sp.start", "_sp.end")
    )


def dedup_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    winnow_w: int | None = None,
) -> DataFrame:
    """The corpus with duplicated >= k-char spans CUT (canonical first
    occurrences kept): adds `text_dedup` and `n_removed_chars`. Docs
    with nothing duplicated pass through byte-identical. `winnow_w`
    selects the winnowing approximation path (sparser fingerprints,
    ~(w+1)/2 x less canonicalize-shuffle volume; spans >= w+k-1
    guaranteed, up to ~w-1 chars of edge slop per span).

    r6: the spans arrive directly as the per-doc sorted array from
    _span_arrays (the fold islands path already holds them in array
    form), so the r5 explode -> re-collect_list round trip is gone —
    the mark stream is aggregated ONCE per doc and goes straight into
    the cut fold."""
    per_doc = _span_arrays(
        _marked_positions(docs, id_col, text_col, k, winnow_w), id_col, k
    )
    text = F.col(text_col)
    # fold over sorted spans: carry (kept text so far, cursor); each span
    # appends the untouched slice before it and jumps the cursor past it
    init = F.struct(F.lit("").alias("acc"), F.lit(1).alias("cur"))
    step = lambda a, s: F.struct(  # noqa: E731
        F.concat(a["acc"], text.substr(a["cur"], s["start"] - a["cur"])).alias(
            "acc"
        ),
        s["end"].alias("cur"),
    )
    tail = lambda a: F.concat(  # noqa: E731
        a["acc"], text.substr(a["cur"], F.length(text) - a["cur"] + 1)
    )
    cut = F.aggregate(F.col("_spans"), init, step, tail)
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn(
            "text_dedup",
            F.when(F.col("_spans").isNull(), text).otherwise(cut),
        )
        .withColumn(
            "n_removed_chars",
            F.coalesce(F.length(text) - F.length("text_dedup"), F.lit(0)).cast(
                "int"
            ),
        )
        .drop("_spans")
    )
