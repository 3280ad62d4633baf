"""Training-data queries over the driver `documents` table: dedup family
+ text analysis. EVERY query here carries a DuckDB oracle — including
MinHash/SimHash/lang-id, whose hashes are built on md5 (not engine
hashes) precisely so the full LSH pipeline is replayable in ANSI-ish SQL
(generated below). Recall-vs-exact properties are additionally pinned in
pytest (tests/test_dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fluent_server_spark.functions.text import (
    LANG_MARKERS,
    _LANG_ORDER,
    lang_id_udf,
    quality_score,
    stopword_count,
    punct_count,
    token_count,
    winnow_fingerprint,
    STOPWORDS,
)
from fluent_server_spark.operators.dedup import (
    _MERSENNE,
    exact_dedup,
    jaccard_join_blocks,
    minhash_coeffs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from fluent_server_spark.queries import QuerySpec, load_table, spread

_NORM_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP_DOCS = f"""
SELECT {_NORM_SQL} AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-quality profile in one result: token counting +
    punctuation/stopword ratios + the composite quality score (narrow,
    vectorized, functions/text.py) JOINED with the Gopher-style
    repetition signals (top-word share, duplicate-word fraction — one
    explode + two-level aggregation, integer counts until the final
    division, operators/textstats.py)."""
    from fluent_server_spark.operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    tok = docs.select(
        "doc_id",
        token_count(text).alias("n_tokens"),
        stopword_count(text).alias("n_stopwords"),
        punct_count(text).alias("n_punct"),
        quality_score(text, F.col("n_chars")).alias("quality"),
    )
    rep = repetition_stats(spread(docs))
    return tok.join(rep, "doc_id")


_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)
SQL_DOC_TEXT_STATS = f"""
WITH tok AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x IN ({_STOP_IN}))) AS n_stopwords,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         round(0.3 * least(CAST(n_chars AS DOUBLE), 2000.0) / 2000.0
             + 0.4 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                            / greatest(CAST(n_chars AS DOUBLE), 1.0))
             + 0.3 * CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                          x -> x IN ({_STOP_IN}))) AS DOUBLE)
                     / greatest(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 1.0),
             6) AS quality
  FROM documents),
w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
      FROM documents),
pw AS (SELECT doc_id, w, count(*) AS c FROM w WHERE w <> '' GROUP BY doc_id, w),
rep AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         count(*) AS n_distinct_words,
         round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_word_frac,
         round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS dup_word_frac
  FROM pw GROUP BY doc_id)
SELECT tok.doc_id, tok.n_tokens, tok.n_stopwords, tok.n_punct, tok.quality,
       rep.n_words, rep.n_distinct_words, rep.top_word_frac, rep.dup_word_frac
FROM tok JOIN rep ON tok.doc_id = rep.doc_id
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", winnow_fingerprint(F.col("text")).alias("winnow_fp")
    )


SQL_DOC_FINGERPRINTS = """
SELECT doc_id,
       list_aggregate(
         list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                        i -> md5(substr(text, i, 8))),
         'min') AS winnow_fp
FROM documents
"""


def q_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(token_count(F.col("text"))), 4).alias("avg_tokens"),
    )


SQL_LANG_SOURCE_ROLLUP = """
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 4) AS avg_tokens
FROM documents GROUP BY lang, source
"""

JACCARD_THRESHOLD = 0.2


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via the block-pair overlap
    counting join (operators/dedup.py::jaccard_join_blocks): each task
    counts shared hashed grams for one pair of doc blocks in numpy and
    emits only pairs at or above t. The oracle below is the IDENTICAL
    hashed-gram jaccard as plain all-pairs SQL. The O(n^2) crossJoin
    variant survives only as the pytest baseline (`ngram_jaccard_pairs`
    operator) — it is not a registry/bench query shape."""
    return jaccard_join_blocks(
        spread(load_table(spark, sf_dir, "documents")), threshold=JACCARD_THRESHOLD
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH sh AS (
  SELECT doc_id,
         -- list_slice clamps at the list end, matching Spark's
         -- F.slice/concat_ws partial shingle for docs with < n words
         -- (w[i+2] indexing would yield NULL grams there and diverge);
         -- grams hash to the same 60-bit md5 ints the Spark side
         -- verifies on (operators/dedup.py::with_hashed_shingles)
         list_distinct(list_transform(
           list_transform(
             range(1, greatest(len(w) - 2, 1) + 1),
             i -> array_to_string(list_slice(w, i, i + 2), ' ')),
           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS grams
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents WHERE text IS NOT NULL)
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE),
             6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
      >= {JACCARD_THRESHOLD}
"""


def q_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dups (scale path). Oracled hard: every hash in
    the pipeline (shingle hash, permutations, band buckets) is md5-based
    so the generated SQL below replays the IDENTICAL algorithm in DuckDB
    — signature, banding, candidate join, exact verify."""
    return minhash_lsh_pairs(
        spread(load_table(spark, sf_dir, "documents")), threshold=JACCARD_THRESHOLD
    )


def _sql_minhash_neardup(
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 16,
    threshold: float = JACCARD_THRESHOLD,
    seed: int = 1337,
) -> str:
    """Generate the DuckDB twin of minhash_lsh_pairs: same coefficients,
    same 60-bit md5 shingle hash, same band buckets, same verify."""
    p = _MERSENNE
    rpb = n_perm // n_bands
    mins = ",\n         ".join(
        f"list_min(list_transform(hg, x -> (((x % {p}) * {a}) + {b}) % {p}))"
        for a, b in minhash_coeffs(n_perm, seed)
    )
    return f"""
WITH wl AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
            FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ws) - {n - 1}, 1) + 1),
           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' '))) AS g
  FROM wl),
hs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           g, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hg
  FROM grams WHERE len(g) > 0),
sig AS (SELECT doc_id, hg,
        [{mins}] AS sig
        FROM hs),
bands AS (
  SELECT doc_id, t.r AS band,
         CAST('0x' || substr(md5(array_to_string(
           list_slice(sig, t.r * {rpb} + 1, (t.r + 1) * {rpb}), ',')), 1, 15)
           AS BIGINT) AS bucket
  FROM sig, range({n_bands}) t(r)),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
v AS (
  SELECT c.a_id, c.b_id,
         round(CAST(len(list_intersect(ha.hg, hb.hg)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(ha.hg, hb.hg))) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN hs ha ON ha.doc_id = c.a_id
  JOIN hs hb ON hb.doc_id = c.b_id)
SELECT a_id, b_id, jaccard FROM v WHERE jaccard >= {threshold}
"""


SQL_MINHASH_NEARDUP_PAIRS = _sql_minhash_neardup()


NEW_DOC_PRED = "doc_id % 5 = 0"  # deterministic "today's increment" slice


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the `doc_id % 5 == 0` slice plays today's
    ingest batch, the rest plays the standing corpus — cross-set LSH
    candidates only (never corpus x corpus), the production shape of
    dedup-on-ingest at 100 TB."""
    from fluent_server_spark.operators.dedup import minhash_lsh_pairs_against

    docs = spread(load_table(spark, sf_dir, "documents"))
    new = docs.filter(F.expr(NEW_DOC_PRED))
    corpus = docs.filter(~F.expr(NEW_DOC_PRED))
    return minhash_lsh_pairs_against(new, corpus, threshold=JACCARD_THRESHOLD)


def _sql_incremental_neardup(
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 16,
    threshold: float = JACCARD_THRESHOLD,
    seed: int = 1337,
) -> str:
    """DuckDB twin of q_incremental_neardup: identical signatures/bands
    (per-doc, so computing them over the union then splitting at the
    candidate join is equivalent to the two-sided Spark plan)."""
    p = _MERSENNE
    rpb = n_perm // n_bands
    mins = ",\n         ".join(
        f"list_min(list_transform(hg, x -> (((x % {p}) * {a}) + {b}) % {p}))"
        for a, b in minhash_coeffs(n_perm, seed)
    )
    return f"""
WITH wl AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
            FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ws) - {n - 1}, 1) + 1),
           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' '))) AS g
  FROM wl),
hs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           g, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hg
  FROM grams WHERE len(g) > 0),
sig AS (SELECT doc_id, hg,
        [{mins}] AS sig
        FROM hs),
bands AS (
  SELECT doc_id, t.r AS band,
         CAST('0x' || substr(md5(array_to_string(
           list_slice(sig, t.r * {rpb} + 1, (t.r + 1) * {rpb}), ',')), 1, 15)
           AS BIGINT) AS bucket
  FROM sig, range({n_bands}) t(r)),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id % 5 = 0 AND NOT (b.doc_id % 5 = 0)),
v AS (
  SELECT c.new_id, c.corpus_id,
         round(CAST(len(list_intersect(ha.hg, hb.hg)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(ha.hg, hb.hg))) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN hs ha ON ha.doc_id = c.new_id
  JOIN hs hb ON hb.doc_id = c.corpus_id)
SELECT new_id, corpus_id, jaccard FROM v WHERE jaccard >= {threshold}
"""


SQL_INCREMENTAL_NEARDUP = _sql_incremental_neardup()


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment — the step that actually dedups a
    corpus: minhash pairs -> connected components (A~B, B~C collapse to
    one keeper even when A~C was never emitted) -> (doc_id, cluster_id =
    min member, cluster_size). Oracled end-to-end: DuckDB replays the
    identical minhash pipeline and closes it transitively with a
    recursive CTE."""
    from pyspark.sql import Window

    from fluent_server_spark.operators.dedup import connected_components

    pairs = minhash_lsh_pairs(
        spread(load_table(spark, sf_dir, "documents")), threshold=JACCARD_THRESHOLD
    )
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    return comp.withColumn("cluster_size", F.count(F.lit(1)).over(w))


SQL_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  SELECT a_id, b_id FROM ({SQL_MINHASH_NEARDUP_PAIRS}) mh
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
reach AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, r.label AS label
  FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""

MAX_HAMMING = 6


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        spread(load_table(spark, sf_dir, "documents")), max_hamming=MAX_HAMMING
    )


def _sql_simhash_neardup(max_hamming: int = MAX_HAMMING) -> str:
    """DuckDB twin of simhash_pairs: per-word 64-bit md5 hash (first 8
    digest bytes big-endian == the Python UDF's int.from_bytes), signed
    +-1 bit accumulation, 4x16-bit band chunks, banded candidate join,
    hamming verify via bit_count(xor)."""
    accs = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS a{b}"
        for b in range(64)
    )
    chunk_exprs = []
    for c in range(4):
        bits = " + ".join(
            f"(CASE WHEN a{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        chunk_exprs.append(f"({bits}) AS c{c}")
    chunks = ",\n         ".join(chunk_exprs)
    # two's-complement reassembly of the signed 64-bit signature from the
    # 4 chunks (bit 63 folds in as the int64 minimum, avoiding overflow)
    sim = (
        "CAST(c0 AS BIGINT) + CAST(c1 AS BIGINT) * 65536 "
        "+ CAST(c2 AS BIGINT) * 4294967296 "
        "+ CAST(c3 % 32768 AS BIGINT) * 281474976710656 "
        "+ CASE WHEN c3 >= 32768 THEN (-9223372036854775807 - 1) ELSE 0 END"
    )
    return f"""
WITH wl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents),
wx AS (SELECT doc_id, unnest(ws) AS wrd FROM wl),
wh AS (SELECT doc_id, CAST('0x' || substr(md5(wrd), 1, 16) AS UBIGINT) AS h
       FROM wx),
acc AS (
  SELECT doc_id,
         {accs}
  FROM wh GROUP BY doc_id),
chunked AS (
  SELECT doc_id,
         {chunks}
  FROM acc),
sig AS (
  SELECT d.doc_id,
         coalesce(c.c0, 0) AS c0, coalesce(c.c1, 0) AS c1,
         coalesce(c.c2, 0) AS c2, coalesce(c.c3, 0) AS c3,
         coalesce({sim}, 0) AS sim
  FROM documents d LEFT JOIN chunked c USING (doc_id))
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id
 AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


SQL_SIMHASH_NEARDUP_PAIRS = _sql_simhash_neardup()


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_udf(F.col("text")).alias("lang_guess"))


def _sql_doc_lang_id() -> str:
    """DuckDB twin of lang_id_udf: marker-token membership counts per
    language, argmax with tie-break by language code order, 'und' on no
    hit — the same token-membership semantics the UDF now implements
    (chosen over a boundary regex exactly so RE2 can express it)."""
    count_cols = []
    for lang in _LANG_ORDER:
        markers = ", ".join(f"'{m}'" for m in sorted(LANG_MARKERS[lang]))
        count_cols.append(
            f"len(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),"
            f" x -> x IN ({markers}))) AS c_{lang}"
        )
    counts = ",\n         ".join(count_cols)
    g = "greatest(" + ", ".join(f"c_{lang}" for lang in _LANG_ORDER) + ")"
    whens = " ".join(f"WHEN c_{lang} = {g} THEN '{lang}'" for lang in _LANG_ORDER)
    return f"""
WITH c AS (
  SELECT doc_id,
         {counts}
  FROM documents)
SELECT doc_id,
       CASE WHEN {g} = 0 THEN 'und' {whens} END AS lang_guess
FROM c
"""


SQL_DOC_LANG_ID = _sql_doc_lang_id()


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5 merge of the three per-doc-grain profile queries —
    doc_text_stats (token/stopword/punct counts + quality + Gopher
    repetition signals), doc_lang_id (marker-token language guess), and
    doc_fingerprints (winnowing min-hash fingerprint) — into ONE scan:
    every parent's claim columns survive verbatim, and the merged plan
    is strictly better at 100 TB (the three parents each re-scanned
    documents for per-row narrow projections; here all narrow features
    ride one select, with only the repetition aggregation joining back
    on the doc_id key it already aggregates on). The parents stay
    callable for pytest and come back as driver-checkable views via the
    un-merge toggle (queries/unmerged.py)."""
    from fluent_server_spark.operators.textstats import (
        repetition_stats_narrow_cols,
    )

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    rep = repetition_stats_narrow_cols("text")
    # r6: ONE scan, ONE narrow projection, ZERO exchanges/joins — the
    # repetition signals come from the narrow per-row counter
    # (repetition_stats_narrow_cols; integer-identical to the r5
    # explode + two-level aggregation + join-back, whose exchanges were
    # ~40% of this query's wall). The trim != '' filter reproduces the
    # old inner join's drop of word-less docs and is a pure scan
    # predicate, NOT a predicate on the Python eval (guide §4.4).
    return (
        spread(docs)
        .filter(F.trim(text) != "")
        .select(
            "doc_id",
            token_count(text).alias("n_tokens"),
            stopword_count(text).alias("n_stopwords"),
            punct_count(text).alias("n_punct"),
            quality_score(text, F.col("n_chars")).alias("quality"),
            lang_id_udf(text).alias("lang_guess"),
            winnow_fingerprint(text).alias("winnow_fp"),
            rep["n_words"],
            rep["n_distinct_words"],
            rep["top_word_frac"],
            rep["dup_word_frac"],
        )
    )


SQL_DOC_PROFILE = f"""
SELECT t.doc_id, t.n_tokens, t.n_stopwords, t.n_punct, t.quality,
       t.n_words, t.n_distinct_words, t.top_word_frac, t.dup_word_frac,
       l.lang_guess, f.winnow_fp
FROM ({SQL_DOC_TEXT_STATS}) t
JOIN ({SQL_DOC_LANG_ID}) l ON t.doc_id = l.doc_id
JOIN ({SQL_DOC_FINGERPRINTS}) f ON t.doc_id = f.doc_id
"""


MIX_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.1}  # per-source corpus mix
MIX_DEFAULT = 0.25
MIX_SALT = "mix"


QUALITY_MIN = 0.5
TOKENS_MIN, TOKENS_MAX = 20, 1000


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pass: exact-dedup (keep min
    doc_id per normalized text) + token-length band + quality threshold.
    One window + narrow filters — the shape of a real corpus-prep job."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count(text).alias("n_tokens"),
        quality_score(text, F.col("n_chars")).alias("quality"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
        ).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_tokens").between(TOKENS_MIN, TOKENS_MAX))
            & (F.col("quality") >= QUALITY_MIN)
        )
        .select("doc_id", "lang", "n_tokens", "quality")
    )


SQL_CLEAN_CORPUS = f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         round(0.3 * least(CAST(n_chars AS DOUBLE), 2000.0) / 2000.0
             + 0.4 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                            / greatest(CAST(n_chars AS DOUBLE), 1.0))
             + 0.3 * CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                          x -> x IN ({_STOP_IN}))) AS DOUBLE)
                     / greatest(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 1.0),
             6) AS quality,
         {_NORM_SQL} AS fp,
         row_number() OVER (PARTITION BY {_NORM_SQL} ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, n_tokens, quality
FROM scored
WHERE rn = 1 AND n_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}
  AND quality >= {QUALITY_MIN}
"""


EVAL_SALT = "evalset"
EVAL_RATE = 0.05
DECON_N = 5  # word-gram width (the "13-gram rule" scaled to fixture docs)


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: carve a deterministic ~5% eval split
    (hash-of-doc_id membership, operators/sampling.py), then flag every
    train doc sharing any word 5-gram with it. The eval gram set is
    broadcast — the train side never shuffles except the final per-doc
    count; the oracle replays the identical raw-string gram membership
    (grams stay unhashed by design: they cross a BROADCAST, not a
    shuffle — see operators/decontaminate.py's measured rationale)."""
    from fluent_server_spark.operators.decontaminate import decontaminate
    from fluent_server_spark.operators.sampling import sample_hash

    docs = spread(load_table(spark, sf_dir, "documents"))
    in_eval = sample_hash(F.col("doc_id"), EVAL_SALT) < int(EVAL_RATE * 1_000_000)
    return decontaminate(
        docs.filter(~in_eval), docs.filter(in_eval), n=DECON_N
    )


def _sql_decontaminate_docs(n: int = DECON_N) -> str:
    eval_pred = (
        f"CAST('0x' || substr(md5('{EVAL_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15) "
        f"AS BIGINT) % 1000000 < {int(EVAL_RATE * 1_000_000)}"
    )
    return f"""
WITH wl AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
            FROM documents),
hs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ws) - {n - 1}, 1) + 1),
           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' '))) AS hg
  FROM wl),
ev AS (SELECT DISTINCT unnest(hg) AS g FROM hs WHERE {eval_pred}),
tr AS (SELECT doc_id, hg FROM hs WHERE NOT ({eval_pred})),
hits AS (
  SELECT t.doc_id, count(*) AS n_hits
  FROM (SELECT doc_id, unnest(hg) AS g FROM tr) t
  JOIN ev USING (g)
  GROUP BY t.doc_id)
SELECT tr.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM tr LEFT JOIN hits h USING (doc_id)
"""


SQL_DECONTAMINATE_DOCS = _sql_decontaminate_docs()


TFIDF_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by tf·idf (idf = ln(N/df)). Counts stay
    integer through both shuffles; the corpus size joins in as a
    broadcast 1-row relation, never a driver action; ties break on the
    term string so the ranking is a total order."""
    from fluent_server_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(spread(load_table(spark, sf_dir, "documents")), k=TFIDF_K)


SQL_TFIDF_TOP_TERMS = f"""
WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
           FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM w WHERE term <> '' GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_corpus FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(CAST(tf.tf AS DOUBLE) * ln(n.n_corpus / CAST(df.df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM s)
SELECT doc_id, rank, term, tf, df, tfidf FROM r WHERE rank <= {TFIDF_K}
"""


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit: inject deterministic synthetic PII (the
    fixture corpus has none), scrub it with the native regexp_replace
    chain (functions/text.py::scrub_pii — narrow, codegen, no Python),
    and emit per-doc counts by kind + the md5 of the scrubbed text. The
    patterns are restricted to the Java-regex ∩ RE2 subset so the oracle
    replays the identical first-match-wins scrub order."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 ph 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    # r6: the count+scrub chain runs as ONE Arrow kernel (8 C-level
    # regex passes) instead of 12 Catalyst regexp nodes — identical
    # sequential first-match-wins semantics, parity pinned per-row in
    # tests; measured 4.2 s -> ~0.6 s at sf1.0. The Catalyst chain
    # (pii_counts + scrub_pii) remains the oracle-twin proof path.
    from fluent_server_spark.functions.text import PII_ORDER, pii_scrub_udf

    s = pii_scrub_udf(aug).alias("_s")
    return spread(docs).select("doc_id", s).select(
        "doc_id",
        *[F.col(f"_s.n_{kind}").alias(f"n_{kind}") for kind in PII_ORDER],
        F.col("_s.scrub_md5").alias("scrub_md5"),
    )


def _sql_pii_scrub_stats() -> str:
    from fluent_server_spark.functions.text import PII_ORDER, PII_PATTERNS

    aug = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.1 ph 415-555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    cols, scanned = [], aug
    for kind in PII_ORDER:
        pat, repl = PII_PATTERNS[kind]
        cols.append(
            f"CAST(len(regexp_extract_all({scanned}, '{pat}')) AS BIGINT) AS n_{kind}"
        )
        scanned = f"regexp_replace({scanned}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, {', '.join(cols)}, md5({scanned}) AS scrub_md5 FROM documents"


SQL_PII_SCRUB_STATS = _sql_pii_scrub_stats()

CHUNK_CHARS, CHUNK_OVERLAP = 120, 20


def q_doc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/context-window document chunking: fixed 120-char chunks with
    20-char overlap — a map-only explode (operators/packing.py), output
    kept narrow via md5-of-chunk."""
    from fluent_server_spark.operators.packing import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), CHUNK_CHARS, CHUNK_OVERLAP
    )


_STEP = CHUNK_CHARS - CHUNK_OVERLAP
SQL_DOC_CHUNK_STATS = f"""
WITH c AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(floor((greatest(length(text), 1) - 1) / {_STEP})
                             AS BIGINT) + 1)) AS i
  FROM documents)
SELECT doc_id, i AS chunk_idx,
       CAST(length(substr(text, CAST(i * {_STEP} + 1 AS INT), {CHUNK_CHARS})) AS BIGINT)
         AS chunk_len,
       md5(substr(text, CAST(i * {_STEP} + 1 AS INT), {CHUNK_CHARS})) AS chunk_md5
FROM c
"""


SPLIT_SALT = "splits"
SPLIT_BOUNDS = (("train", 0, 800_000), ("val", 800_000, 900_000), ("test", 900_000, 1_000_000))


def q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split manifest + corpus-mix audit in one pass.

    Splits: disjoint, exhaustive ranges of ONE hash-of-key
    (operators/sampling.py::sample_hash) — every doc lands in exactly one
    split, forever, on any engine. Mix: the per-source weighted-sample
    membership (operators/sampling.py::weighted_sample_pred, an
    independent salt) carried as a FLAG, so the same aggregation audits
    both the lineage counts and how many of each (split, source) stratum
    the sampled training mix would keep. The oracle replays the identical
    membership decisions, so a single flipped row flips the hash."""
    from fluent_server_spark.operators.sampling import (
        sample_hash,
        weighted_sample_pred,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = sample_hash(F.col("doc_id"), SPLIT_SALT)
    split = F.when(h < SPLIT_BOUNDS[0][2], SPLIT_BOUNDS[0][0])
    for name, lo, hi in SPLIT_BOUNDS[1:]:
        split = split.when((h >= lo) & (h < hi), name)
    in_mix = weighted_sample_pred(
        "doc_id", "source", MIX_RATES, default_rate=MIX_DEFAULT, salt=MIX_SALT
    )
    return (
        docs.withColumn("split", split)
        .withColumn("_mix", in_mix.cast("int"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("_mix").alias("n_mix"),
            F.sum(F.col("_mix") * F.col("n_chars")).alias("mix_chars"),
        )
    )


def _sql_corpus_splits() -> str:
    h = (
        f"CAST('0x' || substr(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15) "
        f"AS BIGINT) % 1000000"
    )
    whens = " ".join(
        f"WHEN {h} >= {lo} AND {h} < {hi} THEN '{name}'"
        for name, lo, hi in SPLIT_BOUNDS
    )
    mix_whens = " ".join(
        f"WHEN source = '{v}' THEN {int(r * 1_000_000)}"
        for v, r in sorted(MIX_RATES.items())
    )
    mix = (
        f"CASE WHEN CAST('0x' || substr(md5('{MIX_SALT}' || CAST(doc_id AS VARCHAR)),"
        f" 1, 15) AS BIGINT) % 1000000"
        f" < CASE {mix_whens} ELSE {int(MIX_DEFAULT * 1_000_000)} END"
        f" THEN 1 ELSE 0 END"
    )
    return f"""
SELECT CASE {whens} END AS split, source,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(mix) AS BIGINT) AS n_mix,
       CAST(sum(mix * n_chars) AS BIGINT) AS mix_chars
FROM (SELECT *, {mix} AS mix FROM documents)
GROUP BY 1, source
"""


SQL_CORPUS_SPLITS = _sql_corpus_splits()

FUZZY_BLOCK_CHARS = 12
FUZZY_CMP_CHARS = 80
FUZZY_MAX_DIST = 20
FUZZY_MAX_BLOCK = 64  # degenerate-block cap (same recipe as LSH buckets)


def q_fuzzy_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with BLOCKING: candidate pairs share
    the first 12 normalized chars (an equi-join on the block key — never
    all-pairs), verified by levenshtein on an 80-char prefix. The
    standard cheap fuzzy-match recipe where quadratic cost is confined
    inside blocks — and BOUNDED there: blocks larger than
    FUZZY_MAX_BLOCK are dropped (a common boilerplate prefix or a sea of
    empty texts would otherwise go O(k^2) inside one block; such blocks
    are exact-prefix-duplicate families, the exact-dedup pass's job —
    the same degenerate-bucket cap the MinHash LSH path uses). The cap
    is part of the operator's semantics: the oracle replays it, so it is
    driver-hash-pinned, and both engines implement the identical classic
    DP distance."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.col("text")))
    d = docs.select(
        "doc_id",
        F.substring(norm, 1, FUZZY_BLOCK_CHARS).alias("blk"),
        F.substring(norm, 1, FUZZY_CMP_CHARS).alias("head"),
    )
    # oversized blocks are RARE by construction (they are exact-prefix
    # duplicate families): find them with a partial-agg groupBy (tiny
    # shuffle of block keys) and broadcast ANTI-join them away — far
    # cheaper than a count-over-window, which sorts the full relation
    # (measured 5x this query's wall at sf0.1)
    big = (
        d.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > FUZZY_MAX_BLOCK)
        .select("blk")
    )
    # the capped relation feeds BOTH self-join sides: materialize it once
    # (it is skinny — id + 12-char block + 80-char head) so the scan +
    # cap subtree doesn't run twice (the r2 shape had a plain projection
    # here, which Spark happily re-scans; post-cap that would double the
    # groupBy too)
    d = d.join(F.broadcast(big), "blk", "left_anti").localCheckpoint(eager=True)
    a, b = d.alias("a"), d.alias("b")
    # r6: THRESHOLD-BANDED levenshtein (guide §1.2 "per-task work") —
    # the verify was the query's dominant cost (~490k candidate pairs x
    # a full 80x80 DP at sf1.0). With the threshold argument Spark runs
    # the banded O(len * k) DP and returns -1 past the band; for every
    # surviving pair the banded distance equals the full distance, so
    # the output rows are identical (measured ~3.4 -> ~2.2 s).
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"), FUZZY_MAX_DIST)
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            dist.alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= FUZZY_MAX_DIST))
    )


SQL_FUZZY_NEARDUP_PAIRS = f"""
WITH d0 AS (
  SELECT doc_id,
         substr(lower(trim(text)), 1, {FUZZY_BLOCK_CHARS}) AS blk,
         substr(lower(trim(text)), 1, {FUZZY_CMP_CHARS}) AS head
  FROM documents),
d AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY blk) AS bsz FROM d0)
  WHERE bsz <= {FUZZY_MAX_BLOCK})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(a.head, b.head) AS INT) AS dist
FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= {FUZZY_MAX_DIST}
"""


SUBSTR_K = 20


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022 shape,
    operators/substring_dedup.py): every duplicated >= 20-char span cut
    from the corpus, canonical (global-first) occurrences kept. The
    oracle replays the fingerprint -> canonicalize -> mark -> merge ->
    cut plan as window SQL grouping on the LITERAL gram text — equal to
    the engine's xxhash64 grouping absent a 2^-64 hash collision (the
    same contract as every hashed-shingle oracle in this module)."""
    from fluent_server_spark.operators.substring_dedup import dedup_substrings

    docs = load_table(spark, sf_dir, "documents")
    return dedup_substrings(spread(docs), k=SUBSTR_K).select(
        "doc_id", "text_dedup", "n_removed_chars"
    )


SQL_SUBSTRING_DEDUP = f"""
WITH g AS (
  SELECT doc_id, pos, substr(text, pos, {SUBSTR_K}) AS gram
  FROM (SELECT doc_id, text,
               unnest(range(1, length(text) - {SUBSTR_K} + 2)) AS pos
        FROM documents WHERE length(text) >= {SUBSTR_K})),
r AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY gram) AS c,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g),
m AS (SELECT doc_id, pos FROM r WHERE c > 1 AND rn > 1),
i AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + {SUBSTR_K}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM m),
grp AS (
  SELECT doc_id, pos, sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM i),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {SUBSTR_K} AS e
  FROM grp GROUP BY doc_id, island),
cuts AS (
  SELECT doc_id, s, e,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS pe
  FROM spans),
pieces AS (
  SELECT d.doc_id,
         string_agg(substr(d.text, c.pe, c.s - c.pe), '' ORDER BY c.s) AS head,
         max(c.e) AS last_e
  FROM documents d JOIN cuts c USING (doc_id) GROUP BY d.doc_id),
cut AS (
  SELECT d.doc_id,
         CASE WHEN p.doc_id IS NULL THEN d.text
              ELSE p.head || substr(d.text, p.last_e,
                                    length(d.text) - p.last_e + 1)
         END AS text_dedup,
         d.text
  FROM documents d LEFT JOIN pieces p USING (doc_id))
SELECT doc_id, text_dedup,
       CAST(length(text) - length(text_dedup) AS INT) AS n_removed_chars
FROM cut
"""


def q_perplexity_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-perplexity quality banding
    (operators/lm_quality.py) in its oracle-replayable configuration:
    NLL scores from the self-trained corpus unigram model (one
    word-count agg + one equi-join + one keyed agg, zero UDFs), banded
    by EXACT decile rank over (avg_nll, doc_id) — a total order — via
    the DISTRIBUTED exact ntile (operators/ranking.py: range exchange +
    broadcast offsets, no single-partition sort). `kept` marks the
    middle band (deciles 2-9), the head/tail-drop semantics of
    perplexity_band_filter; that operator's approxQuantile band edges
    remain the constant-memory path when exact decile ranking is not
    required. Wordless docs (NULL score) drop with the gibberish tail."""
    from fluent_server_spark.operators.lm_quality import (
        train_unigram,
        unigram_nll_scores,
    )
    from fluent_server_spark.operators.ranking import with_global_ntile

    docs = load_table(spark, sf_dir, "documents")
    # r6: materialize the two SMALL intermediates (model = vocabulary
    # rows; scores = one row per doc) — the ntile machinery consumes
    # `scores` twice (ranked stream + offsets broadcast) and the model
    # feeds both the totals agg and the scoring join, so the
    # un-materialized plan re-ran the word explode + aggregation chain
    # SIX times (40 Exchanges; plans/r06/perplexity_band_before.txt).
    # Values are unchanged — each branch previously computed identical
    # copies; now they read the same one (measured 3.1 -> ~1.6 s).
    model = train_unigram(docs).localCheckpoint(eager=True)
    scores = (
        unigram_nll_scores(docs, model=model)
        .filter(F.col("avg_nll").isNotNull())
        .localCheckpoint(eager=True)
    )
    tiled = with_global_ntile(
        scores, 10, [F.asc("avg_nll"), F.asc("doc_id")], out="decile"
    )
    return tiled.select(
        "doc_id",
        "n_words",
        "avg_nll",
        "decile",
        ((F.col("decile") > 1) & (F.col("decile") < 10)).alias("kept"),
    )


SQL_PERPLEXITY_BAND = """
WITH w AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                        '\\s+')) AS w
    FROM documents) WHERE w <> ''),
model AS (SELECT w, count(*) AS n FROM w GROUP BY w),
tot AS (SELECT sum(n) AS nt, count(*) AS v FROM model),
scored AS (
  SELECT doc_id, -ln((model.n + 1.0) / (tot.nt + 1.0 * (tot.v + 1))) AS nll
  FROM w JOIN model USING (w) CROSS JOIN tot),
per_doc AS (
  SELECT doc_id, count(*) AS n_words, round(avg(nll), 6) AS avg_nll
  FROM scored GROUP BY doc_id),
tiled AS (
  SELECT doc_id, n_words, avg_nll,
         ntile(10) OVER (ORDER BY avg_nll, doc_id) AS decile
  FROM per_doc)
SELECT doc_id, n_words, avg_nll, decile,
       decile > 1 AND decile < 10 AS kept
FROM tiled
"""


BM25_QUERY_SET = [
    (0, "hash join merge"),
    (1, "window agg stream"),
    (2, "vector scan filter"),
]
BM25_TOPK_K = 10
BM25_K1, BM25_B = 1.2, 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/bm25.py) — top-10 documents for
    a fixed literal query set. The inverted index is built inline here
    (postings + doc lengths as DataFrames); in a served deployment those
    two tables persist partitioned by term / doc and this query is just
    the probe side."""
    from fluent_server_spark.operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    # VALUES, not createDataFrame: the literal query set becomes a pure
    # Catalyst LocalRelation (createDataFrame would route the 3 rows
    # through applySchemaToPythonRDD — a Python stage in the plan text
    # the plan audit rightly flags)
    values = ", ".join(f"({i}, '{q}')" for i, q in BM25_QUERY_SET)
    qs = spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t(query_id, query)"
    )
    return bm25_topk(
        spread(docs), qs, k=BM25_TOPK_K, k1=BM25_K1, b=BM25_B
    )


def _sql_bm25_topk() -> str:
    values = ", ".join(f"({i}, '{q}')" for i, q in BM25_QUERY_SET)
    return f"""
WITH q(query_id, query) AS (VALUES {values}),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
  GROUP BY doc_id, term),
doclen AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id),
stats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(regexp_split_to_array(lower(trim(query)), '\\s+')) AS term
    FROM q) WHERE term <> ''),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5) + 1.0)
           * p.tf * ({BM25_K1} + 1)
           / (p.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / c.avgdl))
         ), 6) AS score
  FROM postings p
  JOIN qterms qt USING (term)
  JOIN stats s USING (term)
  JOIN doclen d USING (doc_id), corpus c
  GROUP BY qt.query_id, p.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rk
  FROM scored)
SELECT query_id, rk, doc_id, score FROM ranked WHERE rk <= {BM25_TOPK_K}
"""


SQL_BM25_TOPK = _sql_bm25_topk()


QUERIES: dict[str, QuerySpec] = {
    "exact_dedup_docs": QuerySpec(q_exact_dedup_docs, SQL_EXACT_DEDUP_DOCS),
    "clean_corpus": QuerySpec(q_clean_corpus, SQL_CLEAN_CORPUS),
    # r5: doc_text_stats + doc_lang_id + doc_fingerprints merged into the
    # single-scan doc_profile (their functions remain as pytest
    # cross-checks; the un-merge toggle re-exposes all three)
    "doc_profile": QuerySpec(q_doc_profile, SQL_DOC_PROFILE),
    "lang_source_rollup": QuerySpec(q_lang_source_rollup, SQL_LANG_SOURCE_ROLLUP),
    "ngram_jaccard_pairs": QuerySpec(q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "minhash_neardup_pairs": QuerySpec(
        q_minhash_neardup_pairs, SQL_MINHASH_NEARDUP_PAIRS
    ),
    "neardup_clusters": QuerySpec(q_neardup_clusters, SQL_NEARDUP_CLUSTERS),
    "incremental_neardup": QuerySpec(q_incremental_neardup, SQL_INCREMENTAL_NEARDUP),
    "simhash_neardup_pairs": QuerySpec(
        q_simhash_neardup_pairs, SQL_SIMHASH_NEARDUP_PAIRS
    ),
    "decontaminate_docs": QuerySpec(q_decontaminate_docs, SQL_DECONTAMINATE_DOCS),
    "tfidf_top_terms": QuerySpec(q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "pii_scrub_stats": QuerySpec(q_pii_scrub_stats, SQL_PII_SCRUB_STATS),
    "doc_chunk_stats": QuerySpec(q_doc_chunk_stats, SQL_DOC_CHUNK_STATS),
    "fuzzy_neardup_pairs": QuerySpec(q_fuzzy_neardup_pairs, SQL_FUZZY_NEARDUP_PAIRS),
    "corpus_splits": QuerySpec(q_corpus_splits, SQL_CORPUS_SPLITS),
    # r5: registered out of the two slots freed by the user_journey merge
    "substring_dedup": QuerySpec(q_substring_dedup, SQL_SUBSTRING_DEDUP),
    "perplexity_band": QuerySpec(q_perplexity_band, SQL_PERPLEXITY_BAND),
    # r5: registered out of the two slots freed by the doc_profile merge
    "bm25_topk": QuerySpec(q_bm25_topk, SQL_BM25_TOPK),
}
