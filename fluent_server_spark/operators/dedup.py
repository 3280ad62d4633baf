"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. Each operator has ONE physical plan. Python
runs only in batched Arrow kernels: the hashed shingles, the minhash
signature, the SimHash UDF and the Jaccard block-pair counter.

Scale notes (the whole point of each design):
* exact: one shuffle on a 32-hex key; min(doc_id) keeps the canonical
  copy — works at any scale.
* MinHash+LSH: candidate generation is shingle->minhash (narrow, per-row)
  then an equi-join on (band, band_hash) — the only shuffle is on band
  buckets, never the O(n^2) cross join. Exact-Jaccard verification runs
  only on candidates. This is the standard near-dup shape used for web
  corpora (Broder '97 resemblance + banding).
* SimHash: per-row 64-bit signature; candidate pairs via banded chunks
  of the signature (4x16-bit bands) -> equi-join, verify hamming<=k.
* n-gram Jaccard: exact, via jaccard_join_blocks (block-pair overlap
  counting in numpy, survivors only leave the task);
  ngram_jaccard_pairs' crossJoin is the small-N test baseline.
* embedding cosine: see operators/similarity.py (shared kernels).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluent_server_spark.functions.text import md5_fingerprint, simhash_udf, hamming64

# ------------------------------------------------------------------ exact


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-equal (normalized) texts; keep_id = min id."""
    return (
        docs.withColumn("fp", md5_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_keep_first(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Return the deduplicated corpus (one row per distinct text, min id).

    Window-free formulation: semi-join against the keeper ids — two
    shuffles on small keys, no per-group sort.
    """
    keep = exact_dedup(docs, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


# ------------------------------------------------------------ word shingles


def _string_shingles_arrow(n: int):
    """Arrow twin of with_shingles' Catalyst chain for RAW-STRING grams
    (r6): the same split/slice/join semantics as _hashed_shingles_arrow
    (space-only trim, \\s+ split keeping leading/trailing empties, index
    clamp for short docs, NULL text -> one empty gram, first-occurrence
    distinct == array_distinct) minus the hashing — for consumers whose
    grams stay strings (the decontamination broadcast probe). Measured
    at sf1.0: the transform+slice+concat_ws chain was ~0.8 s of the
    decontaminate wall; the batched C-level split/join reads 2.4 s ->
    1.6 s, rows identical."""
    import re as _re

    ws_re = _re.compile(r"\s+", _re.ASCII)

    @F.pandas_udf("array<string>")
    def sh(text: pd.Series) -> pd.Series:
        out = []
        for s in text:
            if s is None:
                s = ""
            w = ws_re.split(s.strip(" ").lower())
            last = max(len(w) - n, 0)
            out.append(
                list(dict.fromkeys(" ".join(w[i : i + n]) for i in range(last + 1)))
            )
        return pd.Series(out, index=text.index)

    return sh


def with_shingles(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out: str = "shingles",
    impl: str = "fold",
) -> DataFrame:
    """Distinct word n-gram shingles as an array column (narrow op).
    `impl='arrow'` computes the identical arrays in a batched Python
    kernel (see _string_shingles_arrow; pinned equal in
    tests/test_dedup.py); 'fold' is the pure-Catalyst chain."""
    if impl == "arrow":
        return docs.withColumn(out, _string_shingles_arrow(n)(F.col(text_col)))
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return docs.withColumn(out, F.array_distinct(grams))


# ---------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard (the small-N / verification baseline).

    O(n^2) crossJoin — bounded inputs only; the exact scale path is
    jaccard_join_blocks below, the approximate one minhash_lsh_pairs.
    Tests verify both against this.
    """
    sh = with_shingles(docs, text_col, n).select(
        F.col(id_col).alias("a_id"), F.col("shingles").alias("a_sh")
    )
    sh2 = sh.select(F.col("a_id").alias("b_id"), F.col("a_sh").alias("b_sh"))
    pairs = sh.crossJoin(sh2).filter(F.col("a_id") < F.col("b_id"))
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _block_overlap_fn(n_blocks: int, threshold: float, margin: float = 1e-6):
    """applyInPandas kernel for jaccard_join_blocks: one task owns one
    BLOCK PAIR (i, j) of the doc-block partition and computes the FULL
    overlap count for every doc pair (a in block i, b in block j) from
    the two blocks' token streams — entirely in numpy (grouped cartesian
    + one sort-based unique), so the threshold filter applies INSIDE the
    task and only surviving pairs are emitted. The overlap `o` and sizes
    are exact integers; the jaccard division/round happens back in
    Catalyst on the survivors, so emitted values are bit-identical to
    the crossJoin baseline's size(intersect)/size(union). The in-kernel
    screen keeps pairs with o/(sa+sb-o) >= threshold - margin —
    `round(jac, 6) >= t` can admit jac down to t - 5e-7, so the margin
    is conservative."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "a_id": pd.Series([], dtype="int64"),
            "b_id": pd.Series([], dtype="int64"),
            "a_sz": pd.Series([], dtype="int32"),
            "b_sz": pd.Series([], dtype="int32"),
            "o": pd.Series([], dtype="int64"),
        }
    )

    def _tok_stream(hgs: list, rows: np.ndarray) -> tuple:
        """(sorted token array, doc-row of each token) for `rows`."""
        if len(rows) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        flat = np.concatenate([np.asarray(hgs[r], dtype=np.int64) for r in rows])
        doc = np.repeat(rows, [len(hgs[r]) for r in rows])
        order = np.argsort(flat, kind="stable")
        return flat[order], doc[order]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        task = int(pdf["task"].iloc[0])
        i, j = divmod(task, n_blocks)
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        blks = pdf["_blk"].to_numpy()
        hgs = pdf["hg"].to_list()
        sz = np.array([len(x) for x in hgs], dtype=np.int64)
        m = len(ids)
        if i == j:
            rows = np.arange(m)
            hA, dA = _tok_stream(hgs, rows)
            hB, dB = hA, dA
        else:
            hA, dA = _tok_stream(hgs, np.flatnonzero(blks == i))
            hB, dB = _tok_stream(hgs, np.flatnonzero(blks == j))
        if len(hA) == 0 or len(hB) == 0:
            return empty
        uhA, stA = np.unique(hA, return_index=True)
        cntA = np.diff(np.r_[stA, len(hA)])
        uhB, stB = np.unique(hB, return_index=True)
        cntB = np.diff(np.r_[stB, len(hB)])
        common, ia, ib = np.intersect1d(
            uhA, uhB, assume_unique=True, return_indices=True
        )
        if len(common) == 0:
            return empty
        cA, cB = cntA[ia], cntB[ib]
        oA, oB = stA[ia], stB[ib]
        # grouped cartesian WITHOUT any integer division (the divmod
        # formulation measured 3-10x slower): A-side entries of the
        # common groups via the ranges trick, then per-entry repeats.
        totA = int(cA.sum())
        eidx = (
            np.repeat(oA, cA)
            + np.arange(totA, dtype=np.int64)
            - np.repeat(np.cumsum(cA) - cA, cA)
        )
        AE = dA[eidx]  # A entries, group-contiguous
        repc = np.repeat(cB, cA)  # pair count per A entry
        total = int(repc.sum())
        p = np.repeat(AE, repc)
        bstart = np.repeat(np.repeat(oB, cA), repc)
        w = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(repc) - repc, repc
        )
        q = dB[bstart + w]
        if i == j:
            # self cross generated both orientations + self-hits: keep
            # the id-ordered half (each unordered pair exactly once)
            keep = ids[p] < ids[q]
            p, q = p[keep], q[keep]
        if len(p) == 0:
            return empty
        # int32 keys when they fit: halves the sort's memory traffic
        if m * m < 2**31:
            key = (p * m + q).astype(np.int32)
        else:
            key = p.astype(np.int64) * m + q
        upair, o = np.unique(key, return_counts=True)
        pp, qq = np.divmod(upair.astype(np.int64), m)
        a_id, b_id = ids[pp], ids[qq]
        a_sz, b_sz = sz[pp], sz[qq]
        # orient cross-block pairs by id (diagonal already oriented)
        flip = a_id > b_id
        if flip.any():
            a_id, b_id = np.where(flip, b_id, a_id), np.where(flip, a_id, b_id)
            a_sz, b_sz = np.where(flip, b_sz, a_sz), np.where(flip, a_sz, b_sz)
        jac = o.astype(np.float64) / (a_sz + b_sz - o).astype(np.float64)
        keep = jac >= threshold - margin
        return pd.DataFrame(
            {
                "a_id": a_id[keep],
                "b_id": b_id[keep],
                "a_sz": a_sz[keep].astype(np.int32),
                "b_sz": b_sz[keep].astype(np.int32),
                "o": o[keep],
            }
        )

    return fn


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (the `hash()` of an INT column) —
    replicated so block-pair task keys can be CHOSEN to land round-robin
    across shuffle partitions (see jaccard_join_blocks)."""
    M = 0xFFFFFFFF
    k = (x * 0xCC9E2D51) & M
    k = ((k << 15) | (k >> 17)) & M
    k = (k * 0x1B873593) & M
    h = (seed ^ k) & M
    h = ((h << 13) | (h >> 19)) & M
    h = (h * 5 + 0xE6546B64) & M
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & M
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _balanced_task_keys(n_tasks: int, n_parts: int) -> list[int]:
    """n_tasks ints whose Spark hash lands them round-robin over
    n_parts shuffle partitions: key i goes to partition i % n_parts, so
    no partition ever holds more than ceil(n_tasks/n_parts) tasks. With
    raw consecutive ids the binomial collision tail gave some partition
    4-6 of the ~2x-average heaviest tasks — measured as 2-3x straggler
    spread on the jaccard block kernel."""
    keys: list[int] = []
    cand = 0
    for i in range(n_tasks):
        want = i % n_parts
        while _murmur3_int(cand) % n_parts != want:
            cand += 1
        keys.append(cand)
        cand += 1
    return keys


def jaccard_join_blocks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    n_blocks: int = 24,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via BLOCK-PAIR COMPLETE
    COUNTING (r6). Overlap counting is the right ALGORITHM (Sarawagi &
    Kirpal SIGMOD'04): a shared-token count o gives jaccard =
    o / (|A| + |B| - o) with no array verify. As a token self-join plus
    a groupBy(pair) count, though, the plan materializes sum(df^2) join
    rows and then EXCHANGES the partially aggregated pair counts
    (~|pairs sharing a token| rows: measured ~127M generated / ~100M
    exchanged at sf1.0, 36.9 s end to end),
    because no single task ever holds a pair's complete count. Here the
    doc set is hash-partitioned into `n_blocks` blocks and each of the
    n_blocks*(n_blocks+1)/2 tasks owns one block PAIR: it receives both
    blocks' full token arrays (each doc's hg array ships n_blocks
    times — B x corpus tokens, ~170 MB at sf1.0, vs the 2.8 GB pair
    exchange), computes COMPLETE overlap counts for its pairs in numpy,
    applies the jaccard threshold locally, and emits only survivors
    (guide §2.3: shuffle keys and metadata, never the quadratic
    intermediate). The jaccard division + round + filter run in
    Catalyst on the surviving (a_id, b_id, a_sz, b_sz, o) rows — the
    same integers and double division as the size(intersect) /
    size(union) of the crossJoin baseline ngram_jaccard_pairs, so the
    output is bit-identical to it (pinned in tests/test_dedup.py).
    Every unordered pair belongs to exactly one block pair, so no
    cross-task dedup is needed.

    Scale: per-task pair volume is sum(df_i * df_j) ~ sum(df^2)/B^2 —
    `n_blocks` is the memory/parallelism dial (B^2 grows tasks
    quadratically while per-task memory shrinks quadratically). There
    is no hot-token cap: a stop-gram-heavy corpus should exact-dedup
    first.

    Default 24 (r6, was 16): interleaved sweeps at sf0.1 AND sf1.0 show
    the two equal on median wall but 24 collapses the straggler TAIL —
    sf1.0 max 3.2 s vs 12.6 s, sf0.1 max 1.6 s vs 4.7 s over 6
    alternated runs — because 300 fine tasks rebalance around a stolen
    core where 136 coarser ones cannot (guide §2.6), and per-task pair
    volume drops ~2.2x. The price is ~1.5x task replication of the
    token arrays (+~85 MB shuffled at sf1.0) and a ~0.1-0.4 s worse
    BEST case; under a few-shot measurement protocol the tail, not the
    best case, is what gets recorded. 8 is catastrophic on denser-df
    corpora (measured 22.9 s min at sf1.0 — per-task volume x9 and a
    36-task single wave exposes the whole wall to one slow core)."""
    sh = with_hashed_shingles(
        docs.filter(F.col(text_col).isNotNull()), text_col, n
    ).select(F.col(id_col).alias("_id"), "hg")
    blk = F.pmod(F.hash(F.col("_id")), F.lit(n_blocks))
    tasks = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda o: F.least(blk, o) * n_blocks + F.greatest(blk, o),
    )
    rep = (
        sh.withColumn("_blk", blk)
        .withColumn("task", F.explode(tasks))
        .select("task", "_blk", "_id", "hg")
    )
    # Straggler control (guide §2.5/§2.6, measured): a plain
    # groupBy(task) shuffle let AQE coalesce the ~5 MB-per-partition
    # stream far below core count AND let murmur collisions stack
    # several of the heaviest tasks on one partition — 2-6x spread
    # between identical runs. Remap each task id to a key PLACED
    # round-robin over the shuffle partitions (diagonal tasks first,
    # they are the heavy ones) and pin the partition count with an
    # explicit repartition the groupBy reuses.
    n_parts = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    occurring = sorted(
        (i * n_blocks + j for i in range(n_blocks) for j in range(i, n_blocks)),
        key=lambda t: (t // n_blocks != t % n_blocks, t),
    )
    keys = _balanced_task_keys(len(occurring), n_parts)
    keymap = dict(zip(occurring, keys))
    arr = F.array(
        *[F.lit(keymap.get(t, -1)) for t in range(n_blocks * n_blocks)]
    )
    rep = rep.withColumn("gk", F.element_at(arr, F.col("task") + 1))
    rep = rep.repartition(n_parts, "gk")
    surv = rep.groupBy("gk").applyInPandas(
        _block_overlap_fn(n_blocks, threshold),
        "a_id long, b_id long, a_sz int, b_sz int, o long",
    )
    jac = F.col("o").cast("double") / (
        (F.col("a_sz") + F.col("b_sz") - F.col("o")).cast("double")
    )
    return (
        surv.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ------------------------------------------------------------- MinHash LSH

_MERSENNE = (1 << 31) - 1  # 31-bit field: a*h + b stays < 2^62, so the
# arithmetic can never overflow int64 — safe under ANSI mode (the driver's
# verify session may have ANSI on; 2^61-1 coefficients would throw there)


def minhash_coeffs(n_perm: int = 64, seed: int = 1337) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients — shared verbatim by
    the Spark plan and the generated DuckDB oracle SQL."""
    return [
        (
            (seed * 2654435761 + i * 40503) % _MERSENNE | 1,
            (seed * 97 + i * 1299709) % _MERSENNE,
        )
        for i in range(n_perm)
    ]


def _hashed_shingles_arrow(n: int):
    """The shingle->md5->60-bit kernel (r6): whole batches through
    Python's C-level split/join/hashlib. It replaced a Catalyst split +
    per-gram slice/concat_ws/md5/conv expression tree, which was ~2 s
    of every shingle-family query at sf1.0. The grams are with_shingles'
    Spark semantics, hashed the way the DuckDB oracles hash them
    (pinned in tests/test_dedup.py and by the oracles):

    * trim = strip of the SPACE character only (Spark's `trim`);
    * split on ASCII \\s+ keeping leading AND trailing empty strings
      (Spark's split uses limit=-1, unlike bare JVM String.split);
    * grams = space-joined n-slices for indices 0..max(len-n, 0) (the
      clamped F.slice partial-gram behavior for short docs);
    * hash = int(md5(gram)[:15 hex], 16) — identical 60-bit values;
    * distinct keeps first occurrence (order is irrelevant downstream:
      signatures take mins, verifies take set sizes)."""
    import hashlib
    import re as _re

    ws_re = _re.compile(r"\s+", _re.ASCII)

    @F.pandas_udf("array<bigint>")
    def sh(text: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for s in text:
            if s is None:
                # as with_shingles: size(NULL array) = -1 under
                # non-ANSI, so the index range clamps to [0] and
                # concat_ws over the NULL slice yields '' — one
                # empty-string gram (callers filter NULL text)
                s = ""
            # Spark's split(limit=-1) KEEPS trailing empty strings —
            # python re.split already matches that (unlike Java's
            # String.split, which drops them)
            w = ws_re.split(s.strip(" ").lower())
            last = max(len(w) - n, 0)
            seen = dict.fromkeys(
                " ".join(w[i : i + n]) for i in range(last + 1)
            )
            out.append(
                np.fromiter(
                    (
                        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                        for g in seen
                    ),
                    dtype=np.int64,
                    count=len(seen),
                )
            )
        return pd.Series(out, index=text.index)

    return sh


def with_hashed_shingles(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out: str = "hg",
) -> DataFrame:
    """Distinct 60-bit hashed word-n-gram shingles (narrow op), computed
    by the batched kernel _hashed_shingles_arrow. Each gram hashes to the
    first 15 hex chars of its md5, base-16 decoded — md5 (not xxhash64)
    so the DuckDB oracle computes the IDENTICAL value:
    `CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)`; 60 bits keep every
    downstream product inside int64 under ANSI mode. Jaccard over these
    equals jaccard over the string shingles up to md5 collisions (~2^-60
    per pair) — and int arrays intersect far cheaper than string arrays
    on the verify path."""
    return docs.withColumn(out, _hashed_shingles_arrow(n)(F.col(text_col)))


def minhash_signature_arrow(
    hashed: F.Column, n_perm: int = 64, seed: int = 1337
) -> F.Column:
    """n_perm minhash values over hashed shingles: the running min of
    (a*h + b) mod p per universal-hash permutation (Broder '97),
    computed in numpy over whole record batches (r6). Pure int64
    arithmetic with no intermediate exceeding 2^62 (p = 2^31 - 1,
    a/b < 2^31, h % p < 2^31), so the values equal the DuckDB oracle's
    replay exactly (queries/docs.py) — min is order-free; an empty
    array keeps p in every slot. It replaced a Catalyst fold whose
    per-element zip_with/aggregate churn was the dominant cost of the
    signature stage at sf1.0 (~168M modular steps)."""
    coeffs = minhash_coeffs(n_perm, seed)

    @F.pandas_udf("array<bigint>")
    def mh(hg: pd.Series) -> pd.Series:
        import numpy as np

        A = np.array([a for a, _ in coeffs], dtype=np.int64)
        B = np.array([b for _, b in coeffs], dtype=np.int64)
        P = _MERSENNE
        vals = hg.to_list()
        out = np.full((len(vals), len(A)), P, dtype=np.int64)
        CH = 512  # docs per inner chunk: bounds the (grams x perms) temp
        for s in range(0, len(vals), CH):
            chunk = vals[s : s + CH]
            lens = np.array([len(x) for x in chunk], dtype=np.int64)
            if lens.sum() == 0:
                continue  # empty arrays keep the init value (P)
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in chunk if len(x)]
            )
            M = ((flat % P)[:, None] * A[None, :] + B[None, :]) % P
            nz = lens > 0
            offs = (np.cumsum(lens) - lens)[nz]
            red = np.minimum.reduceat(M, offs, axis=0)
            block = out[s : s + len(chunk)]
            block[nz] = red
            out[s : s + len(chunk)] = block
        return pd.Series(list(out))

    return mh(hashed)


def band_bucket(sig: F.Column, band: int, rows_per_band: int) -> F.Column:
    """Bucket key for one LSH band: 60-bit int from the md5 of the
    comma-joined band slice — portable (DuckDB: CAST('0x' ||
    substr(md5(array_to_string(list_slice(...), ',')), 1, 15) AS
    BIGINT)), unlike Spark's engine-internal F.hash, and 8 bytes per
    band row instead of a 32-char hex string: the band table is the
    biggest thing the near-dup join shuffles (n_docs x n_bands rows), so
    the key width is a first-order scale cost."""
    joined = F.concat_ws(
        ",",
        *[sig[i] for i in range(band * rows_per_band, (band + 1) * rows_per_band)],
    )
    return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("bigint")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 16,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs at scale: minhash -> band -> bucket equi-join ->
    exact-Jaccard verify on the candidates only.

    With n_perm=64, n_bands=16 (rows/band=4) the LSH S-curve crosses ~50%
    candidate probability at jaccard ~ (1/16)^(1/4) ~ 0.5; pairs above
    `threshold` are then confirmed exactly, so precision is exact and
    recall is the only approximation (tested against the O(n^2) baseline).

    Skew: LSH's hot key is the DEGENERATE BUCKET — k byte-identical docs
    land in the same bucket in EVERY band and emit k^2/2 candidates per
    band (a 1M-copy boilerplate page at web scale = 10^12 pairs from one
    bucket; salting can't help because the pairs are real). Pass
    `max_bucket_size` to drop over-full (band, bucket) groups — the
    standard recipe: exact-dedup first (those buckets ARE exact-dup
    clusters), so near-dup LSH only owes pairs below the cap. Default
    None preserves full recall (and the driver oracle's semantics).
    """
    sig = _minhash_sig(docs, id_col, text_col, n, n_perm)
    bands = _band_table(sig, id_col, n_perm, n_bands)

    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "bucket")
        bands = bands.withColumn("_bsz", F.count(F.lit(1)).over(wb)).filter(
            F.col("_bsz") <= max_bucket_size
        ).drop("_bsz")

    left = bands.select(
        F.col(id_col).alias("a_id"), "band", "bucket"
    )
    right = bands.select(F.col(id_col).alias("b_id"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )

    # exact verify on candidates only — int-array intersect (60-bit
    # hashed shingles), far cheaper to shuffle and compare than the
    # string shingle arrays round 1 shipped here
    sh = sig.select(F.col(id_col).alias("a_id"), F.col("hg").alias("a_sh"))
    sh2 = sig.select(F.col(id_col).alias("b_id"), F.col("hg").alias("b_sh"))
    verified = cand.join(sh, "a_id").join(sh2, "b_id")
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _minhash_sig(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_perm: int,
    seed: int = 1337,
) -> DataFrame:
    """(id, hg, sig): hashed shingles + minhash signature, checkpointed.

    Gram-less docs are dropped as IsNotNull(text) on the scan — hg is
    empty iff text is NULL (split of any non-null text yields >= 1
    gram, and array_distinct keeps >= 1), and a post-hoc `size(hg) > 0`
    filter gets pushed below the projection where it re-evaluates the
    whole shingle+md5+signature chain in an interpreted Filter node
    (measured 7x the entire signature stage at sf0.1)."""
    sig = with_hashed_shingles(
        docs.filter(F.col(text_col).isNotNull()), text_col, n
    ).withColumn("sig", minhash_signature_arrow(F.col("hg"), n_perm, seed))
    sig = sig.select(id_col, "hg", "sig")
    # sig feeds several consumers (band explode + the verify sides).
    # Measured at sf0.1: columnar persist() LOSES to recompute (encoding
    # the big hg/sig arrays costs more than re-running the codegen'd
    # pipeline), but row-serialized localCheckpoint WINS (~12% warm, 2x
    # cold — it also truncates the JIT-heavy plan). At cluster scale
    # this is the temp-table landing of the signature pass.
    return sig.localCheckpoint(eager=True)


def _band_table(sig: DataFrame, id_col: str, n_perm: int, n_bands: int) -> DataFrame:
    rows_per_band = n_perm // n_bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(F.col("sig"), b, rows_per_band).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def write_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 16,
    seed: int = 1337,
) -> None:
    """Persist the corpus LSH index — the artifact that makes DAILY
    incremental dedup cheap at 100 TB (the band-table byte math in
    BENCH/BASELINE.md assumed this existed; round-2 review flagged that
    it didn't). Written ONCE per corpus:

    * `{path}/bands`   — (id, bucket) PARTITIONED BY band (16 dirs): the
      increment's candidate join reads only band files, never text.
    * `{path}/shingles` — (id, hg): the exact-verify relation; an
      increment reads only the hg arrays of ids that collided.
    * `{path}/index.json` — the hash parameters, validated at read time
      so an index built with different shingling can never silently join.

    Everything downstream of the one corpus scan here is the same
    deterministic md5 pipeline the oracle replays, so index-backed
    results are bit-identical to recomputing (pinned in tests/test_dedup.py).
    """
    import json
    import os

    sig = _minhash_sig(corpus, id_col, text_col, n, n_perm, seed)
    _band_table(sig, id_col, n_perm, n_bands).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    sig.select(id_col, "hg").write.mode("overwrite").parquet(f"{path}/shingles")
    manifest = {
        "id_col": id_col,
        "n": n,
        "n_perm": n_perm,
        "n_bands": n_bands,
        "seed": seed,
        "format": 1,
    }
    with open(os.path.join(path, "index.json"), "w") as f:
        json.dump(manifest, f)


def read_minhash_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """(bands, shingles, manifest) of a stored corpus index."""
    import json
    import os

    with open(os.path.join(path, "index.json")) as f:
        manifest = json.load(f)
    bands = spark.read.parquet(f"{path}/bands")
    shingles = spark.read.parquet(f"{path}/shingles")
    return bands, shingles, manifest


def minhash_lsh_pairs_against(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 64,
    n_bands: int = 16,
    threshold: float = 0.2,
    corpus_index: str | None = None,
    seed: int = 1337,
) -> DataFrame:
    """INCREMENTAL near-dup: new batch vs an existing corpus — the shape
    every production ingest actually runs (today's crawl against the
    100 TB reference set), where the self-join variant would rehash the
    whole corpus per increment. Same signature/banding as
    minhash_lsh_pairs, but candidates come from a CROSS-SET equi-join on
    (band, bucket). Output: (new_id, corpus_id, jaccard).

    Pass EITHER `corpus` (a DataFrame — its signatures are computed in
    this query) OR `corpus_index` (a path written by
    :func:`write_minhash_index` — the corpus text is NEVER scanned: the
    candidate join reads the stored band table, the verify reads the
    stored hg arrays; parameters are validated against the index
    manifest). The two paths are bit-identical.
    """
    if (corpus is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus / corpus_index")

    new_sig = _minhash_sig(new_docs, id_col, text_col, n, n_perm, seed)
    if corpus_index is not None:
        corp_bands, corp_sh, manifest = read_minhash_index(
            new_docs.sparkSession, corpus_index
        )
        # seed is part of the signature function: an index built with a
        # different seed would bucket on incompatible minhashes and the
        # join would silently return near-zero recall — validate it too.
        want = {
            "id_col": id_col,
            "n": n,
            "n_perm": n_perm,
            "n_bands": n_bands,
            "seed": seed,
        }
        got = {k: manifest.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"corpus_index parameters {got} do not match call {want}"
            )
        corp_sh = corp_sh.select(
            F.col(id_col).alias("corpus_id"), F.col("hg").alias("b_sh")
        )
    else:
        corp_sig = _minhash_sig(corpus, id_col, text_col, n, n_perm, seed)
        corp_bands = _band_table(corp_sig, id_col, n_perm, n_bands)
        corp_sh = corp_sig.select(
            F.col(id_col).alias("corpus_id"), F.col("hg").alias("b_sh")
        )
    cand = (
        _band_table(new_sig, id_col, n_perm, n_bands)
        .select(F.col(id_col).alias("new_id"), "band", "bucket")
        .join(
            corp_bands.select(F.col(id_col).alias("corpus_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = new_sig.select(F.col(id_col).alias("new_id"), F.col("hg").alias("a_sh"))
    verified = cand.join(a, "new_id").join(corp_sh, "corpus_id")
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        verified.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# ------------------------------------------------- connected components


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair set -> (id, component),
    component = min node id reachable. THE closing step of every corpus
    dedup: pair lists don't dedup a corpus, clusters do (doc A~B, B~C
    must collapse to ONE keeper even when A~C was never emitted).

    Algorithm: hash-to-min label propagation (the standard MapReduce CC
    recipe, e.g. Rastogi et al. ICDE'13 shapes) as a DataFrame loop —
    each round every node takes the min of its own and its neighbors'
    labels, then POINTER-JUMPS (path halving: label <- min(label,
    label-of-label), one extra equi-join on the skinny labels relation),
    so rounds needed are O(log diameter), not O(diameter) — a 100-node
    chain closes in ~7 rounds (pinned in tests/test_dedup.py). Each
    round is two equi-joins + one groupBy; `localCheckpoint` truncates
    the plan lineage so round N is not a 2^N-deep tree (the classic
    iterative-DataFrame trap). Convergence check = one tiny action per
    round on the monotonically-decreasing label sum; labels only ever
    decrease, so equal consecutive sums == fixed point == labels
    constant across every edge (component minimum). If `max_iter` rounds
    exhaust WITHOUT reaching the fixed point the function raises rather
    than silently returning split clusters (round-2 review finding).
    """
    F_ = F
    edges = pairs.select(
        F_.col(a_col).cast("long").alias("src"), F_.col(b_col).cast("long").alias("dst")
    )
    edges = (
        edges.union(edges.select(F_.col("dst").alias("src"), F_.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F_.col("src").alias("id"))
        .distinct()
        .withColumn("label", F_.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F_.sum("label")).first()[0]
    converged = prev_sum is None  # empty edge set: nothing to propagate
    for _ in range(max_iter):
        if converged:
            break
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F_.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr, labels["id"] == nbr["src"], "left").select(
            labels["id"],
            F_.least(
                labels["label"], F_.coalesce(nbr["nbr_label"], labels["label"])
            ).alias("label"),
        )
        # path halving: every label is itself a node id (mins of initial
        # ids), so chase one hop — label <- min(label, label[label])
        parent = stepped.select(
            F_.col("id").alias("_pid"), F_.col("label").alias("_plabel")
        )
        labels = (
            stepped.join(parent, stepped["label"] == parent["_pid"], "left")
            .select(
                stepped["id"],
                F_.least(
                    stepped["label"],
                    F_.coalesce(F_.col("_plabel"), stepped["label"]),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F_.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (component deeper than 2^max_iter hops, or the edge set "
            "is still changing) — raise max_iter; results would be SILENTLY "
            "SPLIT clusters, so refusing to return them"
        )
    return labels.select(F_.col("id"), F_.col("label").alias("component"))


# ----------------------------------------------------------------- SimHash


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: 4x16-bit banded signature join, verify
    hamming <= max_hamming. By pigeonhole, any pair within hamming<=3 of
    a 64-bit signature agrees exactly on at least one of 4 bands, so the
    banded equi-join has 100% recall at the signature level.

    Round-4 finding: the query's r3 cost (4.0 s at sf0.1) was the
    signature stage computed TWICE — both self-join sides re-derived
    the un-materialized sig relation. The localCheckpoint below fixes
    that (1.29 s). A fully-native Catalyst signature (per-word
    md5+conv+64 SUM(CASE)) measured SLOWER than the checkpointed Arrow
    UDF at sf0.1 (2.79 s vs 1.29 s) and was retired; the DuckDB oracle
    in queries/docs.py replays that per-word form."""
    sig = docs.select(F.col(id_col), simhash_udf(F.col(text_col)).alias("sim"))
    # two consumers (left/right of the banded self-join): materialize the
    # skinny (id, sim) relation so signatures are computed once
    sig = sig.localCheckpoint(eager=True)
    # strict=False: simhash_pairs has always accepted max_hamming beyond
    # the 4-band pigeonhole guarantee as BEST-EFFORT recall (candidates
    # still must agree on one 16-bit band) — keep that contract
    return banded_hamming_pairs(
        sig, id_col=id_col, sig_col="sim", max_hamming=max_hamming, strict=False
    )


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sim",
    max_hamming: int = 3,
    n_bands: int = 4,
    segment_cols: tuple[str, ...] = (),
    strict: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generic banded hamming self-join over 64-bit signatures →
    (a_id, b_id, hamming) pairs with hamming <= max_hamming.

    The signature space is split into `n_bands` equal chunks (n_bands
    must divide 64); by pigeonhole any pair within hamming < n_bands
    agrees exactly on at least one chunk, so the banded equi-join has
    100% recall at the signature level — `max_hamming < n_bands` is
    enforced rather than silently losing pairs. `segment_cols` join
    additional equality keys (e.g. modality) so pairs never cross
    segments. Shared kernel for SimHash text near-dup and the
    perceptual media fingerprints (operators/media_dedup.py); at scale
    the only shuffle is the (band, chunk) equi-join, never a cross
    join, and skewed chunks (e.g. the all-zero signature of empty
    inputs) are the caller's cue to pre-filter degenerate rows.

    `max_bucket` is the standard LSH hot-bucket cap (same insurance as
    minhash's bucket-size cap): (band, chunk, segment) buckets larger
    than the cap are DROPPED before the self-join, trading recall
    inside degenerate clusters (e.g. thousands of byte-identical or
    signature-zero inputs — the media sweep measured a 46%-collapsed
    corpus going quadratic, BENCH/BASELINE.md) for a hard bound on
    join fan-out. A pair inside a dropped bucket can still surface
    through one of its other n_bands-1 buckets, so only pairs hot in
    EVERY band are lost — precisely the degenerate mass the cap
    exists to shed. Costs one extra count window on the same
    (band, chunk) exchange the join already pays."""
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands={n_bands} must divide 64")
    if strict and max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the pigeonhole "
            "recall guarantee only covers hamming < n_bands — raise n_bands "
            "(8 bands cover hamming <= 7) instead of silently losing pairs, "
            "or pass strict=False to accept best-effort recall"
        )
    bands = signature_bands(sig, id_col, sig_col, n_bands, segment_cols)
    seg = list(segment_cols)
    if max_bucket is not None:
        wb = Window.partitionBy("band", "chunk", *seg)
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    left = bands.select(
        F.col(id_col).alias("a_id"), F.col(sig_col).alias("a_sim"), *seg, "band", "chunk"
    )
    right = bands.select(
        F.col(id_col).alias("b_id"), F.col(sig_col).alias("b_sim"), *seg, "band", "chunk"
    )
    return (
        left.join(right, ["band", "chunk", *seg])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming64(F.col("a_sim"), F.col("b_sim")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def signature_bands(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    n_bands: int,
    segment_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sig, *segments, band, chunk): the banded decomposition of a
    64-bit signature relation — one explode, no shuffle. Shared by the
    self-join pair kernel above and the cross-set (batch vs corpus)
    variant below; also what a persisted fingerprint index stores."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    seg = list(segment_cols)
    return sig.select(
        id_col,
        sig_col,
        *seg,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(sig_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, sig_col, *seg, "bb.band", "bb.chunk")


def banded_hamming_join(
    new_sig: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sim",
    max_hamming: int = 3,
    n_bands: int = 4,
    segment_cols: tuple[str, ...] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """CROSS-SET banded hamming join: today's batch against a stored
    corpus — (new_id, corpus_id, hamming) with hamming <= max_hamming.
    `corpus_bands` is a signature_bands() relation (typically read from
    a persisted index partitioned by band); only the NEW side is banded
    here, so an increment never re-fingerprints the corpus. Same
    pigeonhole recall guarantee as the self-join kernel; the corpus
    side's n_bands must match (the index manifest enforces it).

    `max_bucket` (ADVICE r5): the self-join kernel caps degenerate
    buckets but this cross-set twin did not — a collapsed signature
    cluster in the STORED index (silence/black frames; the r5 sweep
    measured a 46%-collapsed corpus) fans every matching new row out
    over the whole cluster. The cap drops over-full (band, chunk[,seg])
    groups on the CORPUS side before the join — same recall trade as
    the self-join cap (an exact-dup-collapsed index should not need
    it); None preserves full recall."""
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands={n_bands} must divide 64")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: pigeonhole "
            "recall only covers hamming < n_bands"
        )
    seg = list(segment_cols)
    if max_bucket is not None:
        wb = Window.partitionBy("band", "chunk", *seg)
        corpus_bands = (
            corpus_bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    left = signature_bands(new_sig, id_col, sig_col, n_bands, segment_cols).select(
        F.col(id_col).alias("new_id"), F.col(sig_col).alias("a_sim"), *seg, "band", "chunk"
    )
    right = corpus_bands.select(
        F.col(id_col).alias("corpus_id"), F.col(sig_col).alias("b_sim"), *seg,
        "band", "chunk",
    )
    return (
        left.join(right, ["band", "chunk", *seg])
        .select(
            "new_id",
            "corpus_id",
            hamming64(F.col("a_sim"), F.col("b_sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
