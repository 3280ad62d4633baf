"""Seeded, cached, untimed inputs and their oracles.

Only the generated files reach the program. Each input lives under
`.perfbench/cache/<kind>-s<seed>-n<size>/` next to the oracle computed
from it, so a repeated seed reuses both.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import numpy as np
import pandas as pd

from common import CACHE, ROOT, nproc

ROLES = ["user", "assistant", "system", "tool"]
ROLE_P = [0.40, 0.40, 0.05, 0.15]
TOOLS = ["bash", "search", "read", "write", "none"]
TOOL_P = [0.20, 0.20, 0.15, 0.15, 0.30]
LEVELS = ["INFO", "WARN", "ERROR", "DEBUG"]
LEVEL_P = [0.70, 0.15, 0.10, 0.05]
COMPONENTS = ["planner", "executor", "memory", "router", "critic"]
MESSAGES = [
    "step completed",
    "retrying after transient failure",
    "cache hit for prompt prefix",
    "tool output truncated",
    "schema validated",
    "context window compacted",
    "handoff to subagent",
    "rate limit backoff",
]
HOT_FRACTION = 0.30  # one conversation holds ~30% of all turns
MALFORMED_P = 0.02  # ~2% of texts do not parse
EPOCH_2024 = 1_704_067_200


def gen_turns(seed: int, n: int, block: int = 0, n_blocks: int = 1,
              turns_per_conv: int = 40) -> pd.DataFrame:
    """A `turns` table with the FIXTURES §1 properties, drawn from `seed`:
    one hot conversation with ~30% of turns, dense turn_idx per
    conversation, ts monotone within a conversation, ~2% malformed text.

    With n_blocks > 1 this is block `block` of an n-turn table built in
    n_blocks independent pieces: each block draws from (seed, block), has
    its own range of ordinary conversations, and continues the hot
    conversation's turn_idx where the block before it stopped."""
    sizes = [n * (b + 1) // n_blocks - n * b // n_blocks for b in range(n_blocks)]
    hot = [int(m * HOT_FRACTION) for m in sizes]
    convs = [max((m - h) // turns_per_conv, 1) for m, h in zip(sizes, hot)]
    n, n_hot, n_convs = sizes[block], hot[block], convs[block]
    rng = np.random.default_rng(seed if n_blocks == 1 else [seed, block])
    conv = np.concatenate(
        [np.zeros(n_hot, np.int64),
         1 + sum(convs[:block]) + rng.integers(0, n_convs, n - n_hot)]
    )
    # dense 0..len-1 turn index per conversation, in generation order
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    turn_idx = np.empty(n, np.int64)
    turn_idx[order] = np.arange(n) - run_start
    turn_idx[conv == 0] += sum(hot[:block])

    role = np.asarray(ROLES)[rng.choice(len(ROLES), n, p=ROLE_P)]
    tool = np.asarray(TOOLS)[rng.choice(len(TOOLS), n, p=TOOL_P)]
    tool = np.where(np.isin(role, ["user", "system"]), "none", tool)
    level = pd.Series(np.asarray(LEVELS)[rng.choice(len(LEVELS), n, p=LEVEL_P)])
    comp = pd.Series(np.asarray(COMPONENTS)[rng.integers(0, len(COMPONENTS), n)])
    msg = pd.Series(np.asarray(MESSAGES)[rng.integers(0, len(MESSAGES), n)])
    dur = pd.Series(rng.integers(0, 5000, n)).astype(str)
    tok = pd.Series(rng.integers(0, 800, n)).astype(str)
    good = (
        "level=" + level + " component=" + comp + ' msg="' + msg + '"'
        + " dur_ms=" + dur + " tokens=" + tok
    )
    bad = "?garbled " + pd.Series(rng.integers(0, 1 << 40, n)).map("{:x}".format)
    text = np.where(rng.random(n) < MALFORMED_P, bad, good)
    ts_us = (
        (EPOCH_2024 + conv * 60 + turn_idx * 2) * 1_000_000
        + rng.integers(0, 1_000_000, n)
    )
    return pd.DataFrame(
        {
            "conv_id": pd.Series(conv).map("conv-{:08d}".format),
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": pd.to_datetime(ts_us, unit="us", utc=True),
        }
    )


def routed_oracle(turns: pd.DataFrame) -> dict[str, int]:
    """sink -> n_turns from the repo's independent pandas oracle."""
    from fluent_server_spark.oracle.pandas_oracle import (
        oracle_pipeline,
        oracle_routed_counts,
    )

    rc = oracle_routed_counts(oracle_pipeline(turns))
    return {r.sink: int(r.n_turns) for r in rc.itertuples()}


def _cached(kind: str, seed: int, n: int, build) -> str:
    """Directory holding one generated input; `build(dir)` fills it once."""
    d = os.path.join(CACHE, f"{kind}-s{seed}-n{n}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    _evict(keep=d)
    return d


def _evict(keep: str, max_entries: int = 24) -> None:
    """Bound the cache: drop the least recently built inputs."""
    dirs = [
        os.path.join(CACHE, x) for x in os.listdir(CACHE) if ".tmp" not in x
    ]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[: max(0, len(dirs) - max_entries)]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


BLOCK_TURNS = 250_000  # inputs this large are built in blocks, in parallel


def _turns_block(args: tuple) -> dict[str, int]:
    """Write one block of a turns table and return its oracle counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seed, n, block, n_blocks, d = args
    turns = gen_turns(seed, n, block, n_blocks)
    pq.write_table(
        pa.Table.from_pandas(turns, preserve_index=False),
        os.path.join(d, f"part-{block:05d}.parquet"),
        coerce_timestamps="us",
        row_group_size=64_000,
    )
    return routed_oracle(turns)


def turns_input(seed: int, n: int) -> tuple[str, dict[str, int]]:
    """(parquet dir, oracle sink counts) for the ingest workload. The
    oracle counts turns per sink row by row, so a block-built table's
    counts are the sums of its blocks' counts."""

    def build(d: str) -> None:
        table = os.path.join(d, "turns")
        os.makedirs(table)
        n_blocks = max(1, -(-n // BLOCK_TURNS))
        jobs = [(seed, n, b, n_blocks, table) for b in range(n_blocks)]
        if n_blocks == 1:
            parts = [_turns_block(jobs[0])]
        else:
            import multiprocessing as mp

            with mp.get_context("spawn").Pool(min(n_blocks, nproc())) as pool:
                parts = pool.map(_turns_block, jobs)
        oracle: dict[str, int] = {}
        for part in parts:
            for sink, k in part.items():
                oracle[sink] = oracle.get(sink, 0) + k
        with open(os.path.join(d, "oracle.json"), "w") as f:
            json.dump(oracle, f, sort_keys=True)

    d = _cached("turns", seed, n, build)
    with open(os.path.join(d, "oracle.json")) as f:
        return os.path.join(d, "turns"), json.load(f)


def _normalize(text: str) -> str:
    # the exact-dedup key's documented normalization: trim, lowercase,
    # collapse whitespace runs
    return re.sub(r"\s+", " ", text.strip().lower())


def docs_input(seed: int, n: int) -> tuple[str, dict]:
    """(parquet path, oracle) for the curate workload, built with
    scripts/make_sf.py's documents generator."""
    import pyarrow.parquet as pq

    def build(d: str) -> None:
        import sys

        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from scripts.make_sf import gen_documents

        table = gen_documents(np.random.default_rng(seed), n)
        pq.write_table(table, os.path.join(d, "documents.parquet"))
        texts = table.column("text").to_pylist()
        oracle = {
            "input": n,
            "exact_dedup": len({_normalize(t) for t in texts}),
            "bytes": os.path.getsize(os.path.join(d, "documents.parquet")),
        }
        with open(os.path.join(d, "oracle.json"), "w") as f:
            json.dump(oracle, f, sort_keys=True)

    d = _cached("docs", seed, n, build)
    with open(os.path.join(d, "oracle.json")) as f:
        return os.path.join(d, "documents.parquet"), json.load(f)


def sf_input(seed: int, n_docs: int, n_emb: int) -> str:
    """An sf-style dir for the query suite holding the two tables its
    queries read, `documents` and `embeddings`, built with
    scripts/make_sf.py's generators from `seed`."""

    import pyarrow.parquet as pq

    def build(d: str) -> None:
        import sys

        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from scripts.make_sf import gen_documents, gen_embeddings

        rng = np.random.default_rng(seed)
        pq.write_table(gen_documents(rng, n_docs), os.path.join(d, "documents.parquet"))
        pq.write_table(gen_embeddings(rng, n_emb), os.path.join(d, "embeddings.parquet"))

    return _cached(f"sf{n_emb}", seed, n_docs, build)


# ------------------------------------------------------------ live edge
def _bin(b: bytes) -> bytes:
    n = len(b)
    if n <= 0xFF:
        return b"\xc4" + n.to_bytes(1, "big") + b
    if n <= 0xFFFF:
        return b"\xc5" + n.to_bytes(2, "big") + b
    return b"\xc6" + n.to_bytes(4, "big") + b


def _str(s: str) -> bytes:
    b = s.encode("utf-8")
    if len(b) < 32:
        return bytes([0xA0 | len(b)]) + b
    return b"\xd9" + bytes([len(b)]) + b  # str8: tags and chunk ids are short


def packed_forward(tag: str, entries: bytes, chunk: str, size: int) -> bytes:
    """One PackedForward frame with `option.chunk`, so the edge acks it:
    [tag, bin(concatenated entries), {"chunk": id, "size": n}]."""
    option = (
        b"\x82" + _str("chunk") + _str(chunk)
        + _str("size") + b"\xcd" + size.to_bytes(2, "big")
    )
    return b"\x93" + _str(tag) + _bin(entries) + option


def live_input(seed: int, n_chunks: int, chunk_size: int) -> tuple[str, dict]:
    """(frames file, meta) for the live edge: n_chunks PackedForward frames
    of chunk_size turns each, plus the oracle over every turn sent and the
    (conv_id, turn_idx) -> chunk map the freshness poller needs."""
    from fluent_server_spark.sources.fluentfile import encode_entry

    n = n_chunks * chunk_size

    def build(d: str) -> None:
        turns = gen_turns(seed, n)
        sec = (turns["ts"].astype("int64") // 1_000_000_000).to_numpy()
        nsec = (turns["ts"].astype("int64") % 1_000_000_000).to_numpy()
        recs = turns[["conv_id", "turn_idx", "role", "text", "tool"]].to_dict("records")
        offsets = [0]
        with open(os.path.join(d, "frames.bin"), "wb") as f:
            for c in range(n_chunks):
                lo = c * chunk_size
                blob = b"".join(
                    encode_entry((int(sec[i]), int(nsec[i])), recs[i])
                    for i in range(lo, lo + chunk_size)
                )
                frame = packed_forward("turns", blob, f"c{c:06d}", chunk_size)
                f.write(frame)
                offsets.append(offsets[-1] + len(frame))
        meta = {
            "n_chunks": n_chunks,
            "chunk_size": chunk_size,
            "offsets": offsets,
            "oracle": routed_oracle(turns),
        }
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)
        turns[["conv_id", "turn_idx"]].to_parquet(os.path.join(d, "keys.parquet"))

    d = _cached(f"live{chunk_size}", seed, n_chunks, build)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    meta["keys"] = os.path.join(d, "keys.parquet")
    return os.path.join(d, "frames.bin"), meta
