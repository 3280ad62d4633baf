"""Every __spark_entry__ query vs its DuckDB oracle at sf0.001 — the
in-repo twin of the driver's CORRECTNESS gate (row count + columns +
order-insensitive values)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from fluent_server_spark.queries import all_queries  # noqa: E402
from scripts.check_entry import TABLES, compare  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
# a second input: sf0.01's documents and embeddings are a different
# 500-row draw, not a larger one
SF_DIR_2 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
# the queries whose kernels have exactly one physical plan, each pinned
# by its oracle on both inputs
SECOND_INPUT = (
    "ann_topk_ivf",
    "ann_topk_lsh",
    "bm25_topk",
    "embedding_neardup_lsh",
    "minhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "semdedup_drop",
    "simhash_neardup_pairs",
    "substring_dedup",
)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_DIR)


@pytest.fixture(scope="module")
def duck2():
    return _duck(SF_DIR_2)


_SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_matches_oracle(spark, duck, name):
    spec = _SPECS[name]
    sdf = spec.fn(spark, SF_DIR).toPandas()
    if spec.sql is None:
        assert len(sdf) >= 0  # rows-only: semantics pinned elsewhere
        return
    ddf = duck.sql(spec.sql).df()
    err = compare(sdf, ddf)
    assert err is None, f"{name}: {err}"


@pytest.mark.parametrize("name", SECOND_INPUT)
def test_query_matches_oracle_second_input(spark, duck2, name):
    spec = _SPECS[name]
    err = compare(spec.fn(spark, SF_DIR_2).toPandas(), duck2.sql(spec.sql).df())
    assert err is None, f"{name}: {err}"
