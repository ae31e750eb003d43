"""Frozen BM25 rank goldens (FIXTURES.md §3 q10+).

Generated once from the engine (deterministic build + deterministic
tie-break by doc_id) and frozen here: any regression in the analyzer,
codec, intersection, or scorer that changes ranks fails these.
Queries span searchData + httpstatus (74 docs, lang=en).
"""

import json
import os

import pytest

from watertower_spark.operators.index_build import build_index
from watertower_spark.operators.search import SearchEngine
from watertower_spark.sources import corpus

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "bm25_ranks.json")

QUERIES = [
    ("request", "and"),
    ("the server", "and"),
    ("response code", "and"),
    ("client error", "or"),
    ("request header", "or"),
    ("cache", "or"),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_index_root):
    docs, tags = corpus.corpus_df(spark, corpora=("searchdata", "httpstatus"))
    idx = f"{tmp_index_root}/frozen"
    build_index(docs, tags, idx, default_lang="en", docs_per_shard=16)
    return SearchEngine(spark, idx)


def _ranks(engine):
    out = {}
    for q, op in QUERIES:
        rows = engine.search(q, None, "en", mode="bm25", operator=op, k=10).collect()
        out[f"{op}:{q}"] = [
            [r["url"], round(r["score"], 6)] for r in rows
        ]
    return out


def test_frozen_bm25_ranks(engine):
    got = _ranks(engine)
    if not os.path.exists(GOLDEN_PATH):  # first run freezes the goldens
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as f:
            json.dump(got, f, indent=1, ensure_ascii=False)
        pytest.skip("goldens frozen on first run — rerun to verify")
    _check(got)


def test_frozen_bm25_ranks_distributed(engine, distributed):
    """The goldens again, through the distributed exchange (the frozen
    index is small, so the test above scores in the driver)."""
    _check(_ranks(engine))


def _check(got):
    with open(GOLDEN_PATH) as f:
        want = json.load(f)
    assert set(got) == set(want)
    for key in want:
        got_urls = [u for u, _ in got[key]]
        want_urls = [u for u, _ in want[key]]
        assert got_urls == want_urls, f"{key}: rank order changed"
        for (gu, gs), (wu, ws) in zip(got[key], want[key]):
            assert abs(gs - ws) < 1e-6, f"{key}: score drift at {gu}"
    assert any(len(v) > 0 for v in want.values())
