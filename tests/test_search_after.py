"""ES search_after deep paging (flagged extension).

Cursor-walking pages must tile the (score DESC, doc_id ASC) total order
exactly — across every kernel (single-term block-max fast path,
multi-term conjunctive block-max, the general AND kernel under a tag
filter or must_not exclusion, and the disjunctive maxscore kernel) —
while per-shard state stays k-bounded at any depth (unlike offset
paging's offset+k candidates).
"""

import shutil

import pytest
from pyspark.sql import functions as F

from watertower_spark.operators.index_build import build_index
from watertower_spark.operators.search import SearchEngine


@pytest.fixture(scope="module")
def sa_index(spark, tmp_index_root):
    """16 docs over 4 shards: every doc has 'shared', even docs carry
    the adjacent phrase 'red apple', odd docs 'blue berry', parity tags
    p0/p1 — enough co-occurrence to drive every kernel."""
    rows = [
        (
            f"sa://{i:03d}",
            None,
            None,
            f"t{i}\n\nshared doc{i} "
            + ("red apple " * (1 + i % 3) if i % 2 == 0 else "blue berry "),
            "en",
        )
        for i in range(16)
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    tags = docs.select(
        "url",
        F.array(
            F.lit("all"),
            F.concat(F.lit("p"), (F.substring("url", 6, 3).cast("int") % 2).cast("string")),
        ).alias("tags"),
    )
    idx = f"{tmp_index_root}/sa_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, analyzer_lang="en", docs_per_shard=4)
    return idx


def _walk(eng, page, **kw):
    """Cursor-walk to exhaustion; returns [(doc_id, score), ...]."""
    out, cursor = [], None
    while True:
        rows = eng.search(k=page, search_after=cursor, mode="bm25", **kw).collect()
        if not rows:
            return out
        out += [(r["doc_id"], r["score"]) for r in rows]
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])


def test_search_after_tiles_every_kernel(spark, sa_index):
    _check_tiles(SearchEngine(spark, sa_index))


def test_search_after_tiles_every_kernel_distributed(spark, sa_index, distributed):
    """The same walks through the distributed exchange (the test index
    is small, so the test above scores in the driver)."""
    _check_tiles(SearchEngine(spark, sa_index))


def _check_tiles(eng):
    # single-term block-max fast path
    full = [(r["doc_id"], r["score"]) for r in
            eng.search("shared", mode="bm25", k=16).collect()]
    assert len(full) == 16
    assert _walk(eng, 3, search_word="shared") == full

    # multi-term conjunctive block-max (phrase 'red apple' passes on
    # even docs; tf varies so scores are non-trivial)
    full = [(r["doc_id"], r["score"]) for r in
            eng.search("red apple", mode="bm25", k=16).collect()]
    assert len(full) == 8
    assert _walk(eng, 3, search_word="red apple") == full

    # general kernel via a conjunctive tag filter
    full = [(r["doc_id"], r["score"]) for r in
            eng.search("shared", tags=["p1"], mode="bm25", k=16).collect()]
    assert len(full) == 8
    assert _walk(eng, 3, search_word="shared", tags=["p1"]) == full

    # general kernel via must_not exclusion (fast paths defer)
    full = [(r["doc_id"], r["score"]) for r in
            eng.search("shared", mode="bm25", k=16,
                       exclude_words="red").collect()]
    assert len(full) == 8
    assert _walk(eng, 3, search_word="shared", exclude_words="red") == full

    # disjunctive maxscore kernel
    full = [(r["doc_id"], r["score"]) for r in
            eng.search("red blue", mode="bm25", operator="or", k=16).collect()]
    assert len(full) == 16
    assert _walk(eng, 5, search_word="red blue", operator="or") == full


def test_search_after_equals_offset_pages(spark, sa_index):
    """The cursor path and the offset path reach the SAME page through
    different machinery — page 2 by cursor == page 2 by from/size."""
    eng = SearchEngine(spark, sa_index)
    p1 = eng.search("shared", mode="bm25", k=5).collect()
    by_cursor = eng.search("shared", mode="bm25", k=5,
                           search_after=(p1[-1]["score"], p1[-1]["doc_id"])).collect()
    by_offset = eng.search("shared", mode="bm25", k=5, offset=5).collect()
    assert [(r["doc_id"], r["score"]) for r in by_cursor] \
        == [(r["doc_id"], r["score"]) for r in by_offset]


def test_search_after_past_the_end_and_contracts(spark, sa_index):
    eng = SearchEngine(spark, sa_index)
    full = eng.search("shared", mode="bm25", k=16).collect()
    last = full[-1]
    assert eng.search("shared", mode="bm25", k=5,
                      search_after=(last["score"], last["doc_id"])).count() == 0
    with pytest.raises(ValueError, match="mutually exclusive"):
        eng.search("shared", mode="bm25", k=3, offset=3,
                   search_after=(1.0, 0))
    with pytest.raises(ValueError, match="mode='bm25'"):
        eng.search("shared", k=3, search_after=(1.0, 0))  # parity mode
    with pytest.raises(ValueError, match="mode='bm25'"):
        eng.search("shared", mode="bm25", search_after=(1.0, 0))  # no k
