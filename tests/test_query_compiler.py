"""The query compiler: every entry point builds its kernel input in one
place (``SearchEngine._compile``), so ``msearch`` entries mean exactly
what ``search`` arguments mean, page arguments are validated once, and
the compiled plan's shape does not grow with the batch width."""

import datetime as dt
import re
import shutil
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from watertower_spark.operators.index_build import build_index
from watertower_spark.operators import search as S
from watertower_spark.operators.search import SearchEngine

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
# raw user strings: a quote, a backslash and non-ASCII characters must
# reach the tag filter and the fan-out map unchanged
TAGS = ["it's", "back\\slash", "naïve", "日本", "q'\\x", "plain"]
EPOCH = dt.datetime(2020, 1, 1)


@pytest.fixture(scope="module")
def qc_index(spark, tmp_index_root):
    """40 docs over 8 shards, words from a skewed 8-word vocabulary,
    one doc per day, 0-3 tags each."""
    rows, tag_rows = [], []
    for i in range(40):
        words = [VOCAB[(i * 7 + j * j) % (3 + j % 6)] for j in range(6 + i % 9)]
        url = f"qc://{i:03d}"
        rows.append((url, EPOCH + dt.timedelta(days=i), None,
                     f"t{i}\n\n" + " ".join(words), "en"))
        tag_rows.append((url, [t for j, t in enumerate(TAGS) if (i + j) % 3 == 0]))
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string")
    tags = spark.createDataFrame(tag_rows, "url string, tags array<string>")
    idx = f"{tmp_index_root}/qc_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, analyzer_lang="en", docs_per_shard=5)
    return idx


@pytest.fixture(scope="module")
def eng(spark, qc_index):
    return SearchEngine(spark, qc_index)


def _cutoff(n_bytes: int):
    """``_compile`` scores a kernel input in the driver only while its
    bound is within ``_LOCAL_INPUT_BYTES``; -1 means never (the
    distributed path)."""
    return mock.patch.object(S, "_LOCAL_INPUT_BYTES", n_bytes)


def _path(path: str):
    return _cutoff(-1 if path == "distributed" else 1 << 40)


def _rows(df):
    return [(r["url"], round(r["score"], 9)) for r in df.collect()]


def _msearch_rows(eng, entries):
    got: dict = {}
    for r in eng.msearch(entries).collect():
        got.setdefault(r["qid"], []).append((r["url"], round(r["score"], 9)))
    return got


def _search(eng, q):
    """``search()`` with an msearch entry's meaning of each key."""
    kw = dict(q)
    mode = kw.pop("mode", None) or "bm25"
    k = kw.pop("k", 10 if mode == "bm25" else None)
    return eng.search(kw.pop("word", ""), mode=mode, k=k, **kw)


@st.composite
def query_specs(draw):
    op = draw(st.sampled_from(["and", "or"]))
    mode = "bm25" if op == "or" else draw(st.sampled_from(["bm25", "parity"]))
    words = draw(st.lists(st.sampled_from(VOCAB + ["nosuchword"]),
                          min_size=0 if op == "and" else 1, max_size=3))
    q = {"word": " ".join(words), "mode": mode, "operator": op}
    q["tags"] = draw(st.lists(st.sampled_from(TAGS + ["absent"]), max_size=2))
    if draw(st.booleans()):
        q["exclude_words"] = draw(st.sampled_from(VOCAB))
    if draw(st.booleans()):
        q["exclude_tags"] = [draw(st.sampled_from(TAGS))]
    if draw(st.booleans()):
        day = EPOCH + dt.timedelta(days=draw(st.integers(0, 45)))
        q["ranges"] = {"warc_ts": {draw(st.sampled_from(["gte", "lt"])):
                                   day.isoformat(sep=" ")}}
    if mode == "bm25":
        q["k"] = draw(st.sampled_from([0, 1, 3, 10] + ([None] if op == "and" else [])))
        if q["k"] is not None and draw(st.booleans()):
            q["search_after"] = (draw(st.sampled_from([0.5, 1.0, 2.0])),
                                 draw(st.integers(0, 40)))
        else:
            q["offset"] = draw(st.integers(0, 3))
    if not (q["word"] or q["tags"] or "ranges" in q):
        q["tags"] = ["plain"]
    return q


def _exact(df):
    """Every column of every row, in order; floats by their bits."""
    return [tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in df.collect()]


PATHS = ("local", "distributed")


@settings(max_examples=8, deadline=None)
@given(query_specs())
def test_msearch_of_one_equals_search(eng, q):
    exact = {}
    for path in PATHS:
        with _path(path):
            df = _search(eng, q)
            assert _msearch_rows(eng, [q]).get(0, []) == _rows(df), path
            exact[path] = _exact(df)
    assert exact["local"] == exact["distributed"]


@settings(max_examples=3, deadline=None)
@given(st.lists(query_specs(), min_size=2, max_size=4))
def test_msearch_batch_equals_per_query_searches(eng, batch):
    exact = {}
    for path in PATHS:
        with _path(path):
            got = _msearch_rows(eng, batch)
            for qid, q in enumerate(batch):
                assert got.get(qid, []) == _rows(_search(eng, q)), f"{path} qid {qid}: {q}"
            exact[path] = _exact(eng.msearch(batch))
    assert exact["local"] == exact["distributed"]


def test_page_arguments_are_validated_once(eng):
    for kw in ({"k": -1}, {"k": 3, "offset": -2}):
        with pytest.raises(ValueError, match=">= 0"):
            eng.search("alpha", mode="bm25", **kw)
        with pytest.raises(ValueError, match=">= 0"):
            eng.msearch([dict(word="alpha", **kw)])
    with pytest.raises(ValueError, match=">= 0"):
        eng.search_prefix("al", k=-1)
    # k=0 is the defined empty result, on every kernel and in a batch
    assert eng.search("alpha", mode="bm25", operator="or", k=0).count() == 0
    assert eng.search("alpha", mode="bm25", k=0).count() == 0
    assert eng.search_fuzzy("alpah", k=0).count() == 0
    got = _msearch_rows(eng, [{"word": "alpha", "k": 0},
                              {"word": "alpha beta", "operator": "or", "k": 0},
                              {"word": "alpha", "k": 2}])
    assert sorted(got) == [2] and len(got[2]) == 2


def test_msearch_honours_every_entry_key(eng):
    empty_range = {"warc_ts": {"gte": "2031-01-01"}}
    assert eng.search("alpha", mode="bm25", k=10, ranges=empty_range).count() == 0
    entries = [
        {"word": "alpha", "ranges": empty_range},
        {"word": "alpha", "k": 3, "offset": 2},
        {"word": "alpha", "k": 3, "search_after": (1.0, 5)},
        {"word": "alpha", "lang": "en", "tags": ["naïve"], "exclude_tags": ["it's"]},
    ]
    got = _msearch_rows(eng, entries)
    assert 0 not in got
    for qid, q in enumerate(entries[1:], start=1):
        assert got.get(qid, []) == _rows(_search(eng, q))
    with pytest.raises(ValueError, match="wrod"):
        eng.msearch([{"wrod": "alpha"}])


def _plan(df) -> str:
    """The executed physical plan before execution (AQE's initial plan),
    without the dynamic-pruning subqueries that repeat a join side."""
    out, sub = [], None
    for ln in df._jdf.queryExecution().executedPlan().toString().splitlines():
        depth = len(ln) - len(ln.lstrip(" :+-"))
        if sub is not None and depth > sub:
            continue
        sub = depth if "Subquery" in ln else None
        out.append(ln)
    return "\n".join(out)


def test_single_query_plan_shape(eng, distributed):
    p = _plan(eng.search("alpha beta", mode="bm25", k=5))
    # kernel exchange and broadcast of the top-k; the final order is a
    # top-k over the 1:1 doc_store join, with no exchange of its own
    assert len(re.findall(r"Exchange ", p)) == 2
    post = [ln for ln in p.splitlines() if "/postings" in ln and "FileScan" in ln]
    assert len(post) == 1
    assert "PushedFilters: [In(term, [alpha,beta])" in post[0]
    assert re.search(r"PartitionFilters: \[.*shard#\d+ IN \(", post[0])


def _mixed(width: int) -> list:
    pattern = [
        {"word": "alpha", "k": 3},
        {"word": "beta gamma", "mode": "parity"},
        {"word": "alpha beta", "operator": "or", "k": 5, "exclude_tags": ["plain"]},
        {"word": "gamma", "k": 8, "exclude_words": "alpha"},
        {"word": "alpha", "tags": ["naïve"], "mode": "parity"},
        {"word": "delta", "tags": ["q'\\x"], "k": 2},
    ]
    return [pattern[i % len(pattern)] for i in range(width)]


def test_msearch_plan_shape(eng, distributed):
    p = _plan(eng.msearch(_mixed(6), materialize=False))
    assert p.count("FlatMapGroupsInPandas") == 1
    assert len([ln for ln in p.splitlines()
                if "FileScan" in ln and "/postings" in ln]) == 1
    assert "BroadcastHashJoin" not in p
    # materialized: the doc_store join is the only broadcast join
    assert _plan(eng.msearch(_mixed(6))).count("BroadcastHashJoin") == 1
    # the plan does not grow with the batch
    n8, n32 = (len(_plan(eng.msearch(_mixed(w))).splitlines()) for w in (8, 32))
    assert n8 == n32


def test_bounded_materialize_is_a_top_k(eng, distributed):
    """A bm25 top-k's doc_store join ends in ``limit(k)``: one top-k,
    no range-partitioned global sort (its sampling job).  Parity
    results are unbounded and keep their global sort."""
    p = _plan(eng.search("alpha beta", mode="bm25", k=5))
    assert p.splitlines()[1].lstrip(" +-").startswith("TakeOrderedAndProject(limit=5,")
    assert "rangepartitioning" not in p
    p = _plan(eng.search("alpha beta", mode="parity"))
    assert "TakeOrderedAndProject" not in p and "rangepartitioning(" in p


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_small_bm25_query_has_no_python_stage(spark, eng, monkeypatch):
    from pyspark.sql.group import GroupedData

    q = dict(word="alpha beta", k=5)
    want = _exact(_search(eng, q))  # also memoizes the terms' stats
    grouped = []
    real = GroupedData.applyInPandas
    monkeypatch.setattr(GroupedData, "applyInPandas",
                        lambda self, *a, **kw: grouped.append(a) or real(self, *a, **kw))
    df, n_jobs = _jobs(spark, lambda: _search(eng, q))
    rows, n_collect = _jobs(spark, lambda: _exact(df))
    # one collect of the kernel input when the query is built; the
    # finishing plan over the local rows when it is collected
    assert (n_jobs, n_collect, grouped) == (1, 2, []), (n_jobs, n_collect)
    assert rows == want and len(rows) == 5
    assert "LocalTableScan" in _plan(df) and "FlatMapGroupsInPandas" not in _plan(df)


# every kind of kernel input and finishing step: tag, must_not, range,
# OR, offset, parity and search_after
KINDS = [
    {"word": "alpha", "tags": ["naïve"], "exclude_words": "delta",
     "exclude_tags": ["it's"], "k": 3},
    {"word": "alpha beta", "ranges": {"warc_ts": {"gte": "2020-01-10"}}, "k": 5},
    {"word": "alpha gamma", "operator": "or", "k": 4, "offset": 2},
    {"word": "beta gamma", "mode": "parity"},
    {"word": "gamma", "k": 3, "search_after": (1.0, 10)},
]


def _input_bytes(pdf) -> int:
    """The raw bytes of a collected kernel input: fixed-width columns
    plus every string and binary value."""
    return sum(int(pdf[c].to_numpy().nbytes) if pdf[c].dtype != object
               else sum(len(v.encode() if isinstance(v, str) else v)
                        for v in pdf[c] if v is not None)
               for c in pdf.columns)


def test_lowered_threshold_takes_the_exchange(spark, eng, monkeypatch):
    """Below a query's input bound the compiler takes the distributed
    exchange; both paths return the same rows (score bits included) and
    the same schema, materialized or not.  The bound covers the input
    the local path actually collects."""
    seen = []  # (bound, collected bytes) of each local run
    real_bound, real_run = S._input_bound, S._run_groups

    def bound(*a):
        seen.append([real_bound(*a)])
        return seen[-1][0]

    def run(pdf, dispatch):
        seen[-1].append(_input_bytes(pdf))
        return real_run(pdf, dispatch)

    monkeypatch.setattr(S, "_input_bound", bound)
    monkeypatch.setattr(S, "_run_groups", run)
    for q in KINDS:
        local = [_search(eng, {**q, "materialize": m}) for m in (False, True)]
        assert "FlatMapGroupsInPandas" not in _plan(local[0])
        with _cutoff(1):  # positive, and below every bound
            dist = [_search(eng, {**q, "materialize": m}) for m in (False, True)]
            assert "FlatMapGroupsInPandas" in _plan(dist[0])
            for a, b in zip(local, dist):
                assert a.schema == b.schema, q
                assert _exact(a) == _exact(b), q
        assert _exact(local[1]), q
    runs = [s for s in seen if len(s) == 2]
    assert len(runs) == 2 * len(KINDS)
    assert all(0 < n <= b for b, n in runs), runs
