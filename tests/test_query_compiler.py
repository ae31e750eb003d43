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
        # one url holds a quote and a %: key lookups take it verbatim
        # (it sorts where qc://013 would, so doc ids are unchanged)
        url = f"qc://{i:03d}" + ("'%" if i == 13 else "")
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
    # a range-only query whose range keeps no doc: no kernel input at all
    assert eng.search("", mode="bm25", k=10, ranges=empty_range).count() == 0
    assert eng.count("", ranges=empty_range) == 0
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


def test_bounded_msearch_materialize_is_a_top_k(eng, distributed):
    """An all-top-k batch's doc_store join ends in ``limit(Σ(offset +
    k))`` (the join is 1:1, so no row changes): a top-k, no
    range-partitioned sort.  A batch with a parity entry keeps it."""
    top_k = [q for q in _mixed(6) if q.get("mode") != "parity"]
    n = sum(q.get("offset", 0) + q["k"] for q in top_k)
    p = _plan(eng.msearch(top_k))
    assert p.splitlines()[1].lstrip(" +-").startswith(f"TakeOrderedAndProject(limit={n},")
    assert "rangepartitioning" not in p
    p = _plan(eng.msearch(_mixed(6)))
    assert "TakeOrderedAndProject" not in p and "rangepartitioning(" in p


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
    # the input is read by key and the top-k finished in the driver:
    # the query is a local relation of its hits
    assert (n_jobs, n_collect, grouped) == (0, 0, []), (n_jobs, n_collect)
    assert rows == want and len(rows) == 5
    assert "LocalTableScan" in _plan(df) and "FlatMapGroupsInPandas" not in _plan(df)


def test_top_k_queries_run_no_spark_job(spark, eng):
    """A warm bm25 query, a prefix query and an all-top-k msearch each
    run no Spark job, built or collected, and give the distributed
    path's rows."""
    batch = [{"word": "alpha", "k": 3}, {"word": "beta gamma", "operator": "or", "k": 2},
             {"word": "gamma", "k": 2, "offset": 1, "exclude_words": "alpha"},
             {"word": "delta", "tags": ["naïve"], "k": 2}]
    cases = {"search": lambda: _search(eng, {"word": "alpha beta", "k": 3, "offset": 1}),
             "prefix": lambda: eng.search_prefix("al", k=4),
             "msearch": lambda: eng.msearch(batch)}
    for name, build in cases.items():
        want = _exact(build())  # warm: term stats memoized
        df, n_built = _jobs(spark, build)
        got, n_collected = _jobs(spark, lambda: _exact(df))
        assert (n_built, n_collected) == (0, 0), name
        with _path("distributed"):
            dist = build()
            assert got == want == _exact(dist) and df.schema == dist.schema, name
        assert got, name
    # the whole prefix query, its expansion read by key in the driver
    df, n_built = _jobs(spark, lambda: eng.search_prefix("al", k=4))
    assert n_built == 0 and _jobs(spark, df.collect)[1] == 0


def _spark_reads(spark, idx):
    """An engine on ``idx`` whose reads by key are Spark jobs, as on an
    index pyarrow cannot open (``s3a://``)."""
    e = SearchEngine(spark, idx)
    e.__dict__["_arrow_root"] = None
    return e


# reads by key: a cold term's statistics, a prefix's dictionary
# expansion, doc_map then doc_store for a key, doc_store for doc ids
BY_KEY = {
    "cold term": lambda e: e.search("beta gamma", mode="bm25", k=3),
    "prefix": lambda e: e.search_prefix("ga", k=4),
    "key hit": lambda e: e.find_by_key("qc://013'%"),
    "key via search": lambda e: e.search("unique_key:qc://013'%"),
    "key miss": lambda e: e.find_by_key("qc://013'%x"),
    "get_doc": lambda e: e.get_doc("d7"),
    "get_docs": lambda e: e.get_docs([1, 7, 22, 23, 999]),
}


def test_reads_by_key_run_no_spark_job(spark, qc_index):
    """On an engine whose files are listed, cold-term resolution, prefix
    expansion, key lookups and doc id fetches read by key in the driver:
    no Spark job built or collected, and the rows (score bits
    included) and schema of the Spark reads.  ``get_docs`` rows come in
    no particular order."""
    ref = _spark_reads(spark, qc_index)
    eng = SearchEngine(spark, qc_index)
    _exact(eng.search("alpha", mode="bm25", k=1))  # lists the tables
    _exact(eng.find_by_key("qc://001"))
    for name, build in BY_KEY.items():  # the cold term first
        df, n_built = _jobs(spark, lambda: build(eng))
        got, n_collected = _jobs(spark, lambda: _exact(df))
        assert (n_built, n_collected) == (0, 0), name
        want = build(ref)
        assert sorted(got) == sorted(_exact(want)) and df.schema == want.schema, name
        assert "LocalTableScan" in _plan(df), name
    assert len(_exact(BY_KEY["get_docs"](ref))) == 4
    for key, n in (("qc://013'%", 1), ("qc://013'%x", 0)):
        got, n_jobs = _jobs(spark, lambda: eng.count("unique_key:" + key))
        assert (got, n_jobs) == (n, 0) and ref.count("unique_key:" + key) == n, key


def test_large_reads_by_key_take_spark_jobs(spark, qc_index, monkeypatch):
    """A read by key whose files hold more than ``_LOCAL_FETCH_BYTES``
    (a term_stats bucket, doc_map or a doc_store shard at crawl scale)
    runs the Spark plan instead, with the rows and schema of the
    driver's read."""
    eng = SearchEngine(spark, qc_index)
    want = {name: build(eng) for name, build in BY_KEY.items()}
    monkeypatch.setattr(S, "_LOCAL_FETCH_BYTES", 0)
    eng = SearchEngine(spark, qc_index)
    for name, build in BY_KEY.items():
        df, n_built = _jobs(spark, lambda: build(eng))
        got, n_collected = _jobs(spark, lambda: _exact(df))
        assert n_built + n_collected > 0, name
        assert sorted(got) == sorted(_exact(want[name])), name
        assert df.schema == want[name].schema, name


def test_doc_ids_past_the_last_shard_read_nothing(spark, qc_index):
    """Doc ids come from clients (``_mget``): ids far past the last
    shard open no file and leave no per-shard state in the engine."""
    eng = SearchEngine(spark, qc_index)
    shards = set(eng._files("doc_store"))
    far = [7] + [10 ** 6 * i for i in range(1, 200)] + [2 ** 62]
    df, n_jobs = _jobs(spark, lambda: eng.get_docs(far))
    assert n_jobs == 0 and [r["doc_id"] for r in df.collect()] == [7]
    assert set(eng._part_bytes["doc_store"]) <= shards
    assert _exact(df) == _exact(_spark_reads(spark, qc_index).get_docs(far))


def test_prefix_reads_only_its_buckets(spark, eng, monkeypatch):
    """A prefix expansion hands ``_scan`` only the term_stats buckets
    from the prefix's own to the last one holding one of its terms."""
    import bisect

    bounds = eng.manifest["term_bounds"]
    terms = [r["term"] for r in eng.term_stats.select("term").collect()]
    seen = []
    real = SearchEngine._scan
    monkeypatch.setattr(SearchEngine, "_scan", lambda self, table, parts, *a: seen.append(
        (table, sorted(parts))) or real(self, table, parts, *a))
    for prefix in ("al", "gam", "t3", "zz"):
        eng.search_prefix(prefix, k=2)
        first = bisect.bisect_right(bounds, prefix)
        last = max((bisect.bisect_right(bounds, t) for t in terms if t.startswith(prefix)),
                   default=first)
        assert [p for t, p in seen if t == "term_stats"] == [list(range(first, last + 1))], prefix
        seen.clear()


def test_count_runs_no_spark_job(spark, eng):
    """``count`` on the local path is the number of parity rows the
    kernel produced in the driver: no Spark job, and the distributed
    path's count."""
    cases = [("alpha", {}), ("beta gamma", {"exclude_words": "delta"}),
             ("alpha", {"tags": ["naïve"], "exclude_tags": ["it's"]}), ("nosuchword", {})]
    for word, kw in cases:
        eng.count(word, **kw)  # warm: term stats memoized
        n, n_jobs = _jobs(spark, lambda: eng.count(word, **kw))
        assert n_jobs == 0, (word, kw)
        with _path("distributed"):
            assert eng.count(word, **kw) == n, (word, kw)
    assert eng.count("alpha") > 0


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


def test_local_reader_equals_the_spark_groups(eng):
    """The by-key reader gives exactly the frame the Spark plan collects:
    the same rows, per-group row order, dtypes and NULL sidecars, for a
    batch holding every entry of KINDS, OR with must_not and tags with
    a quote and non-ASCII characters."""
    batch = KINDS + [
        {"word": "alpha beta", "operator": "or", "k": 5, "exclude_words": "gamma"},
        {"word": "beta", "tags": ["q'\\x", "日本"], "k": 4},
        {"word": "", "tags": ["it's"], "exclude_tags": ["naïve"], "mode": "parity"},
    ]
    b = eng._batch([eng._spec(**{**q, "mode": q.get("mode") or "bm25",
                                 "k": q.get("k", 10 if q.get("mode") != "parity" else None)})
                    for q in batch])
    local = eng._local_groups(b)
    spark = eng._spark_groups(b, 4).toPandas()
    assert sorted(local.columns) == sorted(spark.columns)
    spark = spark[list(local.columns)]
    assert local.dtypes.equals(spark.dtypes)
    key = ["qid", "shard"]
    groups = [(k, g.reset_index(drop=True)) for k, g in local.groupby(key, sort=True)]
    want = [(k, g.reset_index(drop=True)) for k, g in spark.groupby(key, sort=True)]
    assert [k for k, _ in groups] == [k for k, _ in want]
    for (k, g), (_, w) in zip(groups, want):
        assert g.equals(w), k  # rows, their order, values and NULLs
    assert {q for (q, _), _ in groups} == set(b.kernels)
    assert set(local["kind"]) == {"term", "not", "tag", "nottag", "len"}
    assert (local["name"] == S._RANGE_NAME).any()
    assert local.loc[local["kind"] == "term", "pos_blob"].isna().any()


def test_unresolvable_filesystem_takes_the_exchange(spark, qc_index, monkeypatch):
    """An index whose scheme pyarrow cannot open (``s3a://``) sends every
    query down the distributed plan, with the same rows."""
    from pyarrow import fs as pafs

    assert S._arrow_filesystem("s3a://bucket/index") is None

    real = pafs.FileSystem

    class Unresolvable:
        @staticmethod
        def from_uri(uri):  # pyarrow on the index as an s3a:// path
            return real.from_uri("s3a://bucket" + uri)

    want = {}
    for q in KINDS:
        want[str(q)] = _exact(_search(SearchEngine(spark, qc_index), q))
    monkeypatch.setattr(S.pafs, "FileSystem", Unresolvable)
    eng = SearchEngine(spark, qc_index)
    for q in KINDS:
        df = _search(eng, q)
        assert "FlatMapGroupsInPandas" in _plan(df), q
        assert _exact(df) == want[str(q)], q


def test_large_hit_fetch_takes_the_broadcast_join(spark, eng, monkeypatch):
    """A driver-scored top-k whose hit shards' doc_store files exceed
    ``_LOCAL_FETCH_BYTES`` fetches its hits through the broadcast join
    on the executors, with the rows of the driver's fetch."""
    batch = [{"word": "alpha", "k": 3}, {"word": "beta gamma", "operator": "or", "k": 2}]
    cases = {"search": lambda: _search(eng, {"word": "alpha beta", "k": 3, "offset": 1}),
             "msearch": lambda: eng.msearch(batch)}
    want = {name: build() for name, build in cases.items()}
    monkeypatch.setattr(S, "_LOCAL_FETCH_BYTES", 0)
    for name, build in cases.items():
        df, n_built = _jobs(spark, build)
        p = _plan(df)
        assert n_built == 0 and "BroadcastHashJoin" in p and "LocalTableScan" in p, name
        assert "BroadcastHashJoin" not in _plan(want[name]), name
        assert _exact(df) == _exact(want[name]) and df.schema == want[name].schema, name
        assert _exact(df), name


def _fails_on_missing_files(fn):
    with pytest.raises(Exception) as e:
        fn()
    assert isinstance(e.value, FileNotFoundError) or re.search(
        r"FileNotFound|does not exist", str(e.value)), e.value


@pytest.mark.parametrize("reads", ("by_key", "spark"))
def test_rewritten_dictionary_fails_loudly(spark, qc_index, tmp_path, reads):
    """term_stats and doc_map are read from the files Spark listed too:
    a term_stats bucket rewritten after the engine opened fails a cold
    term's resolution, a doc_map rewritten after a key lookup opened it
    fails the next lookup, on both kinds of read."""
    idx = str(tmp_path / "idx")
    shutil.copytree(qc_index, idx)

    def engine():
        return SearchEngine(spark, idx) if reads == "by_key" else _spark_reads(spark, idx)

    def rename(table):
        for f in tmp_path.glob(f"idx/{table}/**/*.parquet"):
            f.rename(f.with_name("new-" + f.name))

    eng = engine()
    rename("term_stats")
    _fails_on_missing_files(lambda: eng.search("alpha", mode="bm25", k=3))
    assert _exact(engine().search("alpha", mode="bm25", k=3))
    eng = engine()
    assert _exact(eng.find_by_key("qc://001"))
    rename("doc_map")
    _fails_on_missing_files(lambda: _exact(eng.find_by_key("qc://002")))
    assert _exact(engine().find_by_key("qc://002"))


@pytest.mark.parametrize("path", PATHS)
def test_rewritten_shard_fails_loudly(spark, qc_index, tmp_path, path):
    """Both paths read the files Spark listed when the engine opened.  A
    shard rewritten since then (a dynamic partition overwrite gives its
    files new names) or whose directory is briefly missing fails the
    engine's query loudly: it is never scored against the engine's old
    term statistics, nor read as an empty shard."""
    idx = str(tmp_path / "idx")
    shutil.copytree(qc_index, idx)
    q = {"word": "alpha", "k": 5}
    with _path(path):
        want = _exact(_search(SearchEngine(spark, idx), q))
        for table in ("postings", "doc_store"):
            shards = sorted(tmp_path.glob(f"idx/{table}/shard=*"))
            eng = SearchEngine(spark, idx)
            for f in [f for d in shards for f in d.glob("*.parquet")]:
                f.rename(f.with_name("new-" + f.name))
            _fails_on_missing_files(lambda: _exact(_search(eng, q)))
            assert _exact(_search(SearchEngine(spark, idx), q)) == want
            eng = SearchEngine(spark, idx)
            for d in shards:
                d.rename(d.with_name("moved-" + d.name))
            _fails_on_missing_files(lambda: _exact(_search(eng, q)))
            for d in shards:
                d.with_name("moved-" + d.name).rename(d)
            assert _exact(_search(eng, q)) == want
