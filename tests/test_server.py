"""HTTP surface (webapi/restapi/handlers.go): real server round trips —
ThreadingHTTPServer on an ephemeral port, stdlib urllib client — over a
real index.  Covers the reference's routing contract (404 unknown index,
400 non-unique_key q=, unique_key lookup, bool-DSL phrase search, the
DSL path returning exactly what the engine's parity search returns) and
the document CRUD half (handlers.go:16-79, 185-258): POST create →
GET _doc/_source → searchable → PUT update → DELETE → gone, plus the
id-parse quirks (GET/PUT hex `d<hex>` vs DELETE decimal) and their
400/404 messages."""

import json
import shutil
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from watertower_spark.operators.index_build import build_index
from watertower_spark.operators.search import SearchEngine
from watertower_spark.server import make_server
from watertower_spark.sources import corpus


@pytest.fixture(scope="module")
def served(spark, tmp_index_root):
    rows = corpus.fixture_rows(("searchdata",))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA,
    )
    tags = spark.createDataFrame(
        [(r["url"], r["tags"]) for r in rows], schema=corpus.TAG_SCHEMA
    )
    idx = f"{tmp_index_root}/http_srv"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3, default_lang="en")
    eng = SearchEngine(spark, idx)
    server = make_server({"default": eng})
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, eng
    server.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url, body):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_unknown_index_404(served):
    base, _ = served
    code, body = _get(f"{base}/indexes/nope/_search?q=unique_key:x")
    assert code == 404
    assert body["message"] == "index 'nope' is not found"


def test_q_requires_unique_key_prefix(served):
    base, _ = served
    code, body = _get(f"{base}/indexes/default/_search?q=hello")
    assert code == 400
    assert body["message"] == "q= query only supports searching unique_key"


def test_unique_key_lookup(served):
    base, _ = served
    key = urllib.parse.quote("unique_key:fixture://search/200 OK")
    code, body = _get(f"{base}/indexes/default/_search?q={key}")
    assert code == 200
    hits = body["hits"]["hits"]
    assert len(hits) == 1
    assert hits[0]["_type"] == "_doc"
    assert hits[0]["_index"] == "default"
    assert hits[0]["_source"]["unique_key"] == "fixture://search/200 OK"
    # miss → empty hit set, still a 200 (handlers.go:108-121)
    code, body = _get(
        f"{base}/indexes/default/_search?q=unique_key:no-such-doc")
    assert code == 200
    assert body["hits"]["hits"] == []
    assert body["hits"]["total"]["value"] == 0


def test_bool_dsl_matches_engine_parity(served):
    base, eng = served
    dsl = {
        "query": {
            "bool": {
                "must": {"match_phrase": {"content": {"query": "request"}}},
                "filter": {"terms": {"tags": ["NoBody"]}},
            }
        }
    }
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    got = [(h["_id"], round(h["_score"], 9)) for h in body["hits"]["hits"]]
    want = [
        (f"d{int(r['doc_id']):x}", round(r["score"], 9))
        for r in eng.search("request", ["NoBody"], "en", mode="parity").collect()
    ]
    assert got == want and got
    assert body["hits"]["total"]["value"] == len(want)
    assert body["timed_out"] is False and "took" in body


def _req(url, method, body=None):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"}, method=method,
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_doc_get_parse_and_miss_contract(served):
    """GET _doc/_source mirror handlers.go:23-79: id[1:] parsed as hex
    (any first char), 400 on garbage, 404 found:false / message on miss."""
    base, _ = served
    code, body = _get(f"{base}/indexes/default/_doc/zzz")
    assert code == 400
    assert body["message"] == "parse error id 'zzz' of index 'default'"
    code, body = _get(f"{base}/indexes/default/_doc/dffffff0")
    assert code == 404
    assert body["found"] is False and body["_source"] is None
    assert body["_id"] == "dffffff0" and body["_type"] == "_doc"
    code, body = _get(f"{base}/indexes/default/_source/dffffff0")
    assert code == 404
    assert body["message"] == (
        "document id 'dffffff0' in index 'default' is not found")
    code, body = _get(f"{base}/indexes/nope/_doc/d1")
    assert code == 404 and body["message"] == "index 'nope' is not found"


def test_doc_get_matches_search_source(served):
    """GET _doc returns the same _source the _search path materializes."""
    base, eng = served
    key = urllib.parse.quote("unique_key:fixture://search/200 OK")
    _, sr = _get(f"{base}/indexes/default/_search?q={key}")
    hit = sr["hits"]["hits"][0]
    code, body = _get(f"{base}/indexes/default/_doc/{hit['_id']}")
    assert code == 200 and body["found"] is True
    assert body["_source"] == hit["_source"]
    code, src = _get(f"{base}/indexes/default/_source/{hit['_id']}")
    assert code == 200 and src == hit["_source"]


def test_delete_decimal_id_quirk(served):
    """DELETE parses ids as DECIMAL (handlers.go:247) — a d-prefixed id
    is a parse error here, and an unknown id is the can't-remove 400."""
    base, _ = served
    code, body = _req(f"{base}/indexes/default/_doc/d1", "DELETE")
    assert code == 400
    assert body["message"] == "parse error id 'd1' of index 'default'"
    code, body = _req(f"{base}/indexes/default/_doc/4009999", "DELETE")
    assert code == 400
    assert body["message"] == (
        "can't remove document id '4009999' of index 'default':"
        " document is not found")


@pytest.fixture()
def crud_served(spark, tmp_index_root):
    """Function-scoped server over its own index — CRUD tests mutate it."""
    rows = corpus.fixture_rows(("searchdata",))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA,
    )
    tags = spark.createDataFrame(
        [(r["url"], r["tags"]) for r in rows], schema=corpus.TAG_SCHEMA
    )
    idx = f"{tmp_index_root}/http_crud"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3, default_lang="en")
    server = make_server({"default": SearchEngine(spark, idx)})
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    shutil.rmtree(idx, ignore_errors=True)


def test_document_crud_lifecycle(crud_served):
    """POST → GET → search → PUT → GET → DELETE → 404, over HTTP only
    (handlers.go:185-258 + the swagger-documented PUT extension)."""
    base = crud_served
    doc = {
        "unique_key": "crud://zebra/1", "lang": "en",
        "title": "Zebra chronicle",
        "content": "A zebraquark gallops through the index pipeline.",
        "tags": ["CrudTag"],
    }
    code, body = _req(f"{base}/indexes/default/_doc", "POST", doc)
    assert code == 200
    assert body["result"] == "created" and body["_type"] == "_doc"
    doc_id = body["_id"]
    assert doc_id.startswith("d")
    num = int(doc_id[1:], 16)

    code, got = _get(f"{base}/indexes/default/_doc/{doc_id}")
    assert code == 200 and got["found"] is True
    assert got["_source"]["unique_key"] == doc["unique_key"]
    assert got["_source"]["title"] == doc["title"]
    assert got["_source"]["content"] == doc["content"]

    dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
        "query": "zebraquark"}}}}}}
    code, sr = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    assert [h["_id"] for h in sr["hits"]["hits"]] == [doc_id]

    # PUT with a contradicting unique_key → 400; matching → updated
    code, body = _req(f"{base}/indexes/default/_doc/{doc_id}", "PUT",
                      {**doc, "unique_key": "crud://other"})
    assert code == 400 and "does not match" in body["message"]
    upd = {**doc, "content": "Now the zebraquark vanished into a wormhole."}
    code, body = _req(f"{base}/indexes/default/_doc/{doc_id}", "PUT", upd)
    assert code == 200 and body["result"] == "updated"
    code, got = _get(f"{base}/indexes/default/_source/{doc_id}")
    assert code == 200 and got["content"] == upd["content"]
    # unknown id → 404 (ids are engine-allocated; PUT cannot mint one)
    code, body = _req(f"{base}/indexes/default/_doc/dffffff0", "PUT", upd)
    assert code == 404

    code, body = _req(f"{base}/indexes/default/_doc/{num}", "DELETE")
    assert code == 200
    assert body == {"_index": "default", "_id": str(num)}
    code, got = _get(f"{base}/indexes/default/_doc/{doc_id}")
    assert code == 404 and got["found"] is False
    code, sr = _post(f"{base}/indexes/default/_search", dsl)
    assert sr["hits"]["hits"] == []
    # POST missing unique_key → 400
    code, body = _req(f"{base}/indexes/default/_doc", "POST", {"title": "x"})
    assert code == 400 and body["message"] == "unique_key is required"


def test_invalid_json_body_400(served):
    base, _ = served
    req = urllib.request.Request(
        f"{base}/indexes/default/_search", data=b"{not json",
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400


def test_prefix_dsl_extension(served):
    """must.prefix.content.value routes to search_prefix and returns the
    same hits as the engine API (flagged extension past handlers.go)."""
    base, eng = served
    dsl = {"query": {"bool": {"must": {"prefix": {"content": {"value": "respo"}}}}}}
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    hits = body["hits"]["hits"]
    direct = eng.search_prefix("respo", k=10).collect()
    assert hits and [h["_id"] for h in hits] == [
        f"d{int(r['doc_id']):x}" for r in direct
    ]
    # prefix composes with a tags filter but not with match_phrase/aggs
    both = {"query": {"bool": {
        "must": {"prefix": {"content": {"value": "re"}}}}},
        "aggs": {"t": {"terms": {"field": "tags"}}}}
    code, body = _post(f"{base}/indexes/default/_search", both)
    assert code == 400 and "prefix" in body["message"]


def test_terms_aggs_over_tags(served):
    """ES terms aggregation attaches an aggregations section whose
    buckets equal facet_tags over the same query."""
    base, eng = served
    dsl = {
        "query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}},
        "aggs": {"by_tag": {"terms": {"field": "tags", "size": 5}}},
    }
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    buckets = body["aggregations"]["by_tag"]["buckets"]
    exp = [(r["tag"], r["doc_count"])
           for r in eng.facet_tags("request", size=5).collect()]
    assert buckets and [(b["key"], b["doc_count"]) for b in buckets] == exp
    # an unsupported aggregation type is a loud 400 naming the supported set
    bad = dict(dsl, aggs={"x": {"avg": {"field": "wc"}}})
    code, body = _post(f"{base}/indexes/default/_search", bad)
    assert code == 400 and "terms" in body["message"]


def test_field_histogram_cardinality_aggs(served):
    """ES terms-over-column, histogram-over-wc and cardinality aggs all
    attach to one response and pin equal to the engine operators."""
    base, eng = served
    dsl = {
        "query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}},
        "aggs": {
            "by_lang": {"terms": {"field": "lang", "size": 3}},
            "by_len": {"histogram": {"field": "wc", "interval": 16}},
            "n_tags": {"cardinality": {"field": "tags"}},
        },
    }
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    aggs = body["aggregations"]
    exp_lang = [(r["key"], r["doc_count"])
                for r in eng.facet_field("request", field="lang", size=3).collect()]
    assert [(b["key"], b["doc_count"]) for b in aggs["by_lang"]["buckets"]] == exp_lang
    exp_hist = [(int(r["key"]), r["doc_count"])
                for r in eng.histogram_wc("request", interval=16).collect()]
    assert [(b["key"], b["doc_count"]) for b in aggs["by_len"]["buckets"]] == exp_hist
    assert exp_hist and sum(c for _, c in exp_hist) == eng.count("request")
    assert aggs["n_tags"]["value"] == eng.facet_cardinality("request", field="tags")
    # histogram is wc-only; unknown terms field is a loud 400 too
    code, body = _post(f"{base}/indexes/default/_search",
                       dict(dsl, aggs={"h": {"histogram": {"field": "lang",
                                                           "interval": 4}}}))
    assert code == 400 and "wc" in body["message"]
    code, body = _post(f"{base}/indexes/default/_search",
                       dict(dsl, aggs={"t": {"terms": {"field": "nope"}}}))
    assert code == 400


def test_range_filter_engine_and_http(served):
    """ES range filter: engine-side kernel composition (parity/bm25/or/
    count/delete-guard) and the HTTP filter.range clause, pinned against
    the doc_store timestamps (searchdata warc_ts = 2020-01-01 + i sec)."""
    import datetime as dt

    base, eng = served
    ds = {r["doc_id"]: r["warc_ts"]
          for r in eng.doc_store.select("doc_id", "warc_ts").collect()}
    cut = dt.datetime(2020, 1, 1, 0, 0, 3)
    all_hits = sorted(r["doc_id"] for r in
                      eng.search("request", mode="parity",
                                 materialize=False).collect())
    exp = sorted(d for d in all_hits if ds[d] < cut)
    assert exp and exp != all_hits  # the range genuinely narrows
    rng = {"warc_ts": {"lt": "2020-01-01 00:00:03"}}
    got = sorted(r["doc_id"] for r in
                 eng.search("request", mode="parity", materialize=False,
                            ranges=rng).collect())
    assert got == exp
    assert sorted(r["doc_id"] for r in
                  eng.search("request", mode="bm25", k=10,
                             ranges=rng).collect()) == exp
    assert eng.count("request", ranges=rng) == len(exp)
    # range-only query (match-all within the window)
    ro = sorted(r["doc_id"] for r in
                eng.search("", mode="parity", materialize=False,
                           ranges={"warc_ts": {
                               "gte": "2020-01-01 00:00:02",
                               "lte": "2020-01-01 00:00:04"}}).collect())
    assert ro == sorted(d for d in ds
                        if dt.datetime(2020, 1, 1, 0, 0, 2) <= ds[d]
                        <= dt.datetime(2020, 1, 1, 0, 0, 4))
    # loud contracts
    with pytest.raises(ValueError):
        eng.search("request", ranges={"nope": {"lt": 1}})
    with pytest.raises(ValueError):
        eng.search("request", ranges={"warc_ts": {"between": 1}})
    # HTTP: filter as a [terms, range] list narrows like the engine
    dsl = {"query": {"bool": {
        "must": {"match_phrase": {"content": {"query": "request"}}},
        "filter": [{"range": {"warc_ts": {"lt": "2020-01-01 00:00:03"}}}],
    }}}
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    assert sorted(h["_id"] for h in body["hits"]["hits"]) == \
        sorted(f"d{d:x}" for d in exp)
    # _count takes the same clause
    code, body = _post(f"{base}/indexes/default/_count", dsl)
    assert code == 200 and body["count"] == len(exp)
    # unknown field / bad clause → 400
    bad = {"query": {"bool": {
        "must": {"match_phrase": {"content": {"query": "request"}}},
        "filter": {"range": {"nope": {"lt": 1}}}}}}
    code, body = _post(f"{base}/indexes/default/_search", bad)
    assert code == 400 and "nope" in body["message"]
    code, body = _post(f"{base}/indexes/default/_search", {
        "query": {"bool": {"filter": {"exists": {"field": "x"}}}}})
    assert code == 400 and "terms.tags and range" in body["message"]


def test_sort_by_field_engine_and_http(served):
    """ES sort-by-field: scoring skipped (_score null, per-hit sort
    values), deterministic (field, doc_id) order, composes with range."""
    base, eng = served
    rows = eng.search_sorted("request", field="warc_ts",
                             ascending=False, k=3).collect()
    ts = [r["warc_ts"] for r in rows]
    assert ts == sorted(ts, reverse=True) and len(rows) == 3
    with pytest.raises(ValueError):
        eng.search_sorted("request", field="nope")
    dsl = {
        "query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}},
        "sort": [{"warc_ts": "desc"}], "size": 3,
    }
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    hits = body["hits"]["hits"]
    assert [h["_id"] for h in hits] == [f"d{int(r['doc_id']):x}" for r in rows]
    assert all(h["_score"] is None for h in hits)
    assert [h["sort"][0] for h in hits] == sorted(
        (h["sort"][0] for h in hits), reverse=True)
    assert body["hits"]["max_score"] is None
    # sort + range compose; sort + should does not
    code, body = _post(f"{base}/indexes/default/_search", {
        **dsl, "query": {"bool": {
            "must": {"match_phrase": {"content": {"query": "request"}}},
            "filter": {"range": {"warc_ts": {"lt": "2020-01-01 00:00:03"}}},
        }}})
    assert code == 200 and all(
        h["sort"][0] < "2020-01-01T00:00:03" for h in body["hits"]["hits"])
    code, body = _post(f"{base}/indexes/default/_search", {
        "query": {"bool": {"should": {"match_phrase": {"content": {
            "query": "request"}}}}},
        "sort": [{"warc_ts": "desc"}]})
    assert code == 400 and "sort" in body["message"]
    code, body = _post(f"{base}/indexes/default/_search", {
        **dsl, "sort": [{"a": "asc"}, {"b": "asc"}]})
    assert code == 400 and "one field" in body["message"]


def test_count_and_stats_routes(served):
    base, eng = served
    dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
        "query": "request"}}}}}}
    code, body = _post(f"{base}/indexes/default/_count", dsl)
    assert code == 200 and body == {"count": eng.count("request")}
    # _count rejects prefix queries loudly
    code, body = _post(f"{base}/indexes/default/_count", {
        "query": {"bool": {"must": {"prefix": {"content": {"value": "re"}}}}}})
    assert code == 400
    code, st = _get(f"{base}/indexes/default/_stats")
    assert code == 200
    assert st["doc_count"] == 7 and st["size_in_bytes"] > 0
    assert st["tables"]["postings"] > 0


def test_from_size_paging_over_http(served):
    base, eng = served
    dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
        "query": "request"}}}}}}
    full = [f"d{int(r['doc_id']):x}" for r in
            eng.search("request", mode="bm25", k=6).collect()]
    paged = []
    for frm in (0, 2, 4):
        code, body = _post(
            f"{base}/indexes/default/_search?mode=bm25",
            dict(dsl, **{"from": frm, "size": 2}),
        )
        assert code == 200
        paged += [h["_id"] for h in body["hits"]["hits"]]
    assert paged == full


def test_mget_over_http(served):
    """_mget: request-order docs with found flags, equal to per-id
    GET _doc; ids/docs body forms; 400 contracts."""
    base, eng = served
    rows = eng.search("request", mode="bm25", k=2).collect()
    hex_ids = [f"d{int(r['doc_id']):x}" for r in rows]
    code, body = _post(f"{base}/indexes/default/_mget",
                       {"ids": [hex_ids[0], "dffffff", hex_ids[1]]})
    assert code == 200
    docs = body["docs"]
    assert [d["_id"] for d in docs] == [hex_ids[0], "dffffff", hex_ids[1]]
    assert [d["found"] for d in docs] == [True, False, True]
    # each found doc equals the single-GET payload
    for d in (docs[0], docs[2]):
        code, single = _get(f"{base}/indexes/default/_doc/{d['_id']}")
        assert code == 200 and single["_source"] == d["_source"]
    # ES docs form
    code, body2 = _post(f"{base}/indexes/default/_mget",
                        {"docs": [{"_id": hex_ids[0]}]})
    assert code == 200 and body2["docs"][0]["found"] is True
    # 400s: empty / malformed
    code, b = _post(f"{base}/indexes/default/_mget", {"ids": []})
    assert code == 400
    code, b = _post(f"{base}/indexes/default/_mget", {"ids": ["zz"]})
    assert code == 400 and "parse error" in b["message"]


def test_search_after_over_http(served):
    """Deep paging by cursor: page 2 via search_after == page 2 via
    from/size, the cursor taken from page 1's last (_score, _id) —
    plus the 400 contracts (composition, malformed cursor)."""
    base, eng = served
    dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
        "query": "request"}}}}}}
    code, p1 = _post(f"{base}/indexes/default/_search?mode=bm25",
                     dict(dsl, size=2))
    assert code == 200 and len(p1["hits"]["hits"]) == 2
    last = p1["hits"]["hits"][-1]
    code, p2 = _post(
        f"{base}/indexes/default/_search?mode=bm25",
        dict(dsl, size=2, search_after=[last["_score"], last["_id"]]),
    )
    assert code == 200
    code, p2_off = _post(f"{base}/indexes/default/_search?mode=bm25",
                         dict(dsl, **{"size": 2, "from": 2}))
    assert code == 200
    assert [h["_id"] for h in p2["hits"]["hits"]] \
        == [h["_id"] for h in p2_off["hits"]["hits"]]
    # no overlap with page 1
    assert not {h["_id"] for h in p2["hits"]["hits"]} \
        & {h["_id"] for h in p1["hits"]["hits"]}
    # 400: search_after with from
    code, body = _post(
        f"{base}/indexes/default/_search?mode=bm25",
        dict(dsl, **{"size": 2, "from": 2,
                     "search_after": [last["_score"], last["_id"]]}),
    )
    assert code == 400 and "mutually exclusive" in body["message"]
    # 400: non-bm25 (parity) mode
    code, body = _post(f"{base}/indexes/default/_search",
                       dict(dsl, search_after=[1.0, "d1"]))
    assert code == 400 and "bm25" in body["message"]
    # 400: malformed cursor
    code, body = _post(f"{base}/indexes/default/_search?mode=bm25",
                       dict(dsl, search_after=[1.0]))
    assert code == 400
    code, body = _post(f"{base}/indexes/default/_search?mode=bm25",
                       dict(dsl, search_after=[1.0, "zz"]))
    assert code == 400 and "d<hex>" in body["message"]


def test_highlight_over_http(served):
    base, eng = served
    dsl = {
        "query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}},
        "highlight": {"window": 3},
    }
    code, body = _post(f"{base}/indexes/default/_search?mode=bm25", dsl)
    assert code == 200
    hits = body["hits"]["hits"]
    exp = {f"d{int(r['doc_id']):x}": r["snippet"] for r in
           eng.highlight("request", k=10, window=3).collect()}
    assert hits
    for h in hits:
        assert h["highlight"]["content"] == [exp[h["_id"]]]
        assert "<em>" in h["highlight"]["content"][0]


def test_must_not_dsl_over_http(served):
    """bool.must_not (flagged ES extension): match_phrase clauses
    exclude analyzed terms, terms.tags clauses exclude tags; _search
    and _count both honor it; unsupported clause shapes 400."""
    base, eng = served
    dsl = {"query": {"bool": {
        "must": {"match_phrase": {"content": {"query": "request"}}},
        "must_not": [
            {"match_phrase": {"content": {"query": "server"}}},
            {"terms": {"tags": ["WebDAV"]}},
        ],
    }}}
    code, body = _post(f"{base}/indexes/default/_search?mode=bm25", dsl)
    assert code == 200
    got = [(h["_id"], round(h["_score"], 9)) for h in body["hits"]["hits"]]
    want = [
        (f"d{int(r['doc_id']):x}", round(r["score"], 9))
        for r in eng.search("request", None, "en", mode="bm25", k=10,
                            exclude_words="server",
                            exclude_tags=["WebDAV"]).collect()
    ]
    assert got == want and got
    # exclusion really removed something vs the unexcluded query
    code, full = _post(f"{base}/indexes/default/_search?mode=bm25", {
        "query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}}})
    assert len(full["hits"]["hits"]) > len(got)
    # _count honors must_not
    code, body = _post(f"{base}/indexes/default/_count", dsl)
    assert code == 200
    assert body == {"count": eng.count(
        "request", exclude_words="server", exclude_tags=["WebDAV"])}
    # unsupported must_not clause shape → loud 400
    bad = {"query": {"bool": {"must_not": {"range": {"year": {"gte": 1}}}}}}
    code, body = _post(f"{base}/indexes/default/_search", bad)
    assert code == 400 and "must_not" in body["message"]
    # must_not does not compose with aggs
    code, body = _post(f"{base}/indexes/default/_search", dict(
        dsl, aggs={"t": {"terms": {"field": "tags"}}}))
    assert code == 400 and "must_not" in body["message"]


def test_should_dsl_over_http(served):
    """bool.should (flagged ES extension): with no must clause, the
    should match_phrase clauses run the disjunctive maxscore kernel."""
    base, eng = served
    dsl = {"query": {"bool": {"should": [
        {"match_phrase": {"content": {"query": "request"}}},
        {"match_phrase": {"content": {"query": "server"}}},
    ]}}}
    code, body = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200
    got = [(h["_id"], round(h["_score"], 9)) for h in body["hits"]["hits"]]
    want = [
        (f"d{int(r['doc_id']):x}", round(r["score"], 9))
        for r in eng.search("request server", None, "en", mode="bm25",
                            operator="or", k=10).collect()
    ]
    assert got == want and got
    # should + must_not compose (both kernel-side)
    dsl2 = dict(dsl)
    dsl2["query"] = {"bool": {**dsl["query"]["bool"],
                              "must_not": {"terms": {"tags": ["WebDAV"]}}}}
    code, body = _post(f"{base}/indexes/default/_search", dsl2)
    assert code == 200
    got2 = [(h["_id"], round(h["_score"], 9)) for h in body["hits"]["hits"]]
    want2 = [
        (f"d{int(r['doc_id']):x}", round(r["score"], 9))
        for r in eng.search("request server", None, "en", mode="bm25",
                            operator="or", k=10,
                            exclude_tags=["WebDAV"]).collect()
    ]
    assert got2 == want2 and len(got2) < len(got)
    # should + must → 400 (out of scope, loud)
    bad = {"query": {"bool": {
        "must": {"match_phrase": {"content": {"query": "request"}}},
        "should": dsl["query"]["bool"]["should"],
    }}}
    code, body = _post(f"{base}/indexes/default/_search", bad)
    assert code == 400 and "should" in body["message"]
    # should in _count → 400
    code, body = _post(f"{base}/indexes/default/_count", dsl)
    assert code == 400
    # non-match_phrase should clause → 400
    code, body = _post(f"{base}/indexes/default/_search", {
        "query": {"bool": {"should": [{"prefix": {"content": {
            "value": "re"}}}]}}})
    assert code == 400 and "should" in body["message"]


def _ndpost(url, lines):
    nd = "\n".join(json.dumps(l) for l in lines) + "\n"
    req = urllib.request.Request(
        url, data=nd.encode(),
        headers={"Content-Type": "application/x-ndjson"}, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_msearch_over_http(served):
    """ES _msearch: NDJSON header/body pairs; batchable lines share one
    Spark DAG, non-batchable lines (highlight) fall back per-line, and
    the responses interleave in line order."""
    base, eng = served
    lines = [
        {}, {"query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}}, "size": 3},
        {}, {"query": {"bool": {"should": [
            {"match_phrase": {"content": {"query": "request"}}},
            {"match_phrase": {"content": {"query": "server"}}}]}}},
        {}, {"query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "request"}}}}}, "highlight": {"window": 2}},
    ]
    code, body = _ndpost(f"{base}/indexes/default/_msearch?mode=bm25", lines)
    assert code == 200 and len(body["responses"]) == 3
    got0 = [(h["_id"], round(h["_score"], 9))
            for h in body["responses"][0]["hits"]["hits"]]
    want0 = [(f"d{int(r['doc_id']):x}", round(r["score"], 9))
             for r in eng.search("request", mode="bm25", k=3).collect()]
    assert got0 == want0 and len(got0) == 3
    got1 = [(h["_id"], round(h["_score"], 9))
            for h in body["responses"][1]["hits"]["hits"]]
    want1 = [(f"d{int(r['doc_id']):x}", round(r["score"], 9))
             for r in eng.search("request server", mode="bm25",
                                 operator="or", k=10).collect()]
    assert got1 == want1 and got1
    hits2 = body["responses"][2]["hits"]["hits"]
    assert hits2 and all("highlight" in h for h in hits2)
    # total.value per line, ES-shaped
    assert body["responses"][0]["hits"]["total"]["value"] == 3
    # range, search_after and from lines run in the batch and answer
    # exactly what _search answers for each line alone
    must = {"must": {"match_phrase": {"content": {"query": "request"}}}}
    code, p1 = _post(f"{base}/indexes/default/_search?mode=bm25",
                     {"query": {"bool": must}, "size": 2})
    last = p1["hits"]["hits"][-1]
    line_bodies = [
        {"query": {"bool": dict(must, filter=[{"range": {"warc_ts": {
            "lt": "2020-01-01 00:00:03"}}}])}, "size": 5},
        {"query": {"bool": must}, "size": 2,
         "search_after": [last["_score"], last["_id"]]},
        {"query": {"bool": must}, "size": 2, "from": 1},
        {"query": {"bool": dict(must, filter={"range": {"warc_ts": {
            "gte": "2030-01-01"}}})}},
    ]
    code, body = _ndpost(f"{base}/indexes/default/_msearch?mode=bm25",
                         [line for b in line_bodies for line in ({}, b)])
    assert code == 200
    for b, r in zip(line_bodies, body["responses"]):
        code, alone = _post(f"{base}/indexes/default/_search?mode=bm25", b)
        assert code == 200
        assert [(h["_id"], h["_score"]) for h in r["hits"]["hits"]] \
            == [(h["_id"], h["_score"]) for h in alone["hits"]["hits"]]
    assert body["responses"][0]["hits"]["hits"]
    assert body["responses"][1]["hits"]["hits"]
    assert body["responses"][3]["hits"]["hits"] == []  # empty range
    # a bad range field in a batched line → 400
    code, body = _ndpost(f"{base}/indexes/default/_msearch?mode=bm25", [
        {}, {"query": {"bool": dict(must, filter={"range": {"nope": {
            "lt": 1}}})}}])
    assert code == 400 and "nope" in body["message"]
    # odd line count → 400
    code, body = _ndpost(f"{base}/indexes/default/_msearch", [{}])
    assert code == 400 and "pairs" in body["message"]
    # broken NDJSON → 400
    req = urllib.request.Request(
        f"{base}/indexes/default/_msearch", data=b"{not json}\n{}\n",
        headers={"Content-Type": "application/x-ndjson"}, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code, msg = e.code, json.loads(e.read())
    assert code == 400 and "NDJSON" in msg["message"]


def test_bulk_lifecycle_over_http(crud_served):
    """ES _bulk: NDJSON action/source lines; consecutive same-type runs
    coalesce into one batch mutation; per-item outcomes in line order;
    structural errors 400, item-level errors mark the item only."""
    base = crud_served
    lines = [
        {"index": {}}, {"unique_key": "blk://1", "title": "bulk one",
                        "content": "alpha bravo common", "tags": ["blk"]},
        {"index": {}}, {"unique_key": "blk://2", "title": "bulk two",
                        "content": "charlie delta common"},
        {"create": {}}, {"unique_key": "blk://3", "title": "bulk three",
                         "content": "echo common"},
    ]
    code, body = _ndpost(f"{base}/indexes/default/_bulk", lines)
    assert code == 200 and body["errors"] is False
    assert [list(it)[0] for it in body["items"]] == ["index"] * 3
    ids = [it["index"]["_id"] for it in body["items"]]
    assert all(i.startswith("d") and len(i) > 1 for i in ids)
    # the batch is searchable (one upsert re-analyzed all three)
    code, res = _post(f"{base}/indexes/default/_search?mode=bm25", {
        "query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "common"}}}}}})
    urls = {h["_source"]["unique_key"] for h in res["hits"]["hits"]}
    assert {"blk://1", "blk://2", "blk://3"} <= urls
    # GET by the returned hex id
    code, doc = _req(f"{base}/indexes/default/_doc/{ids[0]}", "GET")
    assert code == 200 and doc["_source"]["unique_key"] == "blk://1"
    # mixed batch: valid delete + missing delete + re-index
    lines2 = [
        {"delete": {"_id": ids[0]}},
        {"delete": {"_id": "dffffff0"}},
        {"index": {}}, {"unique_key": "blk://4", "title": "bulk four",
                        "content": "foxtrot common"},
    ]
    code, body2 = _ndpost(f"{base}/indexes/default/_bulk", lines2)
    assert code == 200 and body2["errors"] is True
    assert body2["items"][0]["delete"]["result"] == "deleted"
    assert body2["items"][1]["delete"]["result"] == "not_found"
    assert body2["items"][1]["delete"]["status"] == 404
    assert body2["items"][2]["index"]["result"] == "created"
    code, _ = _req(f"{base}/indexes/default/_doc/{ids[0]}", "GET")
    assert code == 404
    # structural NDJSON errors 400 the whole request
    code, msg = _ndpost(f"{base}/indexes/default/_bulk", [{"index": {}}])
    assert code == 400 and "source" in msg["message"]
    code, msg = _ndpost(f"{base}/indexes/default/_bulk", [{"nope": {}}, {}])
    assert code == 400 and "nope" in msg["message"]
    # item-level error (missing unique_key) marks the item, batch proceeds
    lines3 = [
        {"index": {}}, {"title": "no key"},
        {"index": {}}, {"unique_key": "blk://5", "title": "five",
                        "content": "golf common"},
    ]
    code, body3 = _ndpost(f"{base}/indexes/default/_bulk", lines3)
    assert code == 200 and body3["errors"] is True
    assert body3["items"][0]["index"]["status"] == 400
    assert body3["items"][1]["index"]["result"] == "created"


def test_delete_by_query_over_http(crud_served):
    """_delete_by_query: the bool-DSL match set removed in one batch
    mutation; non-matching docs intact; 400 contracts."""
    base = crud_served
    for i in (1, 2):
        code, body = _req(f"{base}/indexes/default/_doc", "POST", {
            "unique_key": f"dbq://{i}", "lang": "en",
            "title": f"z{i}", "content": "quaggamule stripes unique",
        })
        assert code == 200
    dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
        "query": "quaggamule"}}}}}}
    code, sr = _post(f"{base}/indexes/default/_search", dsl)
    assert code == 200 and len(sr["hits"]["hits"]) == 2
    code, body = _post(f"{base}/indexes/default/_delete_by_query", dsl)
    assert code == 200
    assert body["deleted"] == 2 and body["total"] == 2
    assert body["failures"] == []
    code, sr = _post(f"{base}/indexes/default/_search", dsl)
    assert sr["hits"]["hits"] == []
    # untouched docs still searchable
    other = {"query": {"bool": {"must": {"match_phrase": {"content": {
        "query": "request"}}}}}}
    code, sr = _post(f"{base}/indexes/default/_search", other)
    assert sr["hits"]["hits"]
    # deleting the same set again deletes zero
    code, body = _post(f"{base}/indexes/default/_delete_by_query", dsl)
    assert code == 200 and body["deleted"] == 0
    # 400: no predicate / unsupported clause
    code, body = _post(f"{base}/indexes/default/_delete_by_query", {})
    assert code == 400 and "requires" in body["message"]
    code, body = _post(f"{base}/indexes/default/_delete_by_query", {
        "query": {"bool": {"should": {"match_phrase": {"content": {
            "query": "x"}}}}}})
    assert code == 400


def test_analyze_over_http(served):
    """_analyze mirrors the query-analysis pipeline: stemming under
    'en', positions over kept words, analyzer override, byte-length
    n-gram heuristic when empty, 400 on missing text."""
    base, _ = served
    code, body = _post(f"{base}/indexes/default/_analyze",
                       {"text": "Running tables quickly.", "analyzer": "en"})
    assert code == 200
    toks = body["tokens"]
    assert [t["position"] for t in toks] == list(range(len(toks)))
    from watertower_spark.analyzers import analyze_query
    want = sorted((p, t) for t, ps in
                  analyze_query("Running tables quickly.", "en").items()
                  for p in ps)
    assert [(t["position"], t["token"]) for t in toks] == want
    assert any(t["token"] == "run" for t in toks)  # Porter2 stemmed
    # analyzer omitted → the index's default lang ('en' here)
    code, body2 = _post(f"{base}/indexes/default/_analyze",
                        {"text": "Running tables quickly."})
    assert code == 200 and body2 == body
    # empty analyzer string → byte-length n-gram heuristic (bigrams)
    code, body3 = _post(f"{base}/indexes/default/_analyze",
                        {"text": "abc", "analyzer": ""})
    assert code == 200
    assert {t["token"] for t in body3["tokens"]} == {"ab", "bc"}
    # 400: no text
    code, b = _post(f"{base}/indexes/default/_analyze", {})
    assert code == 400


def test_index_lifecycle_over_http(spark, tmp_index_root):
    """PUT index → GET list/info → _bulk → _search → DELETE index →
    404, plus ownership and validation 400s — create-to-serve without
    a restart."""
    import os as _os

    root = f"{tmp_index_root}/http_idx_root"
    shutil.rmtree(root, ignore_errors=True)
    _os.makedirs(root, exist_ok=True)
    # one statically mounted index to pin the ownership rule
    rows = corpus.fixture_rows(("searchdata",))[:2]
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA)
    tags = spark.createDataFrame([(r["url"], r["tags"]) for r in rows],
                                 schema=corpus.TAG_SCHEMA)
    static_idx = f"{tmp_index_root}/http_static"
    shutil.rmtree(static_idx, ignore_errors=True)
    build_index(docs, tags, static_idx, docs_per_shard=3, default_lang="en")
    server = make_server({"static": SearchEngine(spark, static_idx)},
                         index_root=root)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        code, body = _req(f"{base}/indexes/logs", "PUT",
                          {"analyzer": "en", "docs_per_shard": 4})
        assert code == 200 and body["acknowledged"] is True
        code, body = _get(f"{base}/indexes")
        assert code == 200 and body["indexes"] == ["logs", "static"]
        code, info = _get(f"{base}/indexes/logs")
        assert code == 200 and info["logs"]["doc_count"] == 0
        # empty index searches empty, not 500
        dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "anything"}}}}}}
        code, sr = _post(f"{base}/indexes/logs/_search", dsl)
        assert code == 200 and sr["hits"]["hits"] == []
        # bulk-load documents into the fresh index
        nd = "\n".join([
            json.dumps({"index": {}}),
            json.dumps({"unique_key": "lg://1", "lang": "en",
                        "title": "one", "content": "wombat alpha"}),
            json.dumps({"index": {}}),
            json.dumps({"unique_key": "lg://2", "lang": "en",
                        "title": "two", "content": "wombat beta"}),
        ]) + "\n"
        req = urllib.request.Request(
            f"{base}/indexes/logs/_bulk", data=nd.encode(),
            headers={"Content-Type": "application/x-ndjson"}, method="POST")
        with urllib.request.urlopen(req) as r:
            bulk = json.loads(r.read())
        assert bulk["errors"] is False
        dsl = {"query": {"bool": {"must": {"match_phrase": {"content": {
            "query": "wombat"}}}}}}
        code, sr = _post(f"{base}/indexes/logs/_search", dsl)
        assert code == 200 and len(sr["hits"]["hits"]) == 2
        code, info = _get(f"{base}/indexes/logs")
        assert info["logs"]["doc_count"] == 2
        # duplicate create → 400; invalid name → 400
        code, body = _req(f"{base}/indexes/logs", "PUT", {})
        assert code == 400 and "already exists" in body["message"]
        code, body = _req(f"{base}/indexes/bad%20name%21", "PUT", {})
        assert code == 400
        # statically mounted index cannot be deleted
        code, body = _req(f"{base}/indexes/static", "DELETE")
        assert code == 400 and "statically mounted" in body["message"]
        # owned index deletes cleanly
        code, body = _req(f"{base}/indexes/logs", "DELETE")
        assert code == 200 and body["acknowledged"] is True
        assert not _os.path.exists(f"{root}/logs")
        code, sr = _post(f"{base}/indexes/logs/_search", dsl)
        assert code == 404
        code, body = _req(f"{base}/indexes/logs", "DELETE")
        assert code == 404
    finally:
        server.shutdown()
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(static_idx, ignore_errors=True)
