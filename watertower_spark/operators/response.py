"""Elasticsearch-shaped search responses.

The reference serves `/indexes/{index}/_search` with an ES-compatible
payload (webapi/restapi/handlers.go:92-183): `took` in ms, `hits.hits`
items carrying `_id`/`_index`/`_type: "_doc"`/`_score`/`_source`
(the Document minus engine internals, convertToResultDocument,
handlers.go:81-90), `hits.max_score`, and `hits.total.value`.

The batch engine has no HTTP server (SURVEY §3.3 — pytest drives the
engine directly), but the RESPONSE SHAPE is part of the reference's
observable surface, so it ships as a driver-side builder: run any
engine search, collect, and wrap.  A service layer (Flask, Lambda,
whatever) can return the dict verbatim.
"""

from __future__ import annotations

import time


def _source_doc(row) -> dict:
    """convertToResultDocument (handlers.go:81-90): unique_key, title,
    content, lang, tags, metadata — title/content recovered from the
    stored text by the same first-blank-line split used at analysis."""
    from watertower_spark.analyzers import split_title_body

    title, body = split_title_body(row["text"] or "")
    src = {
        "unique_key": row["url"],
        "title": title,
        "content": body,
        "lang": row["lang"],
    }
    d = row.asDict()
    if d.get("metadata") is not None:
        src["metadata"] = dict(d["metadata"])
    if d.get("tags") is not None:
        src["tags"] = list(d["tags"])
    return src


def _hit(row, index_name: str) -> dict:
    """One ES-shaped hit item (handlers.go:92-183's hits.hits entry)."""
    return {
        "_id": f"d{int(row['doc_id']):x}",
        "_index": index_name,
        "_type": "_doc",
        "_score": float(row["score"]),
        "_source": _source_doc(row),
    }


def _wrap_hits(hits: list, took_ms: int) -> dict:
    scores = [h["_score"] for h in hits if h["_score"] is not None]
    # ES reports max_score: null when sorting replaced scoring
    max_score = max(scores, default=0.0) if len(scores) == len(hits) else None
    return {
        "took": took_ms,
        "timed_out": False,
        "_shards": None,
        "hits": {
            "hits": hits,
            "max_score": max_score,
            "total": {"value": len(hits), "relation": ""},
        },
    }


def msearch_response(engine, specs: list, index_name: str = "default") -> dict:
    """ES ``_msearch``: run every line's query in ONE Spark DAG
    (``SearchEngine.msearch`` — one grouped kernel exchange for every
    line, AND and OR alike, and one doc_store materialization join for
    the whole batch) and shape
    one search-response dict per line, in line order.  ``took`` is the
    batch wall time, repeated per line (the lines shared one job)."""
    t0 = time.time()
    rows = engine.msearch(specs).collect()
    took_ms = int((time.time() - t0) * 1000)
    by_qid: dict = {}
    for r in rows:
        by_qid.setdefault(int(r["qid"]), []).append(r)
    return {
        "took": took_ms,
        "responses": [
            _wrap_hits([_hit(r, index_name) for r in by_qid.get(qid, [])],
                       took_ms)
            for qid in range(len(specs))
        ],
    }


def search_response(engine, search_word: str, tags: list | None = None,
                    lang: str = "", mode: str = "bm25", k: int | None = 10,
                    operator: str = "and", index_name: str = "default",
                    prefix: str | None = None, max_expansions: int = 50,
                    aggs: dict | None = None, offset: int = 0,
                    highlight: dict | None = None,
                    exclude_words: str = "",
                    exclude_tags: list | None = None,
                    search_after: tuple | None = None,
                    ranges: dict | None = None,
                    sort: tuple | None = None) -> dict:
    """Run a search and shape the ES-compatible response dict.

    `_id` mirrors the reference's docID encoding: `d` + lowercase hex
    (entity.go:26-33).  Extensions beyond the reference's surface (all
    flagged; the reference DSL is match_phrase + terms filter only):
    ``prefix`` routes to ``SearchEngine.search_prefix`` (wildcard
    ``term*`` BM25 top-k); ``aggs`` runs ES aggregations
    (terms/histogram/cardinality) and attaches an ``aggregations``
    section; ``ranges`` applies the ES ``range`` filter; ``sort`` is
    ``(field, ascending)`` — ES sort-by-field, scoring skipped
    (``_score: null``, per-hit ``sort`` values, ES's shape)."""
    t0 = time.time()
    if sort is not None:
        field, ascending = sort
        rows = engine.search_sorted(search_word, tags, lang=lang,
                                    field=field, ascending=ascending,
                                    k=k or 10, exclude_words=exclude_words,
                                    exclude_tags=exclude_tags,
                                    ranges=ranges).collect()
    elif prefix is not None:
        rows = engine.search_prefix(prefix, tags, k=k or 10,
                                    max_expansions=max_expansions,
                                    offset=offset).collect()
    elif highlight is not None:
        rows = engine.highlight(search_word, tags, lang=lang, mode=mode,
                                k=k or 10,
                                window=int(highlight.get("window") or 5)
                                ).collect()
    else:
        rows = engine.search(search_word, tags, lang=lang, mode=mode, k=k,
                             operator=operator, offset=offset,
                             exclude_words=exclude_words,
                             exclude_tags=exclude_tags,
                             search_after=search_after,
                             ranges=ranges).collect()
    took_ms = int((time.time() - t0) * 1000)
    if sort is not None:
        field, _ = sort
        hits = []
        for r in rows:
            v = r[field]
            hits.append({
                "_id": f"d{int(r['doc_id']):x}",
                "_index": index_name,
                "_type": "_doc",
                "_score": None,  # ES: a field sort replaces scoring
                "_source": _source_doc(r),
                "sort": [v.isoformat() if hasattr(v, "isoformat") else v],
            })
    else:
        hits = [
            {
                **_hit(r, index_name),
                **(
                    {"highlight": {"content": [r["snippet"]]}}
                    if highlight is not None else {}
                ),
            }
            for r in rows
        ]
    resp = _wrap_hits(hits, took_ms)
    if aggs:
        resp["aggregations"] = {}
        for name, spec in aggs.items():
            spec = spec or {}
            terms = spec.get("terms") or {}
            hist = spec.get("histogram") or {}
            card = spec.get("cardinality") or {}
            if terms:
                field = terms.get("field")
                size = int(terms.get("size") or 10)
                if field == "tags":
                    rows = engine.facet_tags(search_word, tags, lang=lang,
                                             size=size,
                                             ranges=ranges).collect()
                    buckets = [{"key": r["tag"],
                                "doc_count": int(r["doc_count"])}
                               for r in rows]
                else:
                    rows = engine.facet_field(search_word, tags, lang=lang,
                                              field=field, size=size,
                                              ranges=ranges).collect()
                    buckets = [{"key": r["key"],
                                "doc_count": int(r["doc_count"])}
                               for r in rows]
                resp["aggregations"][name] = {
                    "doc_count_error_upper_bound": 0,
                    "sum_other_doc_count": 0,
                    "buckets": buckets,
                }
            elif hist:
                if hist.get("field") != "wc":
                    raise ValueError(
                        f"aggs '{name}': histogram supports the indexed "
                        f"word-count field 'wc' only"
                    )
                interval = int(hist.get("interval") or 0)
                rows = engine.histogram_wc(search_word, tags, lang=lang,
                                           interval=interval,
                                           ranges=ranges).collect()
                resp["aggregations"][name] = {
                    "buckets": [{"key": int(r["key"]),
                                 "doc_count": int(r["doc_count"])}
                                for r in rows],
                }
            elif card:
                n = engine.facet_cardinality(search_word, tags, lang=lang,
                                             field=card.get("field") or "",
                                             ranges=ranges)
                resp["aggregations"][name] = {"value": int(n)}
            else:
                raise ValueError(
                    f"aggs '{name}': supported aggregations are terms, "
                    f"histogram (field 'wc') and cardinality"
                )
    return resp
