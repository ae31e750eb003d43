"""HTTP surface over SearchEngine (stdlib only) — the reference's full
REST API (webapi/restapi/handlers.go, embedded_spec.go):

- ``GET|POST /indexes/{index}/_search`` (handlers.go:92-183):
  ``?q=unique_key:<key>`` exact-key lookup (any other ``q=`` syntax is a
  400 with the reference's message, handlers.go:101-105); request body
  ``{"query": {"bool": {"must": {"match_phrase": {"content": {"query":
  ..., "analyzer": ...}}}, "filter": {"terms": {"tags": [...]}}}}`` — the
  ES-ish DSL (search word from match_phrase.content.query, lang from its
  analyzer, tag filter from filter.terms.tags, handlers.go:146-156).
- ``GET /indexes/{index}/_doc/{id}`` (handlers.go:16-56): id is
  ``d<hex>`` (the reference parses ``id[1:]`` as hex uint32 — mirrored
  exactly, including accepting any first character); found → the
  ES get-doc body (_id/_index/_source/_type/_version/found), miss →
  404 with ``found: false``.
- ``GET /indexes/{index}/_source/{id}`` (handlers.go:58-79): the raw
  Document model only; miss → 404
  ``{"message": "document id '<id>' in index '<i>' is not found"}``.
- ``POST /indexes/{index}/_doc`` (handlers.go:201-238): create-or-
  replace by the body's unique_key (PostDocument semantics) via
  maintenance.upsert_documents; responds with the reference's
  ModifyResponse (models/modify_response.go: _id = ``d<hex>``,
  result "created" — the reference says "created" even on replace).
- ``PUT /indexes/{index}/_doc/{id}`` (handlers.go:185-199): the
  reference validates index + id then returns 501 NotImplemented; we
  keep its validation contract (404 unknown index, 400 unparseable id)
  and — as a documented extension — implement the swagger-documented
  update: re-index the body under the EXISTING doc's unique_key
  (result "updated"); a body unique_key that contradicts the id's doc
  is a 400, an unknown id is a 404 (ids are engine-allocated, so PUT
  cannot create at an arbitrary id).
- ``DELETE /indexes/{index}/_doc/{id}`` (handlers.go:240-258): id is
  DECIMAL here (the reference uses ParseUint(id, 10, 32), unlike GET's
  hex form — quirk mirrored); removal failures are 400 with the
  reference's message shape, success echoes ``{_index, _id}``.

Unknown index on any route — 404 ``{"message": "index '<i>' is not
found"}``.  Search responses are the ES-shaped payload from
operators/response.py; the DSL path defaults to reference Search()
semantics (mode='parity', TF-IDF ascending) and ``?mode=bm25`` opts
into the flagship scorer (extension).

Serving happens on the Spark DRIVER (the engine's DataFrame handles
live there) on a ThreadingHTTPServer.  Each request thread sets its own
``spark.scheduler.pool`` (thread-local under PySpark pinned-thread
mode), so with ``spark.scheduler.mode=FAIR`` concurrent queries run in
sibling fair pools instead of convoying through one FIFO queue; under
the default FIFO mode the property is inert.  Pool names reuse the
thread ident, so the scheduler's pool registry stays bounded by peak
concurrency, not request count.

Mutations (POST/PUT/DELETE) are serialized per index by a server-side
threading.Lock — the on-disk lease's in-process re-entrancy means two
threads of ONE process would both pass it — and the engine snapshot is
swapped atomically after each successful mutation, so every later
request sees the new index version.  A lease held by ANOTHER process
maps to 423 Locked.  In-flight searches keep the pre-mutation engine;
they may fail if the mutation's GC removes a table version mid-read
(the documented single-writer trade, operators/maintenance.py).
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .operators.response import _source_doc, search_response


def _parse_dsl(body: dict) -> dict:
    """Parsed fields from the reference's bool query DSL plus the flagged
    ES-bool extensions.  The reference only parses must.match_phrase +
    filter.terms (handlers.go:149-155); extensions, each routed to its
    engine path and loudly 400 on anything else:

    - ``must.prefix.content.value`` → wildcard path (``prefix``);
    - ``should`` (dict or list of match_phrase clauses) → the
      disjunctive maxscore kernel (``should_word``, ES bool-should
      semantics: with no ``must``, at least one should clause matches);
    - ``must_not`` (dict or list of match_phrase / terms.tags clauses)
      → kernel-side exclusion (``excl_words`` / ``excl_tags``).

    Raises ValueError on unsupported clause shapes (handlers 400 it).
    """
    out = {"search_word": "", "tags": [], "lang": "", "prefix": None,
           "max_expansions": 50, "should_word": "", "excl_words": "",
           "excl_tags": [], "ranges": {}, "sort": None}
    q = (body or {}).get("query", {}).get("bool", {})
    must = q.get("must")
    if must:
        content = must.get("match_phrase", {}).get("content", {})
        out["search_word"] = content.get("query") or ""
        out["lang"] = content.get("analyzer") or ""
        pfx = must.get("prefix", {}).get("content", {})
        if pfx:
            out["prefix"] = pfx.get("value") or ""
            out["max_expansions"] = int(pfx.get("max_expansions") or 50)
    should = q.get("should")
    if should:
        words = []
        for c in should if isinstance(should, list) else [should]:
            mp = (c or {}).get("match_phrase", {}).get("content", {})
            if not mp.get("query"):
                raise ValueError(
                    "bool.should supports match_phrase.content clauses only")
            words.append(mp["query"])
            out["lang"] = out["lang"] or mp.get("analyzer") or ""
        out["should_word"] = " ".join(words)
    must_not = q.get("must_not")
    if must_not:
        ew: list = []
        for c in must_not if isinstance(must_not, list) else [must_not]:
            mp = (c or {}).get("match_phrase", {}).get("content", {})
            tt = (c or {}).get("terms", {}).get("tags")
            if mp.get("query"):
                ew.append(mp["query"])
            elif tt:
                out["excl_tags"].extend(tt)
            else:
                raise ValueError("bool.must_not supports match_phrase."
                                 "content and terms.tags clauses only")
        out["excl_words"] = " ".join(ew)
    filt = q.get("filter")
    if filt:
        # ES accepts one clause or a list; we parse terms.tags and
        # range.{field} (flagged extension) in either shape
        for c in filt if isinstance(filt, list) else [filt]:
            cd = c or {}
            # presence check, not truthiness (ADVICE r5): an empty
            # terms list / empty range is a legal no-op for clients
            # that build clauses programmatically, not an unknown clause
            if "terms" in cd:
                terms_c = cd.get("terms") or {}
                if terms_c and "tags" not in terms_c:
                    raise ValueError("bool.filter supports terms.tags "
                                     "and range clauses only")
                out["tags"].extend(terms_c.get("tags") or [])
            elif "range" in cd:
                rng = cd.get("range")
                if rng and not isinstance(rng, dict):
                    raise ValueError("filter.range must be "
                                     "{field: {gte|gt|lte|lt: value}}")
                for fld, spec in (rng or {}).items():
                    merged = dict(out["ranges"].get(fld) or {})
                    merged.update(spec if isinstance(spec, dict) else {})
                    out["ranges"][fld] = merged
            else:
                raise ValueError("bool.filter supports terms.tags and "
                                 "range clauses only")
    srt = (body or {}).get("sort")
    if srt is not None:
        # ES sort: [{field: "asc"|"desc"}] / [{field: {"order": ...}}] /
        # "field"; only the first (single) sort key is supported
        if isinstance(srt, list):
            if len(srt) != 1:
                raise ValueError("sort supports exactly one field")
            srt = srt[0]
        if isinstance(srt, str):
            out["sort"] = (srt, True)
        elif isinstance(srt, dict) and len(srt) == 1:
            fld, spec = next(iter(srt.items()))
            order = (spec.get("order") if isinstance(spec, dict)
                     else spec) or "asc"
            if order not in ("asc", "desc"):
                raise ValueError("sort order must be 'asc' or 'desc'")
            out["sort"] = (fld, order == "asc")
        else:
            raise ValueError(
                "sort must be a field name or {field: asc|desc}")
    return out


def _parse_search_after(sa) -> tuple:
    """Parse a body ``search_after: [score, id]`` cursor (id in the
    hit's ``d<hex>`` form or the raw integer).  Returns (cursor, err)."""
    if not isinstance(sa, list) or len(sa) != 2:
        return None, "search_after must be [score, doc_id]"
    try:
        a_s = float(sa[0])
        a_d = (_parse_hex_id(sa[1]) if isinstance(sa[1], str)
               else int(sa[1]))
    except (TypeError, ValueError):
        return None, "search_after must be [score, doc_id]"
    if a_d is None:
        return None, "search_after doc_id must be d<hex> or int"
    return (a_s, a_d), None


def _parse_hex_id(doc_id: str) -> int | None:
    """The reference's GET-side id parse (handlers.go:23): strip the
    FIRST character (whatever it is) and parse the rest as hex uint32."""
    try:
        v = int(doc_id[1:], 16)
    except (ValueError, IndexError):
        return None
    return v if 0 <= v <= 0xFFFFFFFF and doc_id[1:] else None


def _doc_text(body: dict) -> str:
    """Document model → stored text, the inverse of
    analyzers.split_title_body (title, blank line, content)."""
    title = body.get("title") or ""
    content = body.get("content") or ""
    return f"{title}\n\n{content}" if content else title


class _Handler(BaseHTTPRequestHandler):
    engines: dict = {}       # index name -> SearchEngine (bound by make_server)
    mut_locks: dict = {}     # index name -> threading.Lock (bound by make_server)
    fair_pools: bool = True  # per-request scheduler pools (bound by make_server)
    index_root: str | None = None  # where PUT /indexes/{name} creates indexes
    spark_ref = None         # SparkSession for index creation (bound by make_server)
    admin_lock = threading.Lock()  # serializes create/drop across requests

    def log_message(self, *args):  # tests/services don't want stderr spam
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    # ------------------------------------------------------------ routing

    def _route(self, method: str, body: dict | None) -> None:
        parsed = urllib.parse.urlparse(self.path)
        parts = [urllib.parse.unquote(p) for p in parsed.path.split("/") if p]
        if parts and parts[0] == "indexes" and len(parts) == 1 \
                and method == "GET":
            self._send(200, {"indexes": sorted(self.engines)})
            return
        if parts and parts[0] == "indexes" and len(parts) == 2:
            # same exception-to-JSON guard as the per-index verbs
            # (ADVICE r5 medium: an exception inside a lifecycle
            # handler previously closed the connection with no response)
            try:
                if method == "PUT":
                    self._create_index(parts[1], body)
                    return
                if method == "DELETE":
                    self._drop_index(parts[1])
                    return
                if method == "GET":
                    self._index_info(parts[1])
                    return
            except Exception as exc:
                from .operators.maintenance import IndexLockedError

                code = 423 if isinstance(exc, IndexLockedError) else 500
                self._send(code, {"message": str(exc)[:500]})
                return
        if len(parts) < 3 or parts[0] != "indexes":
            self._send(404, {"message": f"no route for {parsed.path!r}"})
            return
        index, verb = parts[1], parts[2]
        eng = self.engines.get(index)
        if eng is None:
            self._send(404, {"message": f"index '{index}' is not found"})
            return
        if self.fair_pools:
            # Per-request FAIR pool: thread-local under pinned-thread mode,
            # so concurrent requests land in sibling pools (see module doc).
            eng.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"wt-req-{threading.get_ident()}"
            )
        try:
            if verb == "_search" and len(parts) == 3:
                self._search(index, eng, parsed, body)
            elif verb == "_msearch" and len(parts) == 3 and method == "POST":
                self._msearch(index, eng, parsed, body)
            elif verb == "_bulk" and len(parts) == 3 and method == "POST":
                self._bulk(index, eng, body)
            elif verb == "_count" and len(parts) == 3:
                self._count(index, eng, body)
            elif verb == "_mget" and len(parts) == 3:
                self._mget(index, eng, body)
            elif verb == "_delete_by_query" and len(parts) == 3 \
                    and method == "POST":
                self._delete_by_query(index, eng, body)
            elif verb == "_analyze" and len(parts) == 3:
                self._analyze(index, eng, body)
            elif verb == "_stats" and len(parts) == 3 and method == "GET":
                self._send(200, eng.stats())
            elif verb == "_doc" and len(parts) == 4 and method == "GET":
                self._get_doc(index, eng, parts[3])
            elif verb == "_source" and len(parts) == 4 and method == "GET":
                self._get_source(index, eng, parts[3])
            elif verb == "_doc" and len(parts) == 3 and method == "POST":
                self._post_doc(index, eng, body)
            elif verb == "_doc" and len(parts) == 4 and method == "PUT":
                self._put_doc(index, eng, parts[3], body)
            elif verb == "_doc" and len(parts) == 4 and method == "DELETE":
                self._delete_doc(index, eng, parts[3])
            else:
                self._send(404, {"message": f"no route for {parsed.path!r}"})
        except Exception as exc:  # surface engine errors as JSON, not a hang
            from .operators.maintenance import IndexLockedError

            if isinstance(exc, IndexLockedError):
                self._send(423, {"message": str(exc)[:500]})
            else:
                self._send(500, {"message": str(exc)[:500]})

    # ------------------------------------------------------------- search

    def _search(self, index, eng, parsed, body) -> None:
        query = urllib.parse.parse_qs(parsed.query)
        q = query.get("q", [None])[0]
        if q is not None:
            if not q.startswith("unique_key:"):
                self._send(400, {
                    "message": "q= query only supports searching unique_key"
                })
                return
            self._send(200, search_response(
                eng, q, mode="parity", k=None, index_name=index))
            return
        try:
            dsl = _parse_dsl(body)
        except ValueError as exc:
            self._send(400, {"message": str(exc)[:500]})
            return
        search_word, tags, lang = dsl["search_word"], dsl["tags"], dsl["lang"]
        prefix, max_exp = dsl["prefix"], dsl["max_expansions"]
        aggs = (body or {}).get("aggs") or (body or {}).get("aggregations")
        mode = query.get("mode", ["parity"])[0]
        operator = "and"
        if dsl["should_word"]:
            if search_word or prefix is not None:
                self._send(400, {
                    "message": "bool.should composes with filter/must_not "
                               "only (no must clause, no prefix)"
                })
                return
            search_word, operator, mode = dsl["should_word"], "or", "bm25"
        hl = (body or {}).get("highlight")
        if operator == "or" and (aggs or hl):
            self._send(400, {
                "message": "bool.should does not compose with aggs or "
                           "highlight"
            })
            return
        if (dsl["excl_words"] or dsl["excl_tags"]) and (
                prefix is not None or aggs or hl):
            self._send(400, {
                "message": "bool.must_not composes with match_phrase/"
                           "should + terms filter only (no prefix, no "
                           "aggs, no highlight)"
            })
            return
        if dsl["ranges"] and (prefix is not None or hl):
            self._send(400, {
                "message": "filter.range does not compose with prefix "
                           "or highlight"
            })
            return
        if dsl["sort"] is not None and (
                prefix is not None or hl or dsl["should_word"]
                or (body or {}).get("search_after") is not None
                or (body or {}).get("from")):
            self._send(400, {
                "message": "sort composes with match_phrase + filter + "
                           "must_not only (no prefix, highlight, should, "
                           "search_after or from)"
            })
            return
        # ES-style paging: body from/size (query-param fallbacks); size
        # doubles as k, paging applies to scored (bm25/prefix) modes.
        # Deep paging: body search_after = [score, id] (id in the hit's
        # d<hex> form or the raw integer) — the cursor is exactly the
        # previous page's last (_score, _id).
        after = None
        sa = (body or {}).get("search_after")
        if sa is not None:
            after, err = _parse_search_after(sa)
            if err is None and (prefix is not None or aggs or hl
                                or mode != "bm25"):
                err = ("search_after requires a bm25-scored query and does "
                       "not compose with prefix, aggs or highlight")
            if err:
                self._send(400, {"message": err})
                return
        frm = int((body or {}).get("from") or query.get("from", [0])[0] or 0)
        if after is not None and frm:
            self._send(400, {"message": "search_after and from are "
                                        "mutually exclusive"})
            return
        size = (body or {}).get("size") or query.get("size", [None])[0]
        k = (int(size) if size is not None else 0) \
            or int(query.get("k", [0])[0]) or (
            10 if (mode == "bm25" or prefix is not None) else None
        )
        if prefix is not None and (search_word or aggs or hl):
            self._send(400, {
                "message": "prefix query composes with a tags filter only "
                           "(no match_phrase, no aggs, no highlight)"
            })
            return
        try:
            self._send(200, search_response(
                eng, search_word, tags, lang=lang, mode=mode, k=k,
                index_name=index, prefix=prefix, max_expansions=max_exp,
                aggs=aggs, offset=frm, highlight=hl, operator=operator,
                exclude_words=dsl["excl_words"],
                exclude_tags=dsl["excl_tags"],
                search_after=after, ranges=dsl["ranges"] or None,
                sort=dsl["sort"]))
        except ValueError as exc:  # unsupported aggs/range/sort spec
            self._send(400, {"message": str(exc)[:500]})

    def _msearch(self, index, eng, parsed, lines) -> None:
        """ES ``_msearch`` (flagged extension): NDJSON header/body line
        pairs; every batchable line's query runs in ONE Spark DAG
        (SearchEngine.msearch) — scheduling and exchange overhead paid
        once per batch, the Spark-idiomatic answer to concurrent query
        throughput.  Lines using features outside the batch (prefix,
        aggs, highlight, sort) fall back to the per-line path; the
        response interleaves both in line order."""
        from .operators.response import msearch_response

        query = urllib.parse.parse_qs(parsed.query)
        mode = query.get("mode", ["parity"])[0]
        if not isinstance(lines, list) or not lines or len(lines) % 2:
            self._send(400, {"message": "_msearch body must be NDJSON "
                                        "header/body line pairs"})
            return
        bodies = lines[1::2]
        specs: list = []
        fallback: dict = {}
        for i, b in enumerate(bodies):
            b = b or {}
            try:
                dsl = _parse_dsl(b)
            except ValueError as exc:
                self._send(400, {"message": f"line {2 * i + 1}: "
                                            f"{str(exc)[:400]}"})
                return
            frm = int(b.get("from") or 0)
            size = b.get("size")
            hl = b.get("highlight")
            aggs = b.get("aggs") or b.get("aggregations")
            word, op, m = dsl["search_word"], "and", mode
            if dsl["should_word"]:
                if word or dsl["prefix"] is not None:
                    self._send(400, {"message": f"line {2 * i + 1}: bool."
                                     "should composes with filter/must_not "
                                     "only (no must clause, no prefix)"})
                    return
                word, op, m = dsl["should_word"], "or", "bm25"
            if (dsl["excl_words"] or dsl["excl_tags"] or op == "or") and (
                    dsl["prefix"] is not None or aggs or hl):
                self._send(400, {"message": f"line {2 * i + 1}: must_not/"
                                 "should do not compose with prefix, aggs "
                                 "or highlight"})
                return
            after = None
            if b.get("search_after") is not None:
                after, err = _parse_search_after(b["search_after"])
                if err is None and (m != "bm25" or dsl["prefix"] is not None
                                    or aggs or hl or frm):
                    err = ("search_after requires a bm25-scored query and "
                           "does not compose with prefix, aggs, highlight "
                           "or from")
                if err:
                    self._send(400, {"message": f"line {2 * i + 1}: {err}"})
                    return
            if dsl["prefix"] is not None or hl or aggs or dsl["sort"] is not None:
                if dsl["ranges"] and (dsl["prefix"] is not None or hl):
                    self._send(400, {"message": f"line {2 * i + 1}: filter."
                                     "range does not compose with prefix "
                                     "or highlight"})
                    return
                if dsl["sort"] is not None and (
                        dsl["prefix"] is not None or hl
                        or dsl["should_word"] or after or frm):
                    self._send(400, {"message": f"line {2 * i + 1}: sort "
                                     "composes with match_phrase + filter "
                                     "+ must_not only"})
                    return
                fallback[i] = (dsl, word, op, m, frm, size, hl, aggs, after)
                specs.append(None)
                continue
            k = int(size) if size is not None else (
                10 if m == "bm25" else None)
            specs.append({
                "word": word, "tags": dsl["tags"], "lang": dsl["lang"],
                "mode": m, "operator": op, "k": k,
                "exclude_words": dsl["excl_words"],
                "exclude_tags": dsl["excl_tags"],
                "offset": frm, "search_after": after,
                "ranges": dsl["ranges"] or None,
            })
        resp_map: dict = {}
        batched = [(i, s) for i, s in enumerate(specs) if s is not None]
        took = 0
        if batched:
            try:
                sub = msearch_response(eng, [s for _, s in batched],
                                       index_name=index)
            except ValueError as exc:  # bad range/size/from in a line
                self._send(400, {"message": str(exc)[:500]})
                return
            took = sub["took"]
            for (i, _), r in zip(batched, sub["responses"]):
                resp_map[i] = r
        for i, (dsl, word, op, m, frm, size, hl, aggs, after) in fallback.items():
            if dsl["prefix"] is not None and (word or aggs or hl):
                self._send(400, {"message": f"line {2 * i + 1}: prefix "
                                 "query composes with a tags filter only"})
                return
            k = int(size) if size is not None else (
                10 if (m == "bm25" or dsl["prefix"] is not None) else None)
            try:
                resp_map[i] = search_response(
                    eng, word, dsl["tags"], lang=dsl["lang"], mode=m, k=k,
                    index_name=index, prefix=dsl["prefix"],
                    max_expansions=dsl["max_expansions"], aggs=aggs,
                    offset=frm, highlight=hl, operator=op,
                    exclude_words=dsl["excl_words"],
                    exclude_tags=dsl["excl_tags"],
                    search_after=after, ranges=dsl["ranges"] or None,
                    sort=dsl["sort"])
            except ValueError as exc:  # unsupported aggs/range/sort spec
                self._send(400, {"message": f"line {2 * i + 1}: "
                                            f"{str(exc)[:400]}"})
                return
            took += resp_map[i]["took"]
        self._send(200, {
            "took": took,
            "responses": [resp_map[i] for i in range(len(bodies))],
        })

    def _count(self, index, eng, body) -> None:
        """ES ``_count``: match count for the same bool DSL, no
        materialization, no top-k (GET or POST, like ES).  must_not
        exclusion applies; should (disjunctive) counting is out of
        scope for the parity kernel — loud 400."""
        try:
            dsl = _parse_dsl(body)
        except ValueError as exc:
            self._send(400, {"message": str(exc)[:500]})
            return
        if dsl["prefix"] is not None or dsl["should_word"]:
            self._send(400, {"message": "_count supports match_phrase + "
                                        "terms filter + must_not only"})
            return
        self._send(200, {"count": eng.count(
            dsl["search_word"], dsl["tags"], lang=dsl["lang"],
            exclude_words=dsl["excl_words"],
            exclude_tags=dsl["excl_tags"],
            ranges=dsl["ranges"] or None)})

    # ----------------------------------------------------------- doc GETs

    def _fetch(self, eng, num_id: int):
        rows = eng.get_doc(num_id).collect()
        return rows[0] if rows else None

    def _get_doc(self, index, eng, doc_id: str) -> None:
        num = _parse_hex_id(doc_id)
        if num is None:
            self._send(400, {
                "message": f"parse error id '{doc_id}' of index '{index}'"
            })
            return
        row = self._fetch(eng, num)
        base = {"_id": doc_id, "_index": index, "_type": "_doc",
                "_version": 0, "_primary_term": 0, "_seq_no": 0}
        if row is None:
            self._send(404, {**base, "_source": None, "found": False})
            return
        self._send(200, {**base, "_source": _source_doc(row), "found": True})

    def _mget(self, index, eng, body: dict) -> None:
        """ES ``_mget`` (flagged extension): N ids → ONE shard-pruned
        doc_store scan (SearchEngine.get_docs), response docs restored
        to request order with per-id found flags — the batch analogue of
        GET ``_doc/{id}``, the read-side sibling of ``_msearch``.
        Accepts ``{"ids": [...]}`` or ES's ``{"docs": [{"_id": ...}]}``;
        ids in the hit ``d<hex>`` form."""
        ids = (body or {}).get("ids")
        if ids is None and isinstance((body or {}).get("docs"), list):
            ids = [(d or {}).get("_id") for d in body["docs"]]
        if not isinstance(ids, list) or not ids:
            self._send(400, {"message": "_mget body must carry a non-empty "
                                        "'ids' or 'docs' list"})
            return
        nums = []
        for i in ids:
            num = _parse_hex_id(i) if isinstance(i, str) else None
            if num is None:
                self._send(400, {
                    "message": f"parse error id '{i}' of index '{index}'"
                })
                return
            nums.append(num)
        rows = {int(r["doc_id"]): r for r in eng.get_docs(nums).collect()}
        docs = []
        for num in nums:
            base = {"_id": f"d{num:x}", "_index": index, "_type": "_doc",
                    "_version": 0, "_primary_term": 0, "_seq_no": 0}
            row = rows.get(num)
            if row is None:
                docs.append({**base, "_source": None, "found": False})
            else:
                docs.append({**base, "_source": _source_doc(row),
                             "found": True})
        self._send(200, {"docs": docs})

    def _delete_by_query(self, index, eng, body: dict) -> None:
        """ES ``_delete_by_query`` (flagged extension): the same bool
        DSL as ``_search`` (match_phrase + terms filter + must_not; no
        should/prefix — those aren't match predicates), resolved to the
        parity match set and removed in ONE batch mutation
        (SearchEngine.delete_by_query).  Serialized per index like every
        write route; the engine snapshot swaps on success."""
        import time as _time

        try:
            dsl = _parse_dsl(body)
        except ValueError as exc:
            self._send(400, {"message": str(exc)[:500]})
            return
        if dsl["should_word"] or dsl["prefix"] is not None:
            self._send(400, {
                "message": "_delete_by_query supports bool.must."
                           "match_phrase + filter.terms + must_not only"
            })
            return
        if dsl["sort"] is not None:
            self._send(400, {"message": "_delete_by_query does not "
                                        "support sort"})
            return
        if not dsl["search_word"] and not dsl["tags"] and not dsl["ranges"]:
            self._send(400, {
                "message": "_delete_by_query requires a match_phrase "
                           "query, a terms filter or a range filter"
            })
            return
        t0 = _time.time()
        with self.mut_locks[index]:
            n = eng.delete_by_query(
                dsl["search_word"], dsl["tags"], lang=dsl["lang"],
                exclude_words=dsl["excl_words"],
                exclude_tags=dsl["excl_tags"],
                ranges=dsl["ranges"] or None)
            self._refresh(index, eng)
        self._send(200, {
            "took": int((_time.time() - t0) * 1000),
            "total": n, "deleted": n,
            "failures": [],
        })

    # ---------------------------------------------------- index lifecycle

    def _create_index(self, name: str, body: dict) -> None:
        """ES ``PUT /{index}`` (flagged extension — the reference's index
        is a static config option, watertower.go:62-63): build a ZERO-DOC
        index under the server's ``index_root`` and register a live
        engine for it, so create → ``_bulk`` → ``_search`` works without
        a restart.  Body: ``analyzer`` / ``default_lang`` /
        ``docs_per_shard`` (the manifest knobs a build takes)."""
        import re as _re

        if self.index_root is None or self.spark_ref is None:
            self._send(400, {
                "message": "index creation requires a server started "
                           "with index_root (make_server(index_root=...))"
            })
            return
        if not _re.fullmatch(r"[a-zA-Z0-9][a-zA-Z0-9_.-]{0,127}", name) \
                or name.startswith("_"):
            self._send(400, {"message": f"invalid index name '{name}'"})
            return
        from .operators.index_build import build_index
        from .operators.search import SearchEngine
        from .sources.corpus import DOC_SCHEMA, TAG_SCHEMA

        b = body or {}
        with self.admin_lock:
            idx_dir = os.path.join(self.index_root, name)
            if name in self.engines or os.path.exists(idx_dir):
                self._send(400, {
                    "message": f"index '{name}' already exists"
                })
                return
            spark = self.spark_ref
            docs = spark.createDataFrame([], DOC_SCHEMA)
            tags = spark.createDataFrame([], TAG_SCHEMA)
            try:
                dps = int(b.get("docs_per_shard") or 1024)
            except (TypeError, ValueError):
                self._send(400, {"message": "docs_per_shard must be int"})
                return
            try:
                build_index(docs, tags, idx_dir,
                            analyzer_lang=b.get("analyzer"),
                            default_lang=b.get("default_lang") or "",
                            docs_per_shard=dps)
                self.engines[name] = SearchEngine(spark, idx_dir)
            except Exception:
                # never leave a half-written idx_dir behind an
                # unregistered name: every retry PUT would 400 with
                # 'already exists' and DELETE 404 (ADVICE r5 medium)
                import shutil as _sh

                _sh.rmtree(idx_dir, ignore_errors=True)
                raise
            self.mut_locks[name] = threading.Lock()
        self._send(200, {"acknowledged": True, "index": name,
                         "shards_acknowledged": True})

    def _drop_index(self, name: str) -> None:
        """ES ``DELETE /{index}`` (flagged extension): deregister and
        remove an index CREATED THROUGH THIS SERVER (under index_root).
        Statically-mounted indexes are refused — the server doesn't own
        their storage.

        Drop-during-read is BEST-EFFORT (documented per ADVICE r5):
        readers never lock, so an in-flight ``_search`` whose plan
        still references the dropped parquet paths can fail with a 500
        rather than a clean 404; the engine is deregistered first so
        new requests 404 immediately."""
        eng = self.engines.get(name)
        if eng is None:
            self._send(404, {"message": f"index '{name}' is not found"})
            return
        owned = (
            self.index_root is not None
            and os.path.abspath(eng.index_dir)
            == os.path.join(os.path.abspath(self.index_root), name)
        )
        if not owned:
            self._send(400, {
                "message": f"index '{name}' is statically mounted; only "
                           "indexes created under index_root can be deleted"
            })
            return
        import shutil as _sh

        with self.admin_lock, self.mut_locks[name]:
            self.engines.pop(name, None)
            _sh.rmtree(eng.index_dir, ignore_errors=True)
        self.mut_locks.pop(name, None)
        self._send(200, {"acknowledged": True})

    def _index_info(self, name: str) -> None:
        """ES ``GET /{index}``-ish: manifest summary for one index."""
        eng = self.engines.get(name)
        if eng is None:
            self._send(404, {"message": f"index '{name}' is not found"})
            return
        m = eng.manifest
        self._send(200, {name: {
            "doc_count": int(m.get("doc_count", 0)),
            "analyzer_lang": m.get("analyzer_lang"),
            "default_lang": m.get("default_lang") or "",
            "docs_per_shard": int(m.get("docs_per_shard", 0)),
            "format_version": m.get("format_version"),
        }})

    def _analyze(self, index, eng, body: dict) -> None:
        """ES ``_analyze`` (flagged extension): run the index's QUERY
        analysis pipeline over a caller-supplied string and return the
        emitted tokens in position order — the standard way to debug
        "why didn't this match".  ``analyzer`` overrides the index's
        analyzer/default lang (empty engages the reference's byte-length
        n-gram heuristic, A7/Q1); tokens mirror the analysis-side
        contract exactly (same splitter/stemmer/stop handling,
        positions over KEPT words, A8).  Character offsets are not
        tracked by the engine's analyzers and are deliberately absent."""
        from .analyzers import analyze_query

        text = (body or {}).get("text")
        if not isinstance(text, str):
            self._send(400, {
                "message": "_analyze body must carry a string 'text'"
            })
            return
        lang = (body or {}).get("analyzer")
        if lang is None:
            lang = (eng.manifest.get("analyzer_lang")
                    or eng.manifest.get("default_lang") or "")
        token_map = analyze_query(text, lang)
        out = sorted(
            ((p, t) for t, ps in token_map.items() for p in ps),
        )
        self._send(200, {"tokens": [
            {"token": t, "position": p, "type": "word"} for p, t in out
        ]})

    def _get_source(self, index, eng, doc_id: str) -> None:
        num = _parse_hex_id(doc_id)
        if num is None:
            self._send(400, {
                "message": f"parse error id '{doc_id}' of index '{index}'"
            })
            return
        row = self._fetch(eng, num)
        if row is None:
            self._send(404, {
                "message":
                    f"document id '{doc_id}' in index '{index}' is not found"
            })
            return
        self._send(200, _source_doc(row))

    # -------------------------------------------------------- doc writes

    def _mutation_frames(self, eng, body: dict, url: str):
        """One-row (docs, tags) DataFrames in the index's stored shape."""
        from .sources.corpus import DOC_SCHEMA, TAG_SCHEMA

        spark = eng.spark
        docs = spark.createDataFrame(
            [(url, None, None, _doc_text(body), body.get("lang") or "")],
            schema=DOC_SCHEMA,
        )
        tags = body.get("tags")
        tags_df = (
            spark.createDataFrame([(url, [str(t) for t in tags])],
                                  schema=TAG_SCHEMA)
            if tags else None
        )
        return docs, tags_df

    def _refresh(self, index, eng):
        """Swap in a fresh engine snapshot after a mutation (the engine
        memoizes manifest + term stats at load)."""
        from .operators.search import SearchEngine

        new_eng = SearchEngine(eng.spark, eng.index_dir)
        self.engines[index] = new_eng
        return new_eng

    def _doc_id_of(self, eng, url: str) -> int | None:
        from pyspark.sql import functions as F

        hit = (
            eng.spark.read.parquet(eng._doc_map_path)
            .where(F.col("url") == url).limit(1).collect()
        )
        return int(hit[0]["doc_id"]) if hit else None

    def _post_doc(self, index, eng, body: dict) -> None:
        from .operators.maintenance import upsert_documents

        body = body or {}
        url = body.get("unique_key")
        if not url:
            self._send(400, {"message": "unique_key is required"})
            return
        try:
            with self.mut_locks[index]:
                docs, tags_df = self._mutation_frames(eng, body, url)
                upsert_documents(eng.spark, eng.index_dir, docs, tags_df)
                eng = self._refresh(index, eng)
        except Exception as exc:
            from .operators.maintenance import IndexLockedError

            if isinstance(exc, IndexLockedError):
                raise
            self._send(500, {
                "message": f"Post document error on index '{index}': {exc}"
            })
            return
        num = self._doc_id_of(eng, url)
        self._send(200, {
            "_id": f"d{num:x}" if num is not None else "",
            "_index": index, "_primary_term": 0, "_seq_no": 0,
            "_shards": None, "_type": "_doc", "_version": 0,
            "result": "created",
        })

    def _put_doc(self, index, eng, doc_id: str, body: dict) -> None:
        from .operators.maintenance import upsert_documents

        num = _parse_hex_id(doc_id)
        if num is None:
            self._send(400, {
                "message": f"parse error id '{doc_id}' of index '{index}'"
            })
            return
        body = body or {}
        with self.mut_locks[index]:
            row = self._fetch(eng, num)
            if row is None:
                self._send(404, {
                    "message":
                        f"document id '{doc_id}' in index '{index}'"
                        " is not found"
                })
                return
            url = body.get("unique_key") or row["url"]
            if url != row["url"]:
                self._send(400, {
                    "message":
                        f"unique_key '{url}' does not match document id"
                        f" '{doc_id}' of index '{index}'"
                })
                return
            docs, tags_df = self._mutation_frames(eng, body, url)
            upsert_documents(eng.spark, eng.index_dir, docs, tags_df)
            self._refresh(index, eng)
        self._send(200, {
            "_id": doc_id, "_index": index, "_primary_term": 0,
            "_seq_no": 0, "_shards": None, "_type": "_doc",
            "_version": 0, "result": "updated",
        })

    def _delete_doc(self, index, eng, doc_id: str) -> None:
        from .operators.maintenance import remove_documents

        try:  # reference quirk: DELETE ids are DECIMAL (handlers.go:247)
            num = int(doc_id, 10)
            if not (0 <= num <= 0xFFFFFFFF):
                raise ValueError(doc_id)
        except ValueError:
            self._send(400, {
                "message": f"parse error id '{doc_id}' of index '{index}'"
            })
            return
        with self.mut_locks[index]:
            row = self._fetch(eng, num)
            if row is None:
                self._send(400, {
                    "message":
                        f"can't remove document id '{doc_id}' of index"
                        f" '{index}': document is not found"
                })
                return
            urls = eng.spark.createDataFrame([(row["url"],)], "url string")
            remove_documents(eng.spark, eng.index_dir, urls)
            self._refresh(index, eng)
        self._send(200, {"_index": index, "_id": doc_id})

    # ---------------------------------------------------------- dispatch

    def _bulk(self, index, eng, lines) -> None:
        """ES ``_bulk`` (flagged extension): NDJSON action/source lines
        — ``{"index"|"create": {...}}`` followed by a document source
        (``unique_key`` required, like POST _doc; ``create`` behaves as
        create-or-replace, mirroring the reference's POST quirk of
        answering "created" even on replace), or ``{"delete": {"_id":
        "d<hex>"}}`` (the GET-side hex id form).

        Runs of CONSECUTIVE same-type actions coalesce into ONE batch
        mutation each (upsert_documents / remove_documents) — the
        write-side analogue of ``_msearch``: shard-rebuild and stats
        costs are paid per run, not per document, while preserving ES's
        in-order application for interleaved index/delete of one key.
        Per-item outcomes use the ES items shape; structural NDJSON
        errors 400 the whole request like ES does."""
        from pyspark.sql import functions as F

        from .operators.maintenance import remove_documents, upsert_documents
        from .sources.corpus import DOC_SCHEMA, TAG_SCHEMA

        if not isinstance(lines, list) or not lines:
            self._send(400, {"message": "_bulk body must be NDJSON "
                                        "action/source lines"})
            return
        acts: list = []  # ("index", source_dict) | ("delete", id_str)
        i = 0
        while i < len(lines):
            a = lines[i]
            if not isinstance(a, dict) or len(a) != 1:
                self._send(400, {"message": f"line {i}: action line must "
                                 "be one of index/create/delete"})
                return
            verb, meta = next(iter(a.items()))
            if verb in ("index", "create"):
                if i + 1 >= len(lines):
                    self._send(400, {"message": f"line {i}: missing "
                                                "source line"})
                    return
                src = lines[i + 1]
                if not isinstance(src, dict):
                    self._send(400, {"message": f"line {i + 1}: source "
                                     "line must be a JSON object"})
                    return
                acts.append(("index", src))
                i += 2
            elif verb == "delete":
                acts.append(("delete", str((meta or {}).get("_id") or "")))
                i += 1
            else:
                self._send(400, {"message": f"line {i}: unsupported bulk "
                                            f"action {verb!r}"})
                return

        t0 = time.time()
        items: list = [None] * len(acts)
        errors = False
        spark = eng.spark
        with self.mut_locks[index]:
            runs: list = []
            for j, (verb, _) in enumerate(acts):
                if runs and runs[-1][0] == verb:
                    runs[-1][1].append(j)
                else:
                    runs.append((verb, [j]))
            cur = eng
            for verb, idxs in runs:
                if verb == "index":
                    good = []
                    for j in idxs:
                        src = acts[j][1]
                        if not src.get("unique_key"):
                            items[j] = {"index": {
                                "_id": "", "_index": index, "status": 400,
                                "error": "unique_key is required"}}
                            errors = True
                        else:
                            good.append(j)
                    if not good:
                        continue
                    rows = [
                        (acts[j][1]["unique_key"], None, None,
                         _doc_text(acts[j][1]), acts[j][1].get("lang") or "")
                        for j in good
                    ]
                    docs = spark.createDataFrame(rows, schema=DOC_SCHEMA)
                    trows = [
                        (acts[j][1]["unique_key"],
                         [str(t) for t in acts[j][1]["tags"]])
                        for j in good if acts[j][1].get("tags")
                    ]
                    tags_df = spark.createDataFrame(
                        trows, schema=TAG_SCHEMA) if trows else None
                    upsert_documents(spark, cur.index_dir, docs, tags_df)
                    cur = self._refresh(index, cur)
                    urls = [acts[j][1]["unique_key"] for j in good]
                    idmap = {
                        r["url"]: int(r["doc_id"])
                        for r in spark.read.parquet(cur._doc_map_path)
                        .where(F.col("url").isin(urls)).collect()
                    }
                    for j in good:
                        u = acts[j][1]["unique_key"]
                        items[j] = {"index": {
                            "_id": f"d{idmap[u]:x}" if u in idmap else "",
                            "_index": index, "_type": "_doc",
                            "result": "created", "status": 200}}
                else:
                    ids = {j: _parse_hex_id(acts[j][1]) for j in idxs}
                    valid = [v for v in ids.values() if v is not None]
                    urlmap: dict = {}
                    if valid:
                        urlmap = {
                            int(r["doc_id"]): r["url"]
                            for r in spark.read.parquet(cur._doc_map_path)
                            .where(F.col("doc_id").isin(valid)).collect()
                        }
                    victims = sorted({
                        urlmap[v] for v in valid if v in urlmap})
                    if victims:
                        remove_documents(
                            spark, cur.index_dir,
                            spark.createDataFrame(
                                [(u,) for u in victims], "url string"))
                        cur = self._refresh(index, cur)
                    for j in idxs:
                        v = ids[j]
                        if v is None:
                            items[j] = {"delete": {
                                "_id": acts[j][1], "_index": index,
                                "status": 400,
                                "error": "id must be 'd' + hex"}}
                            errors = True
                        elif v in urlmap:
                            items[j] = {"delete": {
                                "_id": f"d{v:x}", "_index": index,
                                "_type": "_doc", "result": "deleted",
                                "status": 200}}
                        else:
                            items[j] = {"delete": {
                                "_id": acts[j][1], "_index": index,
                                "_type": "_doc", "result": "not_found",
                                "status": 404}}
                            errors = True
        self._send(200, {"took": int((time.time() - t0) * 1000),
                         "errors": errors, "items": items})

    def _with_body(self, method: str) -> None:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b""
        path = urllib.parse.urlparse(self.path).path.rstrip("/")
        if path.endswith("/_msearch") or path.endswith("/_bulk"):
            # ES _msearch/_bulk bodies are NDJSON, not one JSON document
            try:
                lines = [json.loads(l)
                         for l in raw.decode("utf-8").splitlines()
                         if l.strip()]
            except (json.JSONDecodeError, UnicodeDecodeError):
                self._send(400, {"message": "body must be NDJSON "
                                        "(one JSON object per line)"})
                return
            self._route(method, lines)
            return
        try:
            body = json.loads(raw) if raw else None
        except json.JSONDecodeError:
            self._send(400, {"message": "request body is not valid JSON"})
            return
        self._route(method, body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self._route("GET", None)

    def do_POST(self) -> None:  # noqa: N802
        self._with_body("POST")

    def do_PUT(self) -> None:  # noqa: N802
        self._with_body("PUT")

    def do_DELETE(self) -> None:  # noqa: N802
        self._route("DELETE", None)


def make_server(engines: dict, host: str = "127.0.0.1",
                port: int = 0, fair_pools: bool = True,
                index_root: str | None = None,
                spark=None) -> ThreadingHTTPServer:
    """Build (not start) a ThreadingHTTPServer serving ``engines``
    ({index_name: SearchEngine}).  ``port=0`` binds an ephemeral port
    (``server.server_address[1]``).  Callers run
    ``server.serve_forever()`` — typically on a daemon thread next to
    the driver — and ``server.shutdown()`` to stop.  ``fair_pools``
    exists for A/B measurement (bench_server_qps.py) — leave it on in
    services.

    ``index_root`` enables the index-lifecycle routes (PUT/DELETE
    ``/indexes/{name}``): created indexes live under that dir and only
    those can be deleted.  ``spark`` is the session creation uses;
    defaults to the first engine's session when engines are given."""
    if spark is None and engines:
        spark = next(iter(engines.values())).spark
    handler = type("WatertowerHandler", (_Handler,), {
        "engines": dict(engines),
        "mut_locks": {name: threading.Lock() for name in engines},
        "fair_pools": fair_pools,
        "index_root": index_root,
        "spark_ref": spark,
        "admin_lock": threading.Lock(),
    })
    return ThreadingHTTPServer((host, port), handler)
