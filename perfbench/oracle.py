"""Driver-side answers to the benchmark's queries, computed without Spark.

Documents are analyzed with the library's own ``analyze_document`` (the
same analysis the index uses: title and body split on the first blank
line, body positions win for shared terms).  Scores use the BM25 form of
the kernel tests: ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` and
``tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))`` with ``dl`` the
document's analyzed word count and ``avgdl`` its mean over the corpus.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


class Oracle:
    def __init__(self, urls: list, texts: list, tags: list, lang: str = "en"):
        from watertower_spark.analyzers import analyze_document, split_title_body

        self.urls = urls
        self.postings: dict = {}   # term -> {doc index: positions}
        self.dl: list = []
        self.tags: dict = {}       # tag -> set of doc indexes
        for i, (text, tg) in enumerate(zip(texts, tags)):
            title, body = split_title_body(text)
            tokens, wc, _twc = analyze_document(title, body, lang, lang)
            self.dl.append(wc)
            for term, pos in tokens.items():
                self.postings.setdefault(term, {})[i] = pos
            for t in tg:
                self.tags.setdefault(t, set()).add(i)
        self.n = len(urls)
        self.avgdl = sum(self.dl) / self.n
        self.lang = lang

    def analyze_map(self, text: str) -> dict:
        """Query term -> positions in the query (the engine's analysis)."""
        from watertower_spark.analyzers import analyze_query

        return analyze_query(text, self.lang, self.lang) if text else {}

    def analyze(self, text: str) -> list:
        return sorted(self.analyze_map(text))

    def _score(self, doc: int, terms: list) -> float:
        s = 0.0
        for t in terms:
            pos = self.postings.get(t, {}).get(doc)
            if pos is None:
                continue
            df = len(self.postings[t])
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            tf = float(len(pos))
            s += idf * (K1 + 1.0) * tf / (tf + K1 * (1.0 - B + B * self.dl[doc] / self.avgdl))
        return s

    def _and(self, terms: list, tags=(), exclude=()) -> set:
        if not terms:
            return set()
        docs = set(self.postings.get(terms[0], {}))
        for t in terms[1:]:
            docs &= set(self.postings.get(t, {}))
        for tg in tags:
            docs &= self.tags.get(tg, set())
        for t in exclude:
            docs -= set(self.postings.get(t, {}))
        return docs

    def _topk(self, docs, terms: list, k: int) -> list:
        scored = sorted(((self._score(d, terms), d) for d in docs), key=lambda x: (-x[0], x[1]))
        return scored[:k]

    def expected(self, q: dict):
        """The expected answer of query ``q`` (see corpus.make_query):
        ``("topk", [(score, url)...])`` for ranked kinds, ``("set", urls)``
        for parity and key lookups."""
        kind = q["kind"]
        if kind == "key":
            return ("set", {q["key"]} if q["key"] in self._index() else set())
        if kind == "prefix":
            terms = self._expand(q["prefix"])
            docs = set().union(*(self.postings[t].keys() for t in terms)) if terms else set()
            return ("topk", [(s, self.urls[d]) for s, d in self._topk(docs, terms, 10)])
        terms = self.analyze(q.get("word", ""))
        if kind == "or":
            docs = set().union(*(self.postings.get(t, {}).keys() for t in terms)) if terms else set()
            return ("topk", [(s, self.urls[d]) for s, d in self._topk(docs, terms, q["k"])])
        excl = self.analyze(q.get("exclude_words", ""))
        if set(excl) & set(terms):
            return ("topk", [])
        docs = self._and(terms, q.get("tags") or (), excl)
        qmap = self.analyze_map(q.get("word", ""))
        if sum(len(p) for p in qmap.values()) > 1:
            # a conjunctive query of several words is a phrase query
            docs = {d for d in docs if self._has_phrase(d, qmap)}
        if kind == "parity":
            return ("set", {self.urls[d] for d in docs})
        return ("topk", [(s, self.urls[d]) for s, d in self._topk(docs, terms, q["k"])])

    def _has_phrase(self, doc: int, qmap: dict) -> bool:
        """Every query term at its query offset from one common start."""
        starts = None
        for t, qpos in qmap.items():
            dpos = self.postings[t][doc]
            for qp in qpos:
                s = {p - qp for p in dpos}
                starts = s if starts is None else starts & s
        return bool(starts)

    def check(self, q: dict, rows: list) -> bool:
        """``rows``: (url, score) pairs as returned by the engine."""
        exp = self.expected(q)
        if exp[0] == "set":
            return {u for u, _s in rows} == exp[1] and len(rows) == len(exp[1])
        # same score sequence, and each hit scores what the oracle gives
        # it (so ties at the k-th score may resolve to any tied doc)
        want = exp[1]
        if len(rows) != len(want):
            return False
        terms = self._scoring_terms(q)
        for (u, s), (ws, _wu) in zip(rows, want):
            d = self._index().get(u)
            if d is None or not (_close(s, ws) and _close(s, self._score(d, terms))):
                return False
        return True

    def _scoring_terms(self, q: dict) -> list:
        if q["kind"] == "prefix":
            return self._expand(q["prefix"])
        return self.analyze(q.get("word", ""))

    def _expand(self, prefix: str) -> list:
        """The engine's prefix rewrite: matching terms by (df desc, term)."""
        pre = prefix.strip().lower().rstrip("*")
        cands = sorted((-len(p), t) for t, p in self.postings.items() if t.startswith(pre))
        return [t for _neg, t in cands[:50]]

    def _index(self) -> dict:
        ix = self.__dict__.get("_ix")
        if ix is None:
            ix = self._ix = {u: i for i, u in enumerate(self.urls)}
        return ix


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
