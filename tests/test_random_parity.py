"""Randomized differential test: the distributed engine vs a pure-Python
reference implementation of the same search semantics.

The Python oracle independently implements analyze → AND-intersection →
phrase filter → TF-IDF/BM25 over plain dicts; 40 seeded random queries
(1-3 words, optional tag) must produce identical memberships and scores
on a 120-doc random corpus.  Guards the whole pipeline (analyzer, codec,
sharding, kernels) against semantic drift.
"""

import math
import random

import pytest

from watertower_spark.analyzers import analyze_document, analyze_query, split_title_body
from watertower_spark.operators.index_build import BM25_B, BM25_K1, build_index
from watertower_spark.operators.search import SearchEngine
from watertower_spark.sources import corpus

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
N_DOCS = 120
SEED = 1234


def _random_rows():
    rng = random.Random(SEED)
    rows = []
    for i in range(N_DOCS):
        title = " ".join(rng.choices(WORDS, k=rng.randint(1, 4)))
        body = " ".join(rng.choices(WORDS, k=rng.randint(5, 60)))
        rows.append(
            corpus._to_row(f"rnd/{i:04d}", title, body, "en",
                           [f"g{rng.randint(0, 3)}"], i)
        )
    return rows


class PyOracle:
    """Independent reference implementation (dicts, no Spark, no codec)."""

    def __init__(self, rows):
        self.docs = {}       # url -> (tokens map, wc)
        self.tags = {}       # tag -> set(url)
        for r in rows:
            title, body = split_title_body(r["text"])
            tokens, wc, _ = analyze_document(title, body, "en")
            self.docs[r["url"]] = (tokens, wc)
            for t in r["tags"]:
                self.tags.setdefault(t, set()).add(r["url"])
        self.n = len(rows)
        self.avgdl = sum(wc for _, wc in self.docs.values()) / self.n

    def search(self, q, tag=None, mode="parity"):
        qt = analyze_query(q, "en")
        if not qt and tag is None:
            return []
        cand = set(self.docs)
        for term in qt:
            cand &= {u for u, (tm, _) in self.docs.items() if term in tm}
        if tag is not None:
            cand &= self.tags.get(tag, set())
        if qt:
            cand = {u for u in cand if self._phrase_ok(u, qt)}
        out = []
        df = {t: sum(1 for tm, _ in self.docs.values() if t in tm) for t in qt}
        for u in cand:
            tm, wc = self.docs[u]
            score = 0.0
            for term, qp in qt.items():
                tf = len(tm[term])
                if mode == "parity":
                    score += (1.0 + math.log(tf)) * math.log(self.n / df[term])
                else:
                    idf = math.log(1.0 + (self.n - df[term] + 0.5) / (df[term] + 0.5))
                    score += idf * (BM25_K1 + 1.0) * tf / (
                        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * wc / self.avgdl)
                    )
            out.append((u, score))
        return sorted(out, key=lambda x: (x[1], x[0]) if mode == "parity" else (-x[1], x[0]))

    def search_or(self, q, tag=None, k=10):
        """Disjunctive BM25 top-k; tags stay conjunctive filters."""
        qt = analyze_query(q, "en")
        if not qt:
            return []
        df = {t: sum(1 for tm, _ in self.docs.values() if t in tm) for t in qt}
        out = []
        for u, (tm, wc) in self.docs.items():
            if tag is not None and u not in self.tags.get(tag, set()):
                continue
            score = 0.0
            for term in qt:
                tf = len(tm.get(term, ()))
                if tf and df[term]:
                    idf = math.log(1.0 + (self.n - df[term] + 0.5) / (df[term] + 0.5))
                    score += idf * (BM25_K1 + 1.0) * tf / (
                        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * wc / self.avgdl)
                    )
            if score > 0.0:
                out.append((u, score))
        return sorted(out, key=lambda x: (-x[1], x[0]))[:k]

    def _phrase_ok(self, url, qt):
        tm, _ = self.docs[url]
        rel_sets = []
        for term, qp in qt.items():
            positions = set(tm[term])
            qp0 = qp[0]
            rel = set()
            for p in positions:
                if all(((p - qp0 + qi) % (1 << 32)) in positions for qi in qp[1:]):
                    rel.add((p - qp0) % (1 << 32))
            rel_sets.append(rel)
        inter = rel_sets[0]
        for s in rel_sets[1:]:
            inter &= s
        return bool(inter)


@pytest.fixture(scope="module")
def rnd_setup(spark, tmp_index_root):
    rows = _random_rows()
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA,
    )
    tags = spark.createDataFrame([(r["url"], r["tags"]) for r in rows], schema=corpus.TAG_SCHEMA)
    idx = f"{tmp_index_root}/random"
    build_index(docs, tags, idx, default_lang="en", docs_per_shard=17)
    return SearchEngine(spark, idx), PyOracle(rows)


def test_random_queries_match_python_oracle(rnd_setup):
    eng, oracle = rnd_setup
    rng = random.Random(99)
    checked_nonempty = 0
    for i in range(40):
        n_words = rng.randint(1, 3)
        q = " ".join(rng.choices(WORDS, k=n_words))
        tag = f"g{rng.randint(0, 3)}" if rng.random() < 0.3 else None
        mode = "parity" if rng.random() < 0.5 else "bm25"
        want = oracle.search(q, tag, mode)
        got = [
            (r["url"], r["score"])
            for r in eng.search(q, [tag] if tag else None, "en", mode=mode).collect()
        ]
        assert len(got) == len(want), f"q={q!r} tag={tag} mode={mode}: {len(got)} vs {len(want)}"
        for (gu, gs), (wu, ws) in zip(got, want):
            assert gu == wu, f"q={q!r} tag={tag} mode={mode}: order {gu} vs {wu}"
            assert abs(gs - ws) < 1e-9, f"q={q!r}: score {gs} vs {ws}"
        if want:
            checked_nonempty += 1
    assert checked_nonempty >= 10  # the query mix must exercise real results


def test_random_or_queries_match_python_oracle(rnd_setup):
    """Differential coverage for the OR maxscore kernel incl. the r2
    conjunctive tag filter: 25 seeded disjunctive queries must match the
    independent oracle's top-k membership, order and scores."""
    eng, oracle = rnd_setup
    rng = random.Random(7)
    checked_nonempty = 0
    for _ in range(25):
        q = " ".join(rng.choices(WORDS, k=rng.randint(1, 3)))
        tag = f"g{rng.randint(0, 3)}" if rng.random() < 0.4 else None
        want = oracle.search_or(q, tag, k=10)
        got = [
            (r["url"], r["score"])
            for r in eng.search(q, [tag] if tag else None, "en",
                                mode="bm25", operator="or", k=10).collect()
        ]
        assert len(got) == len(want), f"q={q!r} tag={tag}: {len(got)} vs {len(want)}"
        for (gu, gs), (wu, ws) in zip(got, want):
            assert gu == wu, f"q={q!r} tag={tag}: order {gu} vs {wu}"
            assert abs(gs - ws) < 1e-9, f"q={q!r}: score {gs} vs {ws}"
        if want:
            checked_nonempty += 1
    assert checked_nonempty >= 10


def test_random_queries_distributed_batch(rnd_setup, distributed):
    """Both seeded query sets above once more, through the distributed
    exchange (the 120-doc index otherwise scores every query in the
    driver), as ONE msearch batch: the same oracle answers per qid."""
    eng, oracle = rnd_setup
    entries, wants = [], []
    rng = random.Random(99)
    for _ in range(40):
        n_words = rng.randint(1, 3)
        q = " ".join(rng.choices(WORDS, k=n_words))
        tag = f"g{rng.randint(0, 3)}" if rng.random() < 0.3 else None
        mode = "parity" if rng.random() < 0.5 else "bm25"
        entries.append(dict(word=q, tags=[tag] if tag else None, lang="en",
                            mode=mode, k=None))
        wants.append(oracle.search(q, tag, mode))
    rng = random.Random(7)
    for _ in range(25):
        q = " ".join(rng.choices(WORDS, k=rng.randint(1, 3)))
        tag = f"g{rng.randint(0, 3)}" if rng.random() < 0.4 else None
        entries.append(dict(word=q, tags=[tag] if tag else None, lang="en",
                            mode="bm25", operator="or", k=10))
        wants.append(oracle.search_or(q, tag, k=10))
    df = eng.msearch(entries)
    assert "FlatMapGroupsInPandas" in df._jdf.queryExecution().executedPlan().toString()
    got = {}
    for r in df.collect():
        got.setdefault(r["qid"], []).append((r["url"], r["score"]))
    for qid, want in enumerate(wants):
        rows = got.get(qid, [])
        assert [u for u, _ in rows] == [u for u, _ in want], entries[qid]
        for (gu, gs), (_, ws) in zip(rows, want):
            assert abs(gs - ws) < 1e-9, f"{entries[qid]}: {gu} score {gs} vs {ws}"
    assert sum(1 for w in wants if w) >= 20
