"""Seeded corpus and query generator owned by the benchmark.

Nothing here imports the library, so no library change can alter the
inputs a workload runs on.  The same seed always gives the same
documents, tags, planted duplicates and queries.

The vocabulary is fixed (independent of the seed) and drawn with a Zipf
law, so every seed gives a corpus of the same shape: the seed only moves
which words land in which document.  Documents are
``title + "\\n\\n" + body lines`` with English-looking alphabetic words
of 4 to 8 letters, so they pass the Gopher quality filter.
"""

from __future__ import annotations

import numpy as np

VOCAB_SIZE = 4000
ZIPF_S = 1.0
N_TAGS = 12
N_PHRASES = 24
N_BOILERPLATE = 30

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def _vocabulary() -> list:
    rng = np.random.default_rng(20240611)
    sylls = [c + v for c in _CONS for v in _VOWELS]
    seen: set = set()
    words = []
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 4))
        w = "".join(sylls[int(i)] for i in rng.integers(0, len(sylls), n))
        if rng.random() < 0.3:
            w += _CONS[int(rng.integers(0, len(_CONS)))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary()
_P = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
_CUM = np.cumsum(_P / _P.sum())
TAGS = [f"t{i}" for i in range(N_TAGS)]
# tag i is carried by ~1/(i+2) of the documents
_TAG_P = np.array([1.0 / (i + 2) for i in range(N_TAGS)])
# phrases: fixed pairs of mid-frequency words, planted into ~4% of docs
PHRASES = [f"{VOCAB[300 + 2 * i]} {VOCAB[301 + 2 * i]}" for i in range(N_PHRASES)]
BOILERPLATE = [
    " ".join(VOCAB[1000 + 7 * i: 1000 + 7 * i + 7]) + " reserved" for i in range(N_BOILERPLATE)
]
_BOILER_SET = set(BOILERPLATE)


def _words(rng, n: int) -> list:
    return [VOCAB[i] for i in np.searchsorted(_CUM, rng.random(n))]


def _line(rng) -> str:
    return " ".join(_words(rng, int(rng.integers(8, 15))))


def _doc(rng, phrase_rate: float, boiler_rate: float) -> tuple:
    # at least 3 + 6 * 8 = 51 words besides boilerplate, so every doc
    # passes the Gopher 50-word minimum once boilerplate lines are gone
    title = " ".join(_words(rng, int(rng.integers(3, 8))))
    lines = [_line(rng) for _ in range(int(rng.integers(6, 11)))]
    if rng.random() < phrase_rate:
        j = int(rng.integers(0, len(lines)))
        ws = lines[j].split()
        ws.insert(int(rng.integers(0, len(ws) + 1)), PHRASES[int(rng.integers(0, N_PHRASES))])
        lines[j] = " ".join(ws)
    if rng.random() < boiler_rate:
        for _ in range(int(rng.integers(1, 3))):
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         BOILERPLATE[int(rng.integers(0, N_BOILERPLATE))])
    tags = [t for t, p in zip(TAGS, _TAG_P) if rng.random() < p] or [TAGS[0]]
    return title, lines, tags


def make_corpus(seed: int, n_docs: int, prefix: str = "doc",
                dup_rate: float = 0.0, near_rate: float = 0.0,
                boiler_rate: float = 0.0, phrase_rate: float = 0.04) -> dict:
    """``n_docs`` documents (plus planted twins) as plain Python lists.

    Returns ``{"url", "text", "tags"}`` column lists in doc order and
    ``exact_twins`` / ``near_twins``: (original url, twin url) pairs.
    An exact twin repeats its original line for line except for the
    e-mail address carried by every line, so the two texts are equal
    once PII is scrubbed.  A near twin changes the last word of the
    last body line that is not boilerplate: once boilerplate lines are
    removed that is the last word of the text, so exactly one 3-shingle
    differs (Jaccard >= 0.96, which MinHash LSH with 8 bands of 4 finds
    with probability above 1 - 1e-6).  Twins always come after their
    originals, so the pipeline's keep-the-smaller-id rule drops the
    twin.
    """
    rng = np.random.default_rng([seed, n_docs])
    urls, texts, tags = [], [], []
    exact, near = [], []
    for i in range(n_docs):
        title, lines, tg = _doc(rng, phrase_rate, boiler_rate)
        url = f"{prefix}://{seed}/{i:07d}"
        r = rng.random()
        if r < dup_rate:
            def mail(k, who):
                return f"{who}{k}{i}@mail{seed}.example.org"

            twin_lines = [ln + " " + mail(k, "ops") for k, ln in enumerate(lines)]
            lines = [ln + " " + mail(k, "info") for k, ln in enumerate(lines)]
            title = f"{title} {mail(99, 'desk')}"
            twin_title = f"{title.rsplit(' ', 1)[0]} {mail(99, 'team')}"
            urls.append(url)
            texts.append(title + "\n\n" + "\n".join(lines))
            tags.append(tg)
            exact.append((url, url + "/copy"))
            urls.append(url + "/copy")
            texts.append(twin_title + "\n\n" + "\n".join(twin_lines))
            tags.append(tg)
            continue
        urls.append(url)
        texts.append(title + "\n\n" + "\n".join(lines))
        tags.append(tg)
        if r < dup_rate + near_rate:
            j = max(i for i, ln in enumerate(lines) if ln not in _BOILER_SET)
            ws = lines[j].split()
            ws[-1] = VOCAB[int(rng.integers(VOCAB_SIZE - 1000, VOCAB_SIZE))]
            twin = list(lines)
            twin[j] = " ".join(ws)
            near.append((url, url + "/near"))
            urls.append(url + "/near")
            texts.append(title + "\n\n" + "\n".join(twin))
            tags.append(tg)
    return {"url": urls, "text": texts, "tags": tags,
            "exact_twins": exact, "near_twins": near}


# ---------------------------------------------------------------- queries

QUERY_KINDS = ("term", "phrase", "tag", "or", "parity", "key", "not", "prefix")
# queries of each kind in one round of the single-query mix
ROUND_MIX = {"term": 2, "phrase": 1, "tag": 2, "or": 1, "parity": 1, "key": 1, "not": 1,
             "prefix": 1}
# kinds msearch accepts (key lookups and prefix expansion are not msearch entries)
MSEARCH_KINDS = ("term", "phrase", "tag", "or", "parity", "not")


def _band_word(rng, lo: int, hi: int) -> str:
    return VOCAB[int(rng.integers(lo, hi))]


def make_query(rng, kind: str, urls: list) -> dict:
    """One query of ``kind`` as a dict in ``SearchEngine.msearch`` entry
    form (``word``/``tags``/``mode``/``k``/``operator``/``exclude_words``),
    plus ``kind`` and, for key lookups and prefixes, ``key``/``prefix``."""
    q: dict = {"kind": kind, "mode": "bm25", "k": 10}
    if kind == "term":
        q["word"] = _band_word(rng, 5, 200)
    elif kind == "phrase":
        q["word"] = PHRASES[int(rng.integers(0, N_PHRASES))]
    elif kind == "tag":
        q["word"] = _band_word(rng, 5, 200)
        q["tags"] = [TAGS[int(rng.integers(0, N_TAGS))]]
    elif kind == "or":
        q["word"] = " ".join(_band_word(rng, 20, 400) for _ in range(int(rng.integers(2, 4))))
        q["operator"] = "or"
    elif kind == "parity":
        q["word"] = _band_word(rng, 300, 1000)
        q["mode"] = "parity"
        q["k"] = None
    elif kind == "key":
        q["key"] = urls[int(rng.integers(0, len(urls)))]
    elif kind == "not":
        q["word"] = _band_word(rng, 5, 150)
        q["exclude_words"] = _band_word(rng, 0, 60)
    elif kind == "prefix":
        q["prefix"] = _band_word(rng, 5, 300)[:3]
    else:
        raise ValueError(kind)
    return q


def query_rounds(seed: int, urls: list, n_rounds: int, kinds=QUERY_KINDS) -> list:
    """``n_rounds`` lists of queries; every round holds each kind in
    ``kinds`` in the fixed ``ROUND_MIX`` counts, in a seeded order, so
    any whole number of rounds has exactly the same mix."""
    rng = np.random.default_rng([seed, 7])
    seq = [k for k in kinds for _ in range(ROUND_MIX[k])]
    return [[make_query(rng, seq[i], urls) for i in rng.permutation(len(seq))]
            for _ in range(n_rounds)]


def new_docs(seed: int, start: int, n: int) -> dict:
    """``n`` fresh documents for upserts (urls never in the base corpus)."""
    rng = np.random.default_rng([seed, 11, start])
    out = {"url": [], "title": [], "content": [], "tags": []}
    for i in range(n):
        title, lines, tg = _doc(rng, 0.04, 0.0)
        out["url"].append(f"new://{seed}/{start + i:07d}")
        out["title"].append(title)
        out["content"].append("\n".join(lines))
        out["tags"].append(tg)
    return out
