"""Kernel-level tests of the three per-shard scorers (block-max AND,
exhaustive AND, maxscore OR) — no Spark session: each kernel is a plain
Python function of (key, pandas.DataFrame), driven here with synthetic
shards.

The first two tests use a two-head-term shard: decoded-block count must
DROP versus exhaustive decoding (the bound from the (block_max_tf,
block_min_dl) sidecars prunes whole driving-list blocks), while the
top-k stays exactly equal to the unpruned general path and to a numpy
brute force.  The rest pin the (score DESC, doc_id ASC) tie contract,
the one-term block-max loop, and every scorer against a brute force.
"""

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from watertower_spark.functions import codec
from watertower_spark.operators import search as S
from watertower_spark.operators.index_build import BM25_B, BM25_K1

N_DOCS = 40_000
DL = 100
HOT = 1280  # docs <= HOT carry tf=10, the rest tf=1


def _term_row(term, doc_ids, tfs, positions, dls):
    packed = codec.pack_postings(
        np.asarray(doc_ids), np.asarray(tfs), dls=np.asarray(dls)
    )
    pos_parts = [codec.encode_position_list(p) for p in positions]
    lens = np.fromiter((len(p) for p in pos_parts), dtype=np.int64)
    cum = np.concatenate(([0], np.cumsum(lens)))
    bpo = cum[:: codec.BLOCK_SIZE][
        : (len(pos_parts) + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
    ]
    return dict(
        kind="term", name=term, shard=0, df=packed["df"],
        doc_blob=packed["doc_blob"], tf_blob=packed["tf_blob"],
        pos_blob=b"".join(pos_parts),
        block_off=packed["block_off"], block_last=packed["block_last"],
        block_tf_off=packed["block_tf_off"], block_pos_off=bpo.tobytes(),
        block_max_tf=packed["block_max_tf"],
        block_min_dl=packed["block_min_dl"],
    )


def _shard_pdf():
    a_ids = np.arange(2, N_DOCS + 1, 2, dtype=np.int64)  # every even doc
    b_ids = np.arange(3, N_DOCS + 1, 3, dtype=np.int64)  # every third doc
    a_tfs = np.where(a_ids <= HOT, 10, 1)
    b_tfs = np.where(b_ids <= HOT, 10, 1)
    # "aa" always at position 0, "bb" at 1 → the phrase "aa bb" passes
    rows = [
        _term_row("aa", a_ids, a_tfs, [[0]] * a_ids.size,
                  np.full(a_ids.size, DL)),
        _term_row("bb", b_ids, b_tfs, [[1]] * b_ids.size,
                  np.full(b_ids.size, DL)),
        dict(kind="len", name="", shard=0, df=N_DOCS,
             doc_blob=np.full(N_DOCS, DL, dtype=np.int32).tobytes(),
             tf_blob=None, pos_blob=None, block_off=None, block_last=None,
             block_tf_off=None, block_pos_off=None, block_max_tf=None,
             block_min_dl=None),
    ]
    df_global = {"aa": int(a_ids.size), "bb": int(b_ids.size)}
    return pd.DataFrame(rows), df_global


def _brute_force_topk(df_global, k=10):
    inter = [d for d in range(6, N_DOCS + 1, 6)]  # multiples of lcm(2,3)
    scores = []
    for d in inter:
        s = 0.0
        for term in ("aa", "bb"):
            tf = 10.0 if d <= HOT else 1.0
            dfg = df_global[term]
            idf = math.log(1.0 + (N_DOCS - dfg + 0.5) / (dfg + 0.5))
            denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * DL / DL)
            s += idf * (BM25_K1 + 1.0) * tf / denom
        scores.append((d, s))
    scores.sort(key=lambda x: (-x[1], x[0]))
    return scores[:k]


def _run(kernel, pdf):
    out = kernel((0,), pdf.copy())
    return sorted(
        zip(out["doc_id"].astype(int), out["score"].astype(float)),
        key=lambda x: (-x[1], x[0]),
    )


def test_blockmax_and_matches_brute_force_and_prunes(monkeypatch):
    pdf, df_global = _shard_pdf()
    query_tokens = {"aa": [0], "bb": [1]}

    decoded_blocks = []
    real = codec.decode_doc_blocks

    def spy(doc_blob, block_off, df, blocks, *a, **kw):
        decoded_blocks.append(len(blocks))
        return real(doc_blob, block_off, df, blocks, *a, **kw)

    monkeypatch.setattr(codec, "decode_doc_blocks", spy)

    kernel = S._make_kernel(query_tokens, df_global, N_DOCS, float(DL),
                            "bm25", 10, n_tags=0, docs_per_shard=N_DOCS)
    got = _run(kernel, pdf)
    want = [(d, round(s, 12)) for d, s in _brute_force_topk(df_global)]
    assert [(d, round(s, 12)) for d, s in got] == want

    # pruning evidence: the two lists hold ~262 blocks total; the hot
    # region plus a handful of bound-check survivors must be all that
    # is ever DECODED
    total_blocks = sum(
        -(-df_global[t] // codec.BLOCK_SIZE) for t in df_global
    )
    assert total_blocks > 250
    assert sum(decoded_blocks) < 60, (sum(decoded_blocks), total_blocks)


def test_blockmax_and_equals_general_path():
    """The pruned fast path must be result-identical to the general
    (k=None ⇒ exhaustive scoring) path's top-10."""
    pdf, df_global = _shard_pdf()
    query_tokens = {"aa": [0], "bb": [1]}
    fast = S._make_kernel(query_tokens, df_global, N_DOCS, float(DL),
                          "bm25", 10, n_tags=0, docs_per_shard=N_DOCS)
    general = S._make_kernel(query_tokens, df_global, N_DOCS, float(DL),
                             "bm25", None, n_tags=0, docs_per_shard=N_DOCS)
    got_fast = _run(fast, pdf)
    got_general = _run(general, pdf)[:10]
    assert [(d, round(s, 12)) for d, s in got_fast] == \
        [(d, round(s, 12)) for d, s in got_general]


def _len_row(dls):
    return dict(kind="len", name="", shard=0, df=len(dls),
                doc_blob=np.asarray(dls, dtype=np.int32).tobytes(),
                tf_blob=None, pos_blob=None, block_off=None, block_last=None,
                block_tf_off=None, block_pos_off=None, block_max_tf=None,
                block_min_dl=None)


def _or_row(row):
    """An OR query's posting row: the AND-only sidecars ride as NULL."""
    return {**row, **{c: None for c in S._AND_ONLY_BLOBS}}


def _tie_term(name, ids, tfs, dl_of):
    ids = np.asarray(ids)
    return _term_row(name, ids, tfs, [[0]] * ids.size, [dl_of[d] for d in ids])


# N=1000, df=130, avgdl=100: a posting with tf=3, dl=120 scores
# 3.070026996996877, and the block bound at (max_tf=3, min_dl=120) must
# equal it to the bit, or a strict `bound < kth` prune drops a tying doc
TIE_N, TIE_AVGDL, TIE_SCORE = 1000, 100.0, 3.070026996996877


def test_single_term_tie_surfaces_smallest_doc_id():
    """Docs 1 and 129 tie at the top score; block 1 (docs 129-130) has
    the higher bound (doc 130 has dl=100), so it is visited first, and
    block 0's bound must not prune doc 1."""
    dls = np.full(130, 120)
    dls[129] = 100                                   # doc 130
    tfs = np.ones(130, dtype=np.int64)
    tfs[[0, 128]] = 3                                # docs 1 and 129
    pdf = pd.DataFrame([_tie_term("aa", np.arange(1, 131), tfs,
                                  dict(zip(range(1, 131), dls))),
                        _len_row(dls)])
    args = ({"aa": [0]}, {"aa": 130}, TIE_N, TIE_AVGDL, "bm25")
    top1 = _run(S._make_kernel(*args, 1), pdf)
    full = _run(S._make_kernel(*args, None), pdf)
    assert full[:2] == [(1, TIE_SCORE), (129, TIE_SCORE)]
    assert top1 == [(1, TIE_SCORE)]


def test_or_tie_surfaces_smallest_doc_id():
    """The OR analogue: "bb"'s only top-scoring doc (1) ties "aa"'s best
    (129) exactly.  The maxscore θ bootstrap is that tying score, so a
    bound for "bb" one ulp under it would make "bb" non-essential and
    never score doc 1."""
    dl_of = dict.fromkeys(range(1, 261), 120)
    dl_of[130] = 100
    a_ids = np.arange(129, 259)
    b_ids = np.concatenate((np.arange(1, 129), [259, 260]))
    pdf = pd.DataFrame([
        _or_row(_tie_term("aa", a_ids, np.where(a_ids == 129, 3, 1), dl_of)),
        _or_row(_tie_term("bb", b_ids, np.where(b_ids == 1, 3, 1), dl_of)),
        _len_row([dl_of[d] for d in range(1, 261)]),
    ])
    kernel = S._make_kernel({"aa": [0], "bb": [1]}, {"aa": 130, "bb": 130},
                            TIE_N, TIE_AVGDL, "bm25", 1, op="or")
    assert _run(kernel, pdf) == [(1, TIE_SCORE)]
    kernel = S._make_kernel({"aa": [0], "bb": [1]}, {"aa": 130, "bb": 130},
                            TIE_N, TIE_AVGDL, "bm25", 2, op="or")
    assert _run(kernel, pdf) == [(1, TIE_SCORE), (129, TIE_SCORE)]


def _spy_decodes(monkeypatch):
    counts = {"doc_blocks": 0, "pos_blocks": 0}
    real_doc, real_pos = codec.decode_doc_blocks, codec.decode_position_block

    def doc_spy(doc_blob, block_off, df, blocks, *a, **kw):
        counts["doc_blocks"] += len(blocks)
        return real_doc(doc_blob, block_off, df, blocks, *a, **kw)

    def pos_spy(*a, **kw):
        counts["pos_blocks"] += 1
        return real_pos(*a, **kw)

    monkeypatch.setattr(codec, "decode_doc_blocks", doc_spy)
    monkeypatch.setattr(codec, "decode_position_block", pos_spy)
    return counts


def test_single_term_prunes_blocks_and_skips_positions(monkeypatch):
    pdf, df_global = _shard_pdf()
    pdf = pdf[pdf["name"] != "bb"]
    counts = _spy_decodes(monkeypatch)
    kernel = S._make_kernel({"aa": [0]}, {"aa": df_global["aa"]}, N_DOCS,
                            float(DL), "bm25", 10, docs_per_shard=N_DOCS)
    got = _run(kernel, pdf)
    assert [d for d, _ in got] == list(range(2, 21, 2))
    n_blocks = -(-df_global["aa"] // codec.BLOCK_SIZE)
    assert 0 < counts["doc_blocks"] < n_blocks, (counts, n_blocks)
    assert counts["pos_blocks"] == 0


def test_repeated_position_term_equals_exhaustive():
    """``{"aa": [0, 1]}`` (the query "aa aa") runs the block-max loop
    with a phrase step: only docs holding "aa" at two consecutive
    positions match, ranked as the exhaustive (k=None) path ranks them."""
    ids = np.arange(1, 1001)
    tfs = 1 + ids % 4
    positions = [[0, 1] if d % 3 == 0 else [0, 2] for d in ids]
    dls = 80 + (ids * 7) % 60
    pdf = pd.DataFrame([_term_row("aa", ids, tfs, positions, dls),
                        _len_row(dls)])
    args = ({"aa": [0, 1]}, {"aa": 1000}, 5000, 100.0, "bm25")
    top = _run(S._make_kernel(*args, 10), pdf)
    full = _run(S._make_kernel(*args, None), pdf)
    assert len(full) == 333 and all(d % 3 == 0 for d, _ in full)
    assert top == full[:10]


def _brute_force(postings, dls, query_tokens, df_global, n, avgdl, op,
                 tag, excl):
    """(doc_id, score) for every match, by plain per-doc Python:
    ``postings`` is term -> {doc: (tf, positions)}."""
    out = []
    for d in range(1, len(dls) + 1):
        held = [t for t in query_tokens if d in postings[t]]
        if (tag is not None and d not in tag) or (excl is not None and d in excl):
            continue
        if op == "or":
            if not held:
                continue
        else:
            if len(held) < len(query_tokens):
                continue
            starts = None
            for t, qp in query_tokens.items():
                pos = set(postings[t][d][1])
                rel = {(p - qp[0]) % (1 << 32) for p in pos
                       if all((p - qp[0] + q) % (1 << 32) in pos for q in qp[1:])}
                starts = rel if starts is None else starts & rel
            if not starts:
                continue
        s = 0.0
        for t in held:
            tf, dl = postings[t][d][0], dls[d - 1]
            idf = math.log(1.0 + (n - df_global[t] + 0.5) / (df_global[t] + 0.5))
            s += idf * (BM25_K1 + 1.0) * tf / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
        out.append((d, s))
    return sorted(out, key=lambda x: (-x[1], x[0]))


def _set_row(kind, name, ids):
    return dict(_len_row([]), kind=kind, name=name, df=len(ids),
                doc_blob=codec.encode_sorted(np.asarray(sorted(ids), dtype=np.uint64)))


def _assert_ranked(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(math.isclose(g, w, rel_tol=1e-12) for (_, g), (_, w) in zip(got, want))


@settings(deadline=None, max_examples=60)
@given(st.data())
def test_kernels_equal_brute_force(data):
    """The AND kernel with k (block-max unless a tag or must_not term
    is present), the AND kernel with k=None (exhaustive) and the OR
    kernel (maxscore) each rank exactly as a brute force under (score
    DESC, doc_id ASC), with and without a search_after cursor.  Small
    tf and dl domains make exact score ties common."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1), label="seed"))
    n_docs = data.draw(st.integers(1, 400), label="n_docs")
    terms = ["aa", "bb", "cc"][:data.draw(st.integers(1, 3), label="n_terms")]
    words = terms + data.draw(st.lists(st.sampled_from(terms), max_size=1),
                              label="repeat")
    words = [words[i] for i in rng.permutation(len(words))]
    query_tokens = {t: [i for i, w in enumerate(words) if w == t] for t in terms}
    k = data.draw(st.integers(1, 5), label="k")
    avgdl, n = 100.0, 5000
    # skewed dl and tf draws leave some blocks (often a short last one)
    # with a higher bound than the block holding a tying smaller doc id
    dls = rng.choice([80, 100, 120], size=n_docs, p=rng.dirichlet([0.5] * 3))
    tf_p = rng.dirichlet([0.5] * 3)

    def random_ids(density):
        return np.flatnonzero(rng.random(n_docs) < density) + 1

    postings, rows = {}, []
    for i, t in enumerate(terms):
        ids = random_ids(rng.uniform(0.1, 0.9))
        postings[t] = {int(d): (int(rng.choice([1, 2, 3], p=tf_p)),
                                sorted(rng.choice(6, rng.integers(1, 4), replace=False).tolist()))
                       for d in ids}
        if ids.size:
            rows.append(_term_row(t, ids, [postings[t][d][0] for d in ids],
                                  [postings[t][d][1] for d in ids], dls[ids - 1]))
    # distinct global dfs give distinct idfs, so only docs with equal
    # (tf, dl) per term tie, whatever order a scorer sums in
    df_global = {t: len(postings[t]) + 500 * (i + 1) for i, t in enumerate(terms)}
    tag = excl = None
    if data.draw(st.booleans(), label="tag"):
        tag = set(random_ids(0.6).tolist())
        rows += [_set_row("tag", "t", tag)] if tag else []
    if data.draw(st.booleans(), label="must_not"):
        ex_ids = random_ids(0.2)
        excl = set(ex_ids.tolist())
        if ex_ids.size:
            rows.append(dict(_term_row("zz", ex_ids, np.ones(ex_ids.size, dtype=int),
                                       [[0]] * ex_ids.size, dls[ex_ids - 1]),
                             kind="not"))
    rows.append(_len_row(dls))
    and_pdf = pd.DataFrame(rows)
    or_pdf = pd.DataFrame([_or_row(r) if r["kind"] in ("term", "not") else r
                           for r in rows])
    flt = dict(n_tags=int(tag is not None), docs_per_shard=n_docs,
               has_excl=excl is not None)
    use_cursor = data.draw(st.booleans(), label="cursor")

    for op, pdf, kk in (("and", and_pdf, k), ("and", and_pdf, None),
                        ("or", or_pdf, k)):
        want = _brute_force(postings, dls, query_tokens, df_global, n, avgdl,
                            op, tag, excl)

        def run(k_, after=None):
            return _run(S._make_kernel(query_tokens, df_global, n, avgdl, "bm25",
                                       k_, after=after, op=op, **flt), pdf)

        _assert_ranked(run(kk), want if kk is None else want[:kk])
        if use_cursor and kk is not None and want:
            # the cursor is a doc of this scorer's own ranking, with the
            # exact score it gave that doc (as a previous page returns it)
            j = int(rng.integers(0, len(want)))
            own = dict(run(len(want)))
            after = (own[want[j][0]], want[j][0])
            _assert_ranked(run(kk, after), want[j + 1:j + 1 + kk])
