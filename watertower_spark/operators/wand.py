"""Disjunctive (OR) BM25 top-k scorer: vectorized maxscore pruning.

The reference engine is conjunctive-only (int.go); a practical search
engine also needs OR semantics.  Classic WAND/maxscore are pointer-
chasing algorithms designed for serial CPUs; inside an Arrow batch the
profitable formulation is vectorized **maxscore**:

1. per term, a global upper bound: the max over its blocks of the BM25
   weight at (block_max_tf, block_min_dl) under the LIVE avgdl — sound
   under avgdl drift from appends/removals (the pack-time block_max_w
   column is diagnostic only and MUST NOT be used for pruning);
2. bootstrap the top-k threshold θ from the highest-ub term alone
   (its kth-best single-term score is a valid lower bound on the final
   kth-best total);
3. terms whose cumulative ub (ascending) stays below θ are
   NON-ESSENTIAL: they can never lift an unseen doc into the top k, so
   candidates come only from the essential terms' postings (union);
4. score candidates exactly against ALL terms (sorted-array lookups),
   take the top k.

The scorer runs over the per-shard decode layer in ``search.py``
(``_ShardGroup``), which parses the group's rows, decodes each term's
postings and restricts them to the shard's tag, range and must_not
filters; this module never reads a group row.  Every step is a numpy
array op over decoded FoR blocks — no per-doc Python.  Results are
exact (pruning only skips docs that provably cannot reach the top k).
"""

from __future__ import annotations

import numpy as np

from .search import _NO_HITS, _bm25, _merge_topk


def maxscore(terms: list, dl_of, avgdl: float, k: int,
             after: tuple | None) -> tuple:
    """One shard's OR top-k as (doc ids, scores).  ``terms`` holds one
    (ub, idf, doc ids, tfs) per term: its global BM25 bound and its
    filtered postings; ``dl_of`` maps doc ids to doc lengths and
    ``after`` is a ``search_after`` cursor."""
    terms = sorted(terms, key=lambda t: -t[0])

    # bootstrap θ from the highest-ub term's own scores.  With a
    # search_after cursor the bootstrap is UNSOUND (a doc's single-
    # term score says nothing about whether its TOTAL score lands
    # before or after the cursor, so the kth single-term score no
    # longer lower-bounds the kth SURVIVING total) — deep pages run
    # with θ=0, i.e. every term essential, exact scoring of the full
    # union; the cursor filter then bounds the emitted set.
    theta = 0.0
    if after is None:
        _, idf0, ids0, tfs0 = terms[0]
        sc0 = _bm25(tfs0.astype("float64"), dl_of(ids0), idf0, avgdl)
        if sc0.size > k:
            theta = float(np.partition(sc0, -k)[-k])

    # essential split: non-essential = longest ascending-ub prefix
    # whose cumulative ub stays below θ.  Σ ub_j for j >= i adds in the
    # scoring loop's order, so it never sits an ulp below a doc's score
    ubs = [t[0] for t in terms]  # descending
    cand = None
    for i, (_, _, ids, _) in enumerate(terms):
        if i == 0 or sum(ubs[i:]) >= theta:
            cand = ids if cand is None else np.union1d(cand, ids)
    if cand.size == 0:
        return _NO_HITS

    scores = np.zeros(cand.size, dtype="float64")
    dl = dl_of(cand)
    for _, idf, ids, tfs in terms:
        if ids.size == 0:
            # every posting of this term failed the shard's filters
            # (routine under prefix expansion: a rare expanded term + a
            # selective tag) — contributes nothing
            continue
        idx = np.searchsorted(ids, cand)
        idx_c = np.minimum(idx, ids.size - 1)
        hit = ids[idx_c] == cand
        tf = np.where(hit, tfs[idx_c], 0).astype("float64")
        scores += np.where(hit, _bm25(tf, dl, idf, avgdl), 0.0)
    return _merge_topk(cand, scores, k, after)
