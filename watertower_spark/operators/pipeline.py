"""End-to-end corpus-cleaning pipeline for LLM training data.

Composes the individually-oracled cleaning operators in the order real
web-corpus pipelines run them (C4 / CCNet / MassiveText lineage):

1. boilerplate-line removal  (``dedup.remove_frequent_lines`` — C4 §2.2)
2. quality filtering         (``quality.gopher_keep`` — Gopher A1.1)
3. PII scrub                 (``pii.redact_pii`` — ROOTS-style)
4. exact deduplication       (md5 groups, keep the smallest doc_id)
5. near-deduplication        (``dedup.minhash_lsh_pairs`` — MinHash+LSH)

Every stage is lazy — ``clean_corpus`` returns the cleaned DataFrame
plus a dict of the intermediate DataFrames, and nothing is computed
until the caller acts.  Each stage consumes its predecessor once, so
no stage inlines a second copy of the stages before it:

- line_dedup: 3 exchanges (two-phase distinct-doc count per line, then
  per-doc reassembly) plus a broadcast of the line counts; the line
  stream feeds both the counts and their join, so it reads the input
  twice.
- gopher_filter, pii_scrub: no exchange — an in-row ``Filter`` and a
  narrow ``Project`` (the Gopher flag is ``quality.gopher_keep``, the
  same expressions ``gopher_quality_signals`` reports, with no join
  back).
- exact_dedup: 1 exchange — ``min(struct(doc_id, text))`` per md5
  group keeps the winning row itself, with no join back.
- near_dedup: a doc_id token groupBy and a (band, bucket) exchange on
  each side of the band self-join, the victim distinct, and a doc_id
  exchange when the anti-join is planned as a sort-merge join.  It
  derives its input three times: both self-join sides and the
  anti-join.  Over an uncached input AQE reuses the exact-dedup and
  band exchanges, so the three share one computation (the whole plan
  reads the input 3 times: twice for line_dedup, once for the
  passthrough join).  Over a cached input, the usual case for a batch,
  it reuses nothing, because AQE never reuses an exchange above a
  cached-table scan.
- the passthrough columns are joined once, at the end.

On the 800-doc ingest batch of ``perfbench`` (cached input) the
initial executed plan has 22 exchanges (18 shuffle, 4 broadcast) and
7 scans of the input.  No stage is quadratic and nothing collects to
the driver, so the composition runs at crawl scale.

Near-dup removal keeps, for every LSH-verified pair, the smaller
doc_id: a doc is dropped iff it pairs with ANY smaller surviving-stage
doc.  For clusters this is the standard greedy convention (the
globally smallest member always survives; chain members may keep more
than one representative when similarity is not transitive) — the same
keeper rule the exact-dedup stage and ``dedup.duplicate_spans`` use.
``near_dup_transitive=True`` upgrades the stage to one-doc-per-
connected-component (``dedup.connected_components`` — the GPT-3/Gopher
clustering convention), at the cost of the CC iteration's extra
log²-many small shuffles over the pair graph — and of laziness: the
CC loop checkpoints per round, so that one stage computes when
``clean_corpus`` is called rather than when the result is acted on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from watertower_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    remove_frequent_lines,
)
from watertower_spark.operators.pii import redact_pii
from watertower_spark.operators.quality import gopher_keep


def _ws_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pos, term): lowercase whitespace tokens — the cheap
    relational tokenization the dedup stages key on (posexplode, one
    narrow map; the search analyzers are for the index, not here)."""
    return docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != F.lit(""))
        ).alias("pos", "term"),
    )


def clean_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_line_docs: int = 2,
    apply_gopher: bool = True,
    apply_pii: bool = True,
    near_dup_threshold: float = 0.8,
    near_dup_transitive: bool = False,
    minhash_hashes: int = 32,
    minhash_bands: int = 8,
) -> tuple[DataFrame, dict]:
    """Run the full cleaning cascade over ``docs`` (doc_id, text, ...).

    Returns ``(clean_docs, stages)``: ``clean_docs`` has the input
    columns with ``text_col`` replaced by the fully cleaned text, and
    ``stages`` maps stage name → the lazy DataFrame it produced
    (inspect/count them for a lineage report).  All non-text columns
    pass through untouched.  Degenerate parameters raise ValueError:
    ``min_line_docs < 2`` (every line would be boilerplate),
    ``minhash_bands`` outside 1..``minhash_hashes`` or not dividing it,
    ``near_dup_threshold`` outside (0, 1].
    """
    other_cols = [c for c in docs.columns if c not in (text_col, "doc_id")]
    stages: dict = {}

    # 1. cross-doc boilerplate lines (C4): every doc keeps a row.
    lined = remove_frequent_lines(docs.select("doc_id", F.col(text_col).alias("text")),
                                  min_docs=min_line_docs)
    cur = lined.select("doc_id", F.col("clean_text").alias("text"))
    stages["line_dedup"] = cur

    # 2. Gopher surface-statistics filter, in-row: the same test as
    # gopher_quality_signals(...).gopher_flag, with no join back.
    if apply_gopher:
        cur = cur.where(gopher_keep("text"))
        stages["gopher_filter"] = cur

    # 3. PII scrub (after filtering: no point scrubbing dropped docs).
    if apply_pii:
        cur = redact_pii(cur, text_col="text").select(
            "doc_id", F.col("clean_text").alias("text")
        )
        stages["pii_scrub"] = cur

    # 4. exact dedup on the cleaned text: the smallest doc_id per md5
    # group keeps its row — one map-side-combinable min(struct), no
    # join back.
    cur = (
        cur.groupBy(F.md5("text"))
        .agg(F.min(F.struct("doc_id", "text")).alias("k"))
        .select("k.doc_id", "k.text")
    )
    stages["exact_dedup"] = cur

    # 5. MinHash+LSH near-dup: drop docs pairing with a smaller doc_id.
    pairs = minhash_lsh_pairs(
        _ws_tokens(cur), n_hashes=minhash_hashes, bands=minhash_bands,
        threshold=near_dup_threshold,
    )
    if near_dup_transitive:
        comp = connected_components(pairs)
        victims = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
    else:
        victims = pairs.select(F.greatest("da", "db").alias("doc_id")).distinct()
    cur = cur.join(victims, "doc_id", "left_anti")
    stages["near_dedup"] = cur

    if other_cols:
        cur = cur.join(docs.select("doc_id", *other_cols), "doc_id")
    return cur.select("doc_id", *other_cols, "text"), stages
