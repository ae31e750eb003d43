"""Statistical quality scoring for training-data pipelines.

Two standard pre-training quality batteries, both fully relational:
``gopher_quality_signals`` (Rae et al. 2021 surface statistics, a
zero-shuffle narrow map) and ``bigram_lm_perplexity`` (the CCNet
§3.2 LM signal, self-trained).

CCNet (Wenzek et al. 2020, §3.2) ranks Common-Crawl documents by
language-model perplexity and keeps the low-perplexity head.  The
environment ships no LM, so ``bigram_lm_perplexity`` implements the
same signal self-trained: a maximum-likelihood word-bigram model is
fitted on the corpus itself (one pass of relational aggregates) and
every document is scored by the perplexity of its own token stream
under that model.  Boilerplate-heavy and templated documents score LOW
(their bigrams dominate the corpus), statistically unusual ones score
HIGH — the same ordering CCNet's head/middle/tail split keys on, with
the sign convention that low ppl = most "in-distribution".

Fully relational (window lead + three aggregates + two joins on
bounded keys: the distinct-bigram and distinct-term spaces, both far
below the token count, with partial aggregation ahead of every
exchange); no Python, no model artifact to ship.  Because the model is
MLE on the scoring corpus itself, every observed bigram has p > 0 —
no smoothing needed, and the scores are deterministic for a given
corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def gopher_quality_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-rules quality signals (Rae et al. 2021, Appendix A1.1).

    The Gopher/MassiveText filter keeps a document only if a battery
    of cheap surface statistics all land in range; this computes the
    word- and line-level battery per doc:

    - ``n_words`` / ``mean_word_len`` (keep 50..100k words, mean 3..10)
    - ``frac_alpha_words`` — words containing at least one alphabetic
      character (keep >= 0.80)
    - ``symbol_word_ratio`` — '#' or '...' occurrences per word
      (keep <= 0.1)
    - ``n_lines`` / ``dup_line_frac`` — fraction of lines that repeat
      an earlier line of the SAME doc (keep <= 0.30; within-doc
      repetition, the complement of the cross-doc
      ``remove_frequent_lines`` boilerplate pass)
    - ``frac_bullet_lines`` / ``frac_ellipsis_lines`` — lines starting
      with a bullet (keep <= 0.90) / ending with an ellipsis
      (keep <= 0.30)
    - ``gopher_flag`` — true iff every threshold above passes.

    Everything is higher-order array functions over ``split(text)`` —
    a zero-shuffle narrow map in whole-stage codegen (no explode, no
    groupBy: per-doc state never leaves its row), so at crawl scale
    the filter is a free rider on the ingest scan.  Docs with no
    words or no lines cannot be scored and are not returned.
    ``gopher_keep`` is the same test as a single filter expression.
    """
    sig = _gopher_signals(F.col(text_col))
    out = docs.select("doc_id", *[e.alias(n) for n, e in sig.items()])
    cols = {n: F.col(n) for n in sig}
    return out.where(_scoreable(cols)).withColumn("gopher_flag", _gopher_flag(cols))


def gopher_keep(text_col: str = "text") -> Column:
    """True iff ``gopher_quality_signals`` would return the doc with
    ``gopher_flag`` set — the same expressions and thresholds as one
    boolean, for an in-row ``where`` (no signal columns, no join)."""
    s = _gopher_signals(F.col(text_col))
    return _scoreable(s) & _gopher_flag(s)


def _gopher_signals(t: Column) -> dict:
    """signal name -> expression over the text column ``t``, in the
    output order of ``gopher_quality_signals``."""
    words = F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))
    lines = F.filter(F.split(t, "\n"), lambda x: F.trim(x) != F.lit(""))
    nw = F.size(words).cast("long")
    nl = F.size(lines).cast("long")
    # try_divide, not /: zero-word/zero-line docs are filtered out, but
    # ANSI mode (Spark 4 default) may evaluate the ratios alongside that
    # filter, so a plain division would still throw.
    mean_wl = F.round(
        F.try_divide(
            F.aggregate(words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)),
            nw,
        ),
        4,
    )
    frac_alpha = F.round(
        F.try_divide(F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))), nw), 4
    )
    sym_ratio = F.round(
        F.try_divide(
            F.size(F.regexp_extract_all(t, F.lit("#"), F.lit(0)))
            + F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), F.lit(0))),
            nw,
        ),
        4,
    )
    dup_line = F.round(F.try_divide(nl - F.size(F.array_distinct(lines)), nl), 4)
    bullet = F.round(
        F.try_divide(
            F.size(
                F.filter(
                    lines,
                    lambda x: F.trim(x).rlike("^([-*•●▪]|[0-9]+[.)]) "),
                )
            ),
            nl,
        ),
        4,
    )
    ellipsis = F.round(
        F.try_divide(
            F.size(F.filter(lines, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$"))), nl
        ),
        4,
    )
    return {
        "n_words": nw,
        "mean_word_len": mean_wl,
        "frac_alpha_words": frac_alpha,
        "symbol_word_ratio": sym_ratio,
        "n_lines": nl,
        "dup_line_frac": dup_line,
        "frac_bullet_lines": bullet,
        "frac_ellipsis_lines": ellipsis,
    }


def _scoreable(s: dict) -> Column:
    return (s["n_words"] > 0) & (s["n_lines"] > 0)


def _gopher_flag(s: dict) -> Column:
    """The Gopher thresholds over signal columns/expressions ``s``.
    Cheap word-count bounds come first: ``&`` short-circuits, so docs
    outside them never reach the regex signals."""
    return (
        (s["n_words"] >= 50)
        & (s["n_words"] <= 100000)
        & (s["mean_word_len"] >= 3)
        & (s["mean_word_len"] <= 10)
        & (s["frac_alpha_words"] >= 0.8)
        & (s["symbol_word_ratio"] <= 0.1)
        & (s["dup_line_frac"] <= 0.3)
        & (s["frac_bullet_lines"] <= 0.9)
        & (s["frac_ellipsis_lines"] <= 0.3)
    )


def ngram_repetition_signals(
    tokens: DataFrame, ns: tuple[int, ...] = (2, 3, 4), round_to: int = 4
) -> DataFrame:
    """Gopher's token-level repetition battery (Rae 2021 A1.1): per
    doc, the fraction of characters contained in occurrences of the
    MOST FREQUENT n-gram, for each n in ``ns`` (Gopher keeps docs with
    top-{2,3,4}-gram fractions <= {0.20, 0.18, 0.16}).

    ``tokens`` is the (doc_id, pos, term) stream.  Characters are
    token characters (no separators); occurrences may overlap, so a
    degenerate doc ("a b a b ...") can legitimately score > 1 — the
    filter only ever tests an upper bound, so that needs no clamping.
    Docs with at least one token get a row; ``top_{n}gram_char_frac``
    is null when the doc is shorter than n tokens.

    Physical plan per n: one lead-window pass (per-doc ordering, the
    same shape as the LM bigram pass) → groupBy (doc_id, gram) with
    map-side partial aggregation — doc_id is IN the key, so there are
    no global hot keys and the exchange is skew-free — → a per-doc
    max(struct(count, chars)) which is again map-side combinable.
    Ties on count resolve to the larger character footprint; the
    output value depends only on (count, chars), so the tie rule is
    value-deterministic.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    out = tokens.groupBy("doc_id").agg(
        F.sum(F.length("term")).alias("doc_chars")
    )
    fracs = []
    for n in ns:
        cols = [F.col("term")] + [F.lead("term", i).over(w) for i in range(1, n)]
        grams = (
            tokens.select(
                "doc_id", F.concat_ws(chr(1), *cols).alias("gram"),
                cols[-1].isNotNull().alias("complete"),
            )
            .where("complete")
        )
        cnt = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
        occ = cnt.select(
            "doc_id", "cnt",
            (F.col("cnt") * (F.length("gram") - (n - 1))).alias("occ"),
        )
        top = occ.groupBy("doc_id").agg(
            F.max(F.struct("cnt", "occ")).getField("occ").alias(f"_top{n}")
        )
        out = out.join(top, "doc_id", "left")
        fracs.append(
            F.round(F.col(f"_top{n}") / F.col("doc_chars"), round_to).alias(
                f"top_{n}gram_char_frac"
            )
        )
    return out.select("doc_id", *fracs)


def dup_ngram_coverage(
    tokens: DataFrame, ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10), round_to: int = 4
) -> DataFrame:
    """The other half of Gopher's repetition battery (Rae 2021 A1.1):
    per doc, the fraction of characters covered by occurrences of ANY
    duplicated n-gram (an n-gram appearing >= 2 times in the doc),
    for each n in ``ns`` — Gopher keeps docs with dup-{5..10}-gram
    coverage <= {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.

    Unlike ``ngram_repetition_signals`` (which multiplies counts and
    can exceed 1 on overlaps), this is true coverage: each character
    counts once no matter how many duplicated grams span it, so the
    value is always in [0, 1].  Docs with no duplicated n-gram (or
    shorter than n tokens) score 0.0.

    Physical plan per n: lead-window gram pass → (doc_id, gram)
    count with map-side partial agg (doc_id in the key, skew-free) →
    semi-join the occurrences of grams with count >= 2 → explode each
    occurrence into its <= n covered positions → distinct → join back
    to token lengths.  The explode factor is bounded by n (<= 10) and
    the key space always includes doc_id, so the plan carries no
    all-pairs or hot-key risk at crawl scale.
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    out = tokens.groupBy("doc_id").agg(
        F.sum(F.length("term")).alias("doc_chars")
    )
    fracs = []
    for n in ns:
        cols = [F.col("term")] + [F.lead("term", i).over(w) for i in range(1, n)]
        grams = (
            tokens.select(
                "doc_id", "pos", F.concat_ws(chr(1), *cols).alias("gram"),
                cols[-1].isNotNull().alias("complete"),
            )
            .where("complete")
        )
        dup = (
            grams.groupBy("doc_id", "gram")
            .agg(F.count("*").alias("cnt"))
            .where("cnt >= 2")
            .select("doc_id", "gram")
        )
        covered = (
            grams.join(dup, ["doc_id", "gram"])
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("pos"), F.col("pos") + (n - 1))
                ).alias("pos"),
            )
            .distinct()
        )
        cov_chars = (
            covered.join(tokens, ["doc_id", "pos"])
            .groupBy("doc_id")
            .agg(F.sum(F.length("term")).alias(f"_cov{n}"))
        )
        out = out.join(cov_chars, "doc_id", "left")
        fracs.append(
            F.round(
                F.coalesce(F.col(f"_cov{n}"), F.lit(0)) / F.col("doc_chars"),
                round_to,
            ).alias(f"dup_{n}gram_char_frac")
        )
    return out.select("doc_id", *fracs)


def bigram_lm_perplexity(tokens: DataFrame, round_to: int | None = None) -> DataFrame:
    """(doc_id, n_bigrams, ppl) for every doc with >= 2 tokens.

    ``tokens`` is the analyzer stream (doc_id, pos, term).  ppl =
    exp(-mean ln P(w_i | w_{i-1})) with MLE P = c(w1,w2)/c(w1·) counted
    over the whole input.  Docs with fewer than two tokens have no
    bigram and are not returned (a quality gate has nothing to score).
    """
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tokens.select("doc_id", "pos", "term", F.lead("term").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
    )
    c12 = big.groupBy("term", "nxt").agg(F.count("*").alias("n12"))
    c1 = big.groupBy("term").agg(F.count("*").alias("n1"))
    p = c12.join(c1, "term").select(
        "term", "nxt", (F.col("n12").cast("double") / F.col("n1")).alias("p")
    )
    ppl = F.exp(-F.avg(F.log("p")))
    if round_to is not None:
        ppl = F.round(ppl, round_to)
    return (
        big.join(p, ["term", "nxt"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_bigrams"), ppl.alias("ppl"))
    )
