"""Training-data pipeline operators: dedup and similarity search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from watertower_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def token_df(spark):
    """Docs with a known near-duplicate pair and an exact-duplicate pair."""
    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy dog tonight",  # near-dup of 1
        3: "completely different content about spark query engines",
        4: "completely different content about spark query engines",  # exact dup of 3
        5: "unrelated words entirely disjoint vocabulary here now",
    }
    rows = []
    for doc_id, text in texts.items():
        for pos, term in enumerate(text.split()):
            rows.append((doc_id, pos, term))
    return spark.createDataFrame(rows, "doc_id long, pos int, term string")


@pytest.fixture(scope="module")
def doc_df(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),
            (3, "delta epsilon"),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(doc_df):
    rows = {r["text_hash"]: r for r in dedup.exact_duplicates(doc_df).collect()}
    assert len(rows) == 2
    dup = [r for r in rows.values() if r["n_docs"] == 2][0]
    assert dup["keeper"] == 1


def test_minhash_lsh_finds_near_dup(token_df):
    pairs = dedup.minhash_lsh_pairs(token_df, n_hashes=32, bands=16, threshold=0.3).collect()
    got = {(r["da"], r["db"]) for r in pairs}
    assert (1, 2) in got          # near-dup pair found
    assert (3, 4) in got          # exact dup certainly found
    assert all(r["jaccard"] >= 0.3 for r in pairs)
    exact = [r for r in pairs if (r["da"], r["db"]) == (3, 4)][0]
    assert exact["jaccard"] == 1.0


def test_minhash_verify_linear_under_boilerplate(spark):
    """Regression (VERDICT r1): a boilerplate shingle shared by 5k docs
    must not explode the exact-Jaccard verification.  Verification is
    per-candidate-pair array_intersect over per-doc shingle-hash sets —
    exactly ONE row per candidate regardless of any shingle's document
    frequency (the r1 pair×shingle blow-up is structurally impossible)."""
    n = 5000
    boiler = 10**12  # the ONE hash shared by every doc

    def hset(d):
        return [boiler, d * 10 + 1, d * 10 + 2, d * 10 + 3]

    # 2500 disjoint candidate pairs carrying both hsets (the shape the
    # band self-join hands the verifier)
    pairs = spark.createDataFrame(
        [(d, d + 1, hset(d), hset(d + 1)) for d in range(1, n, 2)],
        "da long, db long, ha array<long>, hb array<long>",
    )
    verified = dedup._jaccard_from_arrays(pairs, threshold=0.1).collect()
    # every pair shares exactly the boilerplate shingle: j = 1/(4+4-1)
    assert len(verified) == 2500
    assert all(abs(r["jaccard"] - round(1 / 7, 4)) < 1e-9 for r in verified)


def test_minhash_boilerplate_no_false_pairs(spark):
    """End-to-end: boilerplate-suffixed docs are not near-dups; the one
    planted pair survives with its exact Jaccard."""
    rows = []
    for d in range(1, 301):
        words = [f"w{d}a", f"w{d}b", f"w{d}c", "all", "rights", "reserved"]
        if d == 2:  # doc 2 = doc 1 + one extra token → jaccard 4/5
            words = [f"w1a", f"w1b", f"w1c", "all", "rights", "reserved", "extra"]
        rows += [(d, p, w) for p, w in enumerate(words)]
    toks = spark.createDataFrame(rows, "doc_id long, pos int, term string")
    pairs = {(r["da"], r["db"]): r["jaccard"]
             for r in dedup.minhash_lsh_pairs(toks, n_hashes=32, bands=16,
                                              threshold=0.5).collect()}
    assert pairs == {(1, 2): 0.8}


def test_duplicate_spans_exact_substr(spark):
    """ExactSubstr semantics pinned on crafted docs: the globally first
    occurrence (keeper) is never reported; later occurrences merge into
    maximal spans; two back-to-back copies chain across the exact-L gap
    into ONE span."""
    shared = ["the", "quick", "brown", "fox", "jumps", "over"]
    docs = {
        0: shared + ["zebra", "one"],            # keeper occurrence
        1: ["alpha", "beta"] + shared + ["gamma"],
        2: shared + shared,                       # two copies, back to back
    }
    rows = [(d, p, t) for d, ts in docs.items() for p, t in enumerate(ts)]
    tok = spark.createDataFrame(rows, "doc_id int, pos int, term string")
    out = {r["doc_id"]: r for r in dedup.duplicate_spans(tok, L=3).collect()}
    assert 0 not in out                      # keeper survives untouched
    assert (out[1]["span_start"], out[1]["span_end"], out[1]["n_windows"]) == (2, 7, 4)
    # doc 2: dup windows at 0-3 and 6-9; gap 6-3 == L chains → one span
    assert (out[2]["span_start"], out[2]["span_end"], out[2]["n_windows"]) == (0, 11, 8)
    assert len(out) == 2


def test_strip_duplicate_spans_cleaned_corpus(spark):
    """Applying the spans yields the cleaned corpus: duplicated ranges
    cut, keeper and untouched docs pass through whole."""
    shared = ["the", "quick", "brown", "fox", "jumps", "over"]
    docs = {
        0: shared + ["zebra", "one"],
        1: ["alpha", "beta"] + shared + ["gamma"],
        3: ["totally", "unique", "words", "here"],
    }
    rows = [(d, p, t) for d, ts in docs.items() for p, t in enumerate(ts)]
    tok = spark.createDataFrame(rows, "doc_id int, pos int, term string")
    spans = dedup.duplicate_spans(tok, L=3)
    out = {r["doc_id"]: r for r in dedup.strip_duplicate_spans(tok, spans).collect()}
    assert out[0]["clean_text"] == " ".join(docs[0])          # keeper whole
    assert out[1]["clean_text"] == "alpha beta gamma"         # span cut
    assert out[1]["kept_tokens"] == 3
    assert out[3]["clean_text"] == " ".join(docs[3])          # untouched
    assert len(out) == 3


def test_strip_duplicate_spans_fully_covered_doc(spark):
    """ADVICE r4: a doc that is a verbatim copy of an earlier doc has
    EVERY token covered by removable spans — it must still surface in
    the cleaned corpus as a kept_tokens=0 row, not silently vanish."""
    shared = ["the", "quick", "brown", "fox", "jumps", "over", "a", "dam"]
    docs = {0: shared, 7: shared, 9: ["other", "material", "only", "here"]}
    rows = [(d, p, t) for d, ts in docs.items() for p, t in enumerate(ts)]
    tok = spark.createDataFrame(rows, "doc_id int, pos int, term string")
    out = {r["doc_id"]: r for r in dedup.strip_duplicate_spans(
        tok, dedup.duplicate_spans(tok, L=3)).collect()}
    assert len(out) == 3
    assert out[0]["clean_text"] == " ".join(shared)   # keeper whole
    assert out[7]["kept_tokens"] == 0 and out[7]["clean_text"] == ""
    assert out[9]["clean_text"] == " ".join(docs[9])


def test_remove_frequent_lines(spark):
    """C4/CCNet boilerplate-line removal: shared lines at/over the
    min_docs threshold go, unique lines stay in original order, and a
    doc made ENTIRELY of boilerplate keeps an empty row."""
    banner = "accept all cookies"
    rows = [
        (0, f"{banner}\nzero unique alpha\nfooter co\nzero tail"),
        (1, f"{banner}\none unique beta\nfooter co"),
        (2, f"{banner}\nfooter co"),                 # all boilerplate
        (3, "solo doc line\nsolo second line"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dedup.remove_frequent_lines(
        df, min_docs=3).collect()}
    assert len(out) == 4
    assert out[0]["clean_text"] == "zero unique alpha\nzero tail"
    assert out[0]["kept_lines"] == 2 and out[0]["removed_lines"] == 2
    assert out[1]["clean_text"] == "one unique beta"
    assert out[2]["clean_text"] == "" and out[2]["kept_lines"] == 0
    assert out[2]["removed_lines"] == 2
    assert out[3]["clean_text"] == "solo doc line\nsolo second line"
    assert out[3]["removed_lines"] == 0


def test_remove_frequent_lines_counts_distinct_docs(spark):
    """A line repeated WITHIN one doc counts once toward min_docs (the
    threshold is distinct-document frequency, not occurrences), and all
    its copies share one fate."""
    rows = [
        (0, "dup line\ndup line\nkeep me"),
        (1, "other text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dedup.remove_frequent_lines(
        df, min_docs=2).collect()}
    # 'dup line' appears in only ONE distinct doc -> kept, both copies
    assert out[0]["clean_text"] == "dup line\ndup line\nkeep me"
    assert out[0]["removed_lines"] == 0
    assert out[1]["clean_text"] == "other text"


def test_remove_frequent_lines_rejects_min_docs_below_2(spark):
    df = spark.createDataFrame([(0, "a line")], "doc_id int, text string")
    for min_docs in (1, 0):
        with pytest.raises(ValueError, match="min_docs"):
            dedup.remove_frequent_lines(df, min_docs=min_docs)


def test_bigram_lm_perplexity_hand_computed(spark):
    """MLE bigram model over ['a b a b', 'a b c']: p(b|a)=1,
    p(a|b)=p(c|b)=1/2, so ppl(doc0)=2^(1/3), ppl(doc1)=sqrt(2).
    Docs with < 2 tokens have no bigram and are not scored."""
    import math

    from watertower_spark.operators.quality import bigram_lm_perplexity

    rows = [(0, p, t) for p, t in enumerate("a b a b".split())]
    rows += [(1, p, t) for p, t in enumerate("a b c".split())]
    rows += [(2, 0, "solo")]
    tok = spark.createDataFrame(rows, "doc_id int, pos int, term string")
    out = {r["doc_id"]: r for r in bigram_lm_perplexity(tok).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_bigrams"] == 3
    assert abs(out[0]["ppl"] - 2 ** (1 / 3)) < 1e-9
    assert abs(out[1]["ppl"] - math.sqrt(2)) < 1e-9


def test_duplicate_spans_within_doc_repeat(spark):
    """A substring repeated inside ONE doc: the first occurrence is the
    keeper, the second is reported."""
    ts = ["x", "y", "z", "pad1", "pad2", "pad3", "x", "y", "z"]
    tok = spark.createDataFrame(
        [(9, p, t) for p, t in enumerate(ts)], "doc_id int, pos int, term string"
    )
    (row,) = dedup.duplicate_spans(tok, L=3).collect()
    assert (row["doc_id"], row["span_start"], row["span_end"], row["n_windows"]) == (9, 6, 8, 1)


def test_rrf_fuse_semantics(spark):
    """An id ranked in BOTH lists outscores a single-list leader:
    1/(60+2) + 1/(60+3) > 1/(60+1)."""
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "doc_id int, rank int")
    b = spark.createDataFrame([(20, 1), (11, 2), (99, 3)], "doc_id int, rank int")
    out = similarity.rrf_fuse([a, b], k=60, topk=4).collect()
    assert out[0]["doc_id"] == 11
    assert abs(out[0]["rrf"] - (1 / 62 + 1 / 62)) < 1e-6
    # the two rank-1 singles tie at 1/61 → doc_id ascending breaks it
    assert [r["doc_id"] for r in out[1:3]] == [10, 20]


def test_url_canonicalization_edges(spark):
    from watertower_spark.operators import weburl

    rows = [
        (0, "HTTPS://Ex.COM:443/A/B?z=1&utm_campaign=x&a=2#frag"),
        (1, "http://ex.com:8080/"),           # non-default port kept
        (2, "https://ex.com:80/p"),           # :80 is NOT https' default
        (3, "http://ex.com?utm_source=a&ref=b"),  # tracking-only query
        (4, "not a url at all"),              # passthrough, null host
        (5, "ftp://Files.Ex.com/x"),          # other scheme: no port rule
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    out = {r["doc_id"]: r for r in weburl.canonicalize_urls(df).collect()}
    assert out[0]["canon_url"] == "https://ex.com/A/B?a=2&z=1"
    assert out[0]["host"] == "ex.com"
    assert out[1]["canon_url"] == "http://ex.com:8080/"
    assert out[2]["canon_url"] == "https://ex.com:80/p"
    assert out[3]["canon_url"] == "http://ex.com/"
    assert out[4]["canon_url"] == "not a url at all" and out[4]["host"] is None
    assert out[5]["canon_url"] == "ftp://files.ex.com/x"

    counts = {r["host"]: r for r in weburl.host_doc_counts(df).collect()}
    # non-default ports are part of the host identity
    assert counts["ex.com"]["n_docs"] == 2 and counts["ex.com"]["n_unique_urls"] == 2
    assert counts["ex.com:8080"]["n_docs"] == 1
    assert counts["ex.com:80"]["n_docs"] == 1
    assert None not in counts  # non-URL rows excluded


def test_simhash_properties(token_df):
    codes = {r["doc_id"]: r["simhash"] for r in dedup.simhash(token_df).collect()}
    assert len(codes) == 5
    assert codes[3] == codes[4]   # identical docs → identical fingerprints
    ham12 = bin((codes[1] ^ codes[2]) & (2**64 - 1)).count("1")
    ham15 = bin((codes[1] ^ codes[5]) & (2**64 - 1)).count("1")
    assert ham12 < ham15          # near-dup closer than unrelated


def test_simhash_rejects_bit_counts_outside_1_to_64(token_df):
    for n_bits in (0, -1, 65):
        with pytest.raises(ValueError, match="n_bits"):
            dedup.simhash(token_df, n_bits=n_bits)
    assert dedup.simhash(token_df, n_bits=1).count() == 5


def test_minhash_rejects_degenerate_bands_and_threshold(token_df):
    # bands > n_hashes would make rows_per_band 0 (one bucket per band);
    # a non-divisor would leave hashes silently unused
    for bands in (0, 33, 5):
        with pytest.raises(ValueError, match="bands"):
            dedup.minhash_lsh_pairs(token_df, n_hashes=32, bands=bands)
    for threshold in (0, -0.1, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            dedup.minhash_lsh_pairs(token_df, threshold=threshold)
    dedup.minhash_lsh_pairs(token_df, n_hashes=32, bands=32, threshold=1.0)


def test_minhash_band_join_exchange_reuse(spark):
    """Both sides of the band self-join are one (band, bucket) exchange.
    AQE reuses it over an uncached input, so the input is scanned once;
    over a cached input it does not (no exchange above a cached-table
    scan is reused), so the input is scanned and shingled twice."""
    from watertower_spark.operators.pipeline import _ws_tokens

    rows = [(i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(30))) for i in range(40)]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    cached = spark.createDataFrame(rows, "doc_id long, text string").persist()
    cached.count()

    def final_plan(docs):
        pairs = dedup.minhash_lsh_pairs(_ws_tokens(docs))
        pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    plan = final_plan(raw)
    assert plan.count("ReusedExchange") == 1 and plan.count("Scan ExistingRDD") == 1, plan
    plan = final_plan(cached)
    assert plan.count("ReusedExchange") == 0 and plan.count("InMemoryTableScan") == 2, plan
    cached.unpersist()


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]


def test_simhash_segment_join_exchange_reuse(spark):
    """Over an uncached input, the 4 segment self-joins share the simhash
    aggregate's doc_id exchange (3 reuses) and each segment's seg
    exchange serves both sides (4 reuses): the input is scanned once.
    Over a cached input nothing is reused, and both sides of all 4
    segments scan it."""
    rows = [(d, p, f"w{(d * 7 + p) % 50}") for d in range(40) for p in range(30)]
    schema = "doc_id long, pos int, term string"
    cached = spark.createDataFrame(rows, schema).persist()
    cached.count()
    plan = _final_plan(dedup.simhash_near_pairs(spark.createDataFrame(rows, schema)))
    assert plan.count("ReusedExchange") == 7 and plan.count("Scan ExistingRDD") == 1, plan
    plan = _final_plan(dedup.simhash_near_pairs(cached))
    assert plan.count("ReusedExchange") == 0 and plan.count("InMemoryTableScan") == 8, plan
    cached.unpersist()


def test_embedding_lsh_join_exchange_reuse(spark):
    """Over an uncached input, both sides of the (table, bucket) self-
    join are one exchange, so LSH coding (the MapInPandas) runs once.
    Over a cached input the exchange is not reused and the coding runs
    once per side."""
    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(64).astype("float32").tolist()) for i in range(120)]
    schema = "vec_id long, embedding array<float>"
    cached = spark.createDataFrame(rows, schema).persist()
    cached.count()
    plan = _final_plan(similarity.embedding_near_dup_pairs(spark.createDataFrame(rows, schema)))
    assert plan.count("ReusedExchange") == 1 and plan.count("MapInPandas") == 1, plan
    plan = _final_plan(similarity.embedding_near_dup_pairs(cached))
    assert plan.count("ReusedExchange") == 0 and plan.count("MapInPandas") == 2, plan
    cached.unpersist()


def test_simhash_near_pairs(token_df):
    pairs = {(r["da"], r["db"]): r["hamming"] for r in
             dedup.simhash_near_pairs(token_df, max_hamming=3).collect()}
    assert pairs.get((3, 4)) == 0


def test_simhash_near_pairs_degenerate_bucket_cap(spark, token_df):
    """Round-4 verdict #1: a boilerplate cluster (hundreds of identical
    docs collapse to ONE simhash → one hot segment value per segment)
    must be capped before the per-segment self-join, not exploded into
    O(n²) pairs — and the drop must be observable, not silent."""
    boiler = "identical boilerplate footer text repeated verbatim everywhere"
    rows = [(100 + d, p, t) for d in range(300)
            for p, t in enumerate(boiler.split())]
    tok = token_df.unionByName(
        spark.createDataFrame(rows, "doc_id long, pos int, term string"))
    pairs_df, dropped_df = dedup.simhash_near_pairs(
        tok, max_hamming=3, max_bucket=50, return_dropped=True)
    pairs = {(r["da"], r["db"]) for r in pairs_df.collect()}
    # no pair touches the degenerate cluster: 300 identical docs would
    # otherwise contribute ~45k pairs
    assert not any(da >= 100 or db >= 100 for da, db in pairs)
    assert pairs, "non-degenerate near pairs must survive the cap"
    dropped = dropped_df.collect()
    assert dropped and all(r["n_docs"] == 300 for r in dropped)
    # every segment of the cluster's single simhash value is reported
    assert sorted({r["segment"] for r in dropped}) == [0, 1, 2, 3]
    # an ample cap keeps the cluster: sanity that the guard is the only
    # thing suppressing it
    with_cap = dedup.simhash_near_pairs(tok, max_hamming=3, max_bucket=500)
    assert with_cap.where("da >= 100 and db >= 100").limit(1).count() == 1


def test_connected_components_basic(spark):
    """Chain + clique + isolated pair + path graph → min-id components."""
    pairs = spark.createDataFrame(
        # chain 1-2-3, clique 10-11-12, pair 20-21
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "da long, db long",
    )
    got = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_beats_pairwise_greedy(spark):
    """The V graph (1-3, 2-3): doc 2 is a local minimum (its only
    neighbor is larger) so the pairwise drop-the-greater rule keeps it,
    yet it is transitively a duplicate of component minimum 1 — the
    exact case clustering exists for."""
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "da long, db long")
    greedy_keep = {1, 2}  # victims = greatest of each pair = {3}
    cc = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    cc_keep = {n for n, c in cc.items() if n == c}
    assert cc_keep == {1} and cc_keep < greedy_keep


def test_connected_components_path_graph_and_empty(spark):
    """A 64-node path is label propagation's worst case (diameter 63);
    the alternating star algorithm must close it well inside the
    default iteration cap.  Empty input → empty output."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "da long, db long"
    )
    got = dedup.connected_components(pairs).collect()
    assert len(got) == 64 and all(r["component"] == 0 for r in got)
    empty = spark.createDataFrame([], "da long, db long")
    assert dedup.connected_components(empty).collect() == []


def test_connected_components_one_convergence_action_per_round(spark):
    """r6 optimization pin: the convergence check is ONE driver action
    (a single symmetric-difference isEmpty) per iteration — the former
    chained `exceptAll(a).isEmpty() and exceptAll(b).isEmpty()` cost a
    second shuffling job on the converged round."""
    # Spark 4: pyspark.sql.DataFrame is the abstract facade; the
    # method actually dispatched is on the classic concrete class
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"n": 0}
    orig = DataFrame.isEmpty

    def counting(self):
        calls["n"] += 1
        return orig(self)

    DataFrame.isEmpty = counting
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "da long, db long"
        )
        got = {r["node"]: r["component"]
               for r in dedup.connected_components(pairs).collect()}
    finally:
        DataFrame.isEmpty = orig
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # iterations are bounded by max_iterations=25; one isEmpty each
    assert 0 < calls["n"] <= 25, calls["n"]


def test_similarity_brute_vs_arrow(spark):
    rng = np.random.default_rng(3)
    vecs = [(i, rng.standard_normal(16).astype("float32").tolist()) for i in range(50)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = vecs[7][1]
    a = similarity.brute_force_knn(emb, q, k=5, exclude_vec_id=7).collect()
    b = similarity.cosine_topk_arrow(emb.where("vec_id <> 7"), q, k=5).collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    for x, y in zip(a, b):
        assert abs(x["cos"] - y["cos"]) < 1e-9


def test_lsh_bucketed_knn_recall(spark):
    rng = np.random.default_rng(4)
    base = rng.standard_normal(32)
    rows = [(0, base.astype("float32").tolist())]
    # 5 vectors near the query, 200 random
    for i in range(1, 6):
        rows.append((i, (base + 0.05 * rng.standard_normal(32)).astype("float32").tolist()))
    for i in range(6, 206):
        rows.append((i, rng.standard_normal(32).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r["vec_id"] for r in similarity.brute_force_knn(emb, base.tolist(), k=5, exclude_vec_id=0).collect()}
    approx = {r["vec_id"] for r in
              similarity.lsh_bucketed_knn(emb.where("vec_id <> 0"), base.tolist(), k=5,
                                          n_planes=8, n_tables=8).collect()}
    # near-neighbors cluster in the same hyperplane buckets → high recall
    assert len(exact & approx) >= 4


def test_resolve_n_vectors_job_free_and_cached(spark, monkeypatch, tmp_path):
    """Round-4 verdict #4: the default lsh_bucketed_knn signature must
    not pay a corpus count() job per query.  A bare parquet scan answers
    from footer metadata with count() forbidden outright; a filtered
    plan may count ONCE, after which the memo serves every later call."""
    from pyspark.sql import DataFrame

    spark.range(0, 123).selectExpr("id as vec_id").write.parquet(
        str(tmp_path / "emb"))
    df = spark.read.parquet(str(tmp_path / "emb"))
    similarity._NVEC_CACHE.clear()

    def boom(self):
        raise AssertionError("count() job launched on the fast path")

    with monkeypatch.context() as mp:
        mp.setattr(DataFrame, "count", boom)
        assert similarity.resolve_n_vectors(df) == 123       # footers only
        # a FRESH read of the same path (new expression ids) hits the memo
        assert similarity.resolve_n_vectors(
            spark.read.parquet(str(tmp_path / "emb"))) == 123

    filtered = df.where("vec_id < 50")
    assert similarity.resolve_n_vectors(filtered) == 50      # one real count
    with monkeypatch.context() as mp:
        mp.setattr(DataFrame, "count", boom)
        assert similarity.resolve_n_vectors(filtered) == 50  # memoized


def test_lsh_knn_recall_gate_corpus(spark):
    """Round-2 verdict: LSH-kNN recall must be pinned on the GATE corpus
    (realistic sparsity), not only on clustered synthetic data — with a
    fixed n_planes=12 the gate query used to return 0 rows.  The
    auto-derived plane count + Hamming-1 multiprobe must return a full
    top-10 with real recall vs the exact scorer at sf0.01."""
    import os

    sf_dir = os.environ.get("WT_GATE_SF_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id = 0").collect()[0]["embedding"]
    rest = emb.where("vec_id <> 0")
    approx = [r["vec_id"] for r in
              similarity.lsh_bucketed_knn(rest, list(q), k=10).collect()]
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(rest, list(q), k=10).collect()]
    assert len(approx) == 10  # a full result set, not an empty bucket
    assert len(set(approx) & set(exact)) >= 7  # measured 10/10 at sf0.01


def test_auto_n_planes_tracks_cardinality():
    from watertower_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(100) == 2          # tiny corpus → few planes
    assert auto_n_planes(500) == 3          # the sf0.01 gate corpus
    assert auto_n_planes(32 * 2 ** 10) == 10
    assert auto_n_planes(10 ** 12) == 24    # capped: bucket count bounded
    # expected occupancy stays near the 32-target across the mid range
    for n in (10 ** 4, 10 ** 6, 10 ** 8):
        occ = n / 2 ** auto_n_planes(n)
        assert 16 <= occ <= 128, (n, occ)


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(9)
    base = rng.standard_normal(64)
    rows = [(0, base.astype("float32").tolist()),
            (1, (base + 0.01 * rng.standard_normal(64)).astype("float32").tolist()),
            (2, (-base).astype("float32").tolist())]
    for i in range(3, 120):
        rows.append((i, rng.standard_normal(64).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["va"], r["vb"]): r["cos"] for r in
             similarity.embedding_near_dup_pairs(emb, threshold=0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert all(v >= 0.95 for v in pairs.values())
    assert (0, 2) not in pairs  # antipodal, cos = -1


def test_ivf_knn_recall(spark):
    """IVF (k-means inverted lists): near-neighbors land in the same
    list as the query's nearest centroid → high recall with few probes."""
    rng = np.random.default_rng(12)
    base = rng.standard_normal(32)
    rows = [(0, base.astype("float32").tolist())]
    for i in range(1, 6):
        rows.append((i, (base + 0.05 * rng.standard_normal(32)).astype("float32").tolist()))
    for i in range(6, 306):
        rows.append((i, rng.standard_normal(32).astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r["vec_id"] for r in
             similarity.brute_force_knn(emb, base.tolist(), k=5, exclude_vec_id=0).collect()}
    assigned, centers = similarity.ivf_index(emb.where("vec_id <> 0"), n_lists=8, seed=3)
    approx = {r["vec_id"] for r in
              similarity.ivf_knn(assigned, centers, base.tolist(), k=5, n_probe=2).collect()}
    assert len(exact & approx) >= 4
    # probing fewer lists scans fewer candidates than the full table
    probes = similarity.ivf_knn(assigned, centers, base.tolist(), k=5, n_probe=2)
    assert probes.count() == 5


def test_auto_n_probe_tracks_cardinality():
    from watertower_spark.operators.similarity import auto_n_probe

    assert auto_n_probe(500, 8) == 6      # the sf0.01 gate corpus
    assert auto_n_probe(5000, 8) == 3     # sf0.1: floor of 3 probes
    assert auto_n_probe(10 ** 9, 64) == 3  # web scale: tiny probe fraction
    assert auto_n_probe(100, 8) == 8      # degenerate: probe everything


def test_redact_pii_crafted(spark):
    from watertower_spark.operators.pii import redact_pii

    rows = [
        (1, "mail bob.smith+tag@sub.example.co.uk and alice@x.io today"),
        (2, "server at 192.168.0.1 and 10.0.255.7 no mail"),
        (3, "call +1 (415) 555-0132 or 555-123-4567 asap"),
        (4, "nothing personal here at all"),
        (5, "combo a@b.org 127.0.0.1 tel 555-867-5309 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_ipv4"] == 0 and out[1]["n_phones"] == 0
    assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> today"
    assert out[2]["n_ipv4"] == 2 and out[2]["n_phones"] == 0
    assert out[2]["clean_text"] == "server at <IP> and <IP> no mail"
    assert out[3]["n_phones"] == 2
    assert out[3]["clean_text"] == "call <PHONE> or <PHONE> asap"
    assert out[4]["clean_text"] == rows[3][1]
    assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (0, 0, 0)
    assert out[5]["clean_text"] == "combo <EMAIL> <IP> tel <PHONE> end"


def test_redact_pii_order_ip_not_eaten_by_phone(spark):
    """Dotted quads redact as <IP>, never as a phone-ish digit run —
    the replacement order (email, ip, phone) is load-bearing."""
    from watertower_spark.operators.pii import redact_pii

    df = spark.createDataFrame([(1, "ping 203.0.113.254 done")], "doc_id int, text string")
    r = redact_pii(df).collect()[0]
    assert r["clean_text"] == "ping <IP> done"
    assert r["n_ipv4"] == 1 and r["n_phones"] == 0


def test_gopher_quality_signals_hand_computed(spark):
    from watertower_spark.operators.quality import gopher_quality_signals

    good = " ".join(["word"] * 60) + "\nsecond line of plain prose here"
    dup_lines = "same line\nsame line\nsame line\nunique one"
    listy = "- one\n- two\n- three\nprose..."
    rows = [(1, good), (2, dup_lines), (3, listy)]
    out = {
        r["doc_id"]: r
        for r in gopher_quality_signals(
            spark.createDataFrame(rows, "doc_id int, text string")
        ).collect()
    }
    g = out[1]
    assert g["n_words"] == 66 and g["n_lines"] == 2
    assert g["frac_alpha_words"] == 1.0 and g["dup_line_frac"] == 0.0
    assert g["mean_word_len"] == round((60 * 4 + len("secondlineofplainprosehere")) / 66, 4)
    assert g["gopher_flag"] is True
    d = out[2]
    assert d["n_lines"] == 4 and d["dup_line_frac"] == 0.5
    assert d["gopher_flag"] is False  # dup lines AND < 50 words
    l = out[3]
    assert l["frac_bullet_lines"] == 0.75
    assert l["frac_ellipsis_lines"] == 0.25
    assert l["symbol_word_ratio"] == round(1 / 7, 4)


def test_gopher_quality_unscoreable_docs_excluded(spark):
    from watertower_spark.operators.quality import gopher_quality_signals

    rows = [(1, "   \n  \n"), (2, "enough words to score fine")]
    out = gopher_quality_signals(
        spark.createDataFrame(rows, "doc_id int, text string")
    ).collect()
    assert [r["doc_id"] for r in out] == [2]


def test_clean_corpus_full_cascade(spark):
    """The composed cleaning pipeline: boilerplate line removal →
    gopher filter → PII scrub → exact dedup → minhash near-dedup,
    each stage's victim chosen to be caught by exactly that stage."""
    from watertower_spark.operators.pipeline import clean_corpus

    boiler = "subscribe to our newsletter"
    base = " ".join(f"alpha{i:02d}" for i in range(60))
    near = " ".join(f"alpha{i:02d}" for i in range(58)) + " swapped words"
    other = " ".join(f"beta{i:02d}" for i in range(60)) + " contact me bob@x.org please"
    rows = [
        (1, boiler + "\n" + base, "en"),       # survives
        (2, boiler + "\n" + base, "en"),       # exact dup of 1 post-clean
        (3, near, "en"),                       # near dup of 1 (2 words differ)
        (4, "short junk\n" + boiler, "en"),    # fails gopher (< 50 words)
        (5, other, "fr"),                      # survives, PII scrubbed
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    # min_line_docs=3: the boilerplate line is in docs 1/2/4; the shared
    # BODY of docs 1/2 (the exact-dup pair) is in only 2 docs and must
    # survive the line pass so the exact-dedup stage is the one that
    # catches doc 2.
    clean, stages = clean_corpus(docs, min_line_docs=3, near_dup_threshold=0.8)

    assert stages["line_dedup"].count() == 5        # every doc keeps a row
    assert {r["doc_id"] for r in stages["gopher_filter"].select("doc_id").collect()} == {1, 2, 3, 5}
    assert {r["doc_id"] for r in stages["exact_dedup"].select("doc_id").collect()} == {1, 3, 5}

    out = {r["doc_id"]: r for r in clean.collect()}
    assert set(out) == {1, 5}
    assert boiler not in out[1]["text"] and out[1]["text"] == base
    assert "<EMAIL>" in out[5]["text"] and "bob@x.org" not in out[5]["text"]
    assert out[5]["lang"] == "fr"                   # passthrough column kept
    assert list(clean.columns) == ["doc_id", "lang", "text"]


def test_clean_corpus_transitive_near_dedup(spark):
    """near_dup_transitive=True keeps one doc per connected component:
    doc 30 pairs with 10 and 20, 10~20 themselves below threshold — the
    greedy rule keeps {10, 20} while clustering keeps only the
    component minimum 10."""
    from watertower_spark.operators.pipeline import clean_corpus

    words = [f"alpha{i:02d}" for i in range(60)]
    a = " ".join(words)                                  # doc 10
    b = " ".join(words[:40] + [f"beta{i:02d}" for i in range(20)])   # doc 20
    mid = " ".join(words[:50] + [f"beta{i:02d}" for i in range(10)])  # doc 30 ~ both
    docs = spark.createDataFrame(
        [(10, a, "en"), (20, b, "en"), (30, mid, "en")],
        "doc_id int, text string, lang string",
    )
    # bands=32 (rows-per-band 1) makes LSH candidate recall certain for
    # these J≈0.66-0.71 pairs; the exact-Jaccard verification still
    # rejects the sub-threshold (10, 20) pair (J≈0.49).
    kw = dict(min_line_docs=99, apply_gopher=False, apply_pii=False,
              near_dup_threshold=0.6, minhash_bands=32)
    greedy, _ = clean_corpus(docs, **kw)
    transitive, _ = clean_corpus(docs, near_dup_transitive=True, **kw)
    assert {r["doc_id"] for r in greedy.collect()} == {10, 20}
    assert {r["doc_id"] for r in transitive.collect()} == {10}


def _reference_clean_corpus(docs, *, min_line_docs=2, apply_gopher=True, apply_pii=True,
                            near_dup_threshold=0.8, near_dup_transitive=False,
                            minhash_hashes=32, minhash_bands=8):
    """The join-based composition of the public operators that
    clean_corpus replaced: each stage joins its result back to its
    input (Gopher flags, exact-dedup keepers, near-dup victims)."""
    from watertower_spark.operators.pii import redact_pii
    from watertower_spark.operators.pipeline import _ws_tokens
    from watertower_spark.operators.quality import gopher_quality_signals

    other_cols = [c for c in docs.columns if c not in ("text", "doc_id")]
    stages = {}
    lined = dedup.remove_frequent_lines(docs.select("doc_id", "text"), min_docs=min_line_docs)
    cur = lined.select("doc_id", F.col("clean_text").alias("text"))
    stages["line_dedup"] = cur
    if apply_gopher:
        flags = gopher_quality_signals(cur)
        cur = cur.join(flags.where("gopher_flag").select("doc_id"), "doc_id")
        stages["gopher_filter"] = cur
    if apply_pii:
        cur = redact_pii(cur).select("doc_id", F.col("clean_text").alias("text"))
        stages["pii_scrub"] = cur
    keepers = cur.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    cur = cur.join(keepers.select("doc_id"), "doc_id")
    stages["exact_dedup"] = cur
    pairs = dedup.minhash_lsh_pairs(_ws_tokens(cur), n_hashes=minhash_hashes,
                                    bands=minhash_bands, threshold=near_dup_threshold)
    if near_dup_transitive:
        comp = dedup.connected_components(pairs)
        victims = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"))
    else:
        victims = pairs.select(F.greatest("da", "db").alias("doc_id")).distinct()
    cur = cur.join(victims, "doc_id", "left_anti")
    stages["near_dedup"] = cur
    if other_cols:
        cur = cur.join(docs.select("doc_id", *other_cols), "doc_id")
    return cur.select("doc_id", *other_cols, "text"), stages


@pytest.fixture(scope="module")
def planted_corpus(spark):
    """Seeded corpus with one victim class per cleaning stage: a
    boilerplate line in a third of the docs, exact twins that differ
    only in boilerplate, near twins (last word changed), PII and
    sub-50-word docs, plus a passthrough ``src`` column."""
    import random

    rnd = random.Random(20261017)
    vocab = [f"{a}{b}" for a in ("lor", "ips", "dol", "sit", "amet", "cons") for b in
             ("a", "e", "i", "o", "u", "ar", "en", "is")]
    boiler = "subscribe to our newsletter for weekly updates"
    pii = ["mail me at ann.lee@example.org today", "server 10.0.0.12 is up",
           "call +1 555 123 4567 now"]

    def body(n_words):
        words = [rnd.choice(vocab) for _ in range(n_words)]
        return "\n".join(" ".join(words[i:i + 12]) for i in range(0, n_words, 12))

    rows, doc_id = [], 0

    def add(text):
        nonlocal doc_id
        doc_id += 1
        rows.append((doc_id, text, f"s{doc_id % 3}"))

    for i in range(24):
        text = body(rnd.randint(55, 90))
        if i % 4 == 0:
            text += "\n" + pii[i % 3]
        add(boiler + "\n" + text if i % 3 == 0 else text)
        if i % 6 == 1:
            add(text + "\n" + boiler)                           # exact twin after line dedup
        if i % 6 == 2:
            add(text.rsplit(" ", 1)[0] + " " + rnd.choice(vocab) + "zz")  # near twin
    for _ in range(4):
        add(body(rnd.randint(10, 40)) + "\n" + boiler)          # fails Gopher (< 50 words)
    rnd.shuffle(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string").persist()
    yield docs
    docs.unpersist()


@pytest.mark.parametrize("kw", [
    {},
    {"apply_gopher": False},
    {"apply_pii": False},
    {"near_dup_transitive": True},
], ids=["defaults", "no_gopher", "no_pii", "transitive"])
def test_clean_corpus_equals_join_based_reference(planted_corpus, kw):
    """clean_corpus (one pass per stage) returns exactly the rows of
    the join-based composition, for the final output and every stage."""
    from watertower_spark.operators.pipeline import clean_corpus

    kw = {"min_line_docs": 5, **kw}
    clean, stages = clean_corpus(planted_corpus, **kw)
    ref, ref_stages = _reference_clean_corpus(planted_corpus, **kw)
    assert clean.columns == ref.columns == ["doc_id", "src", "text"]
    assert list(stages) == list(ref_stages)
    for name in stages:
        assert sorted(stages[name].collect()) == sorted(ref_stages[name].collect()), name
    got = sorted(clean.collect())
    assert got == sorted(ref.collect())
    # every planted victim class is caught by its own stage
    n = {name: df.count() for name, df in stages.items()}
    assert n["line_dedup"] == planted_corpus.count()      # every doc keeps a row
    if "gopher_filter" in n:
        assert n["gopher_filter"] < n["line_dedup"]
    names = list(n)
    assert n["exact_dedup"] < n[names[names.index("exact_dedup") - 1]]
    assert n["near_dedup"] < n["exact_dedup"]
    leaked = any("@example.org" in r["text"] for r in got)
    assert leaked == (kw.get("apply_pii") is False)


def test_clean_corpus_plan_shape(spark):
    """Each stage consumes its predecessor once: the Gopher filter and
    exact dedup add no join, and the initial executed plan stays within
    the exchange and cached-scan counts of the one-pass composition
    (the join-based reference has about three times as many)."""
    from watertower_spark.operators.pipeline import clean_corpus

    words = [f"w{i:02d}" for i in range(60)]
    rows = [(i, "footer line\n" + " ".join(words[i % 7:] + words[:i % 7]), "en")
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string").persist()
    docs.count()
    clean, stages = clean_corpus(docs, min_line_docs=3)

    def nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        names = [ln.lstrip(" :+-|*").split(" ")[0].split("(")[0] for ln in plan.splitlines()]
        return {k: sum(n == k for n in names) for k in (
            "Exchange", "BroadcastExchange", "InMemoryTableScan",
            "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")}

    def joins(n):
        return n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"]

    assert joins(nodes(stages["gopher_filter"])) == joins(nodes(stages["line_dedup"]))
    assert joins(nodes(stages["exact_dedup"])) == joins(nodes(stages["pii_scrub"]))
    final = nodes(clean)
    ref = nodes(_reference_clean_corpus(docs, min_line_docs=3)[0])
    n_exchanges = final["Exchange"] + final["BroadcastExchange"]
    assert n_exchanges <= 22 and final["InMemoryTableScan"] <= 7, final
    # the join-based composition: 65 exchanges and 25 scans here
    assert 2 * n_exchanges < ref["Exchange"] + ref["BroadcastExchange"], ref
    assert 2 * final["InMemoryTableScan"] < ref["InMemoryTableScan"], ref
    docs.unpersist()
    # uncached, AQE reuses the exact-dedup and band exchanges, so near
    # dedup's three consumers share one derivation of its input: two
    # scans for line_dedup, one for the passthrough join
    clean, _ = clean_corpus(spark.createDataFrame(rows, docs.schema), min_line_docs=3)
    clean.collect()
    plan = clean._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Scan ExistingRDD") == 3 and "ReusedExchange" in plan, plan


def test_clean_corpus_rejects_degenerate_parameters(spark):
    from watertower_spark.operators.pipeline import clean_corpus

    docs = spark.createDataFrame([(1, "a b c d", "en")], "doc_id long, text string, lang string")
    bad = [
        ({"min_line_docs": 1}, "min_docs"),
        ({"minhash_bands": 0}, "bands"),
        ({"minhash_bands": 64}, "bands"),           # > minhash_hashes
        ({"minhash_bands": 6}, "bands"),            # does not divide 32
        ({"minhash_hashes": 16, "minhash_bands": 32}, "bands"),
        ({"near_dup_threshold": 0.0}, "threshold"),
        ({"near_dup_threshold": 1.01}, "threshold"),
    ]
    for kw, what in bad:
        with pytest.raises(ValueError, match=what):
            clean_corpus(docs, **kw)


def test_ngram_repetition_hand_computed(spark):
    """'a b a b a b c': top 2-gram 'a b' x3 -> 6/7 chars; top 3-gram
    'a b a' x2 -> 6/7; top 4-gram 'a b a b' x2 -> 8/7 (overlapping
    occurrences legitimately exceed 1 on degenerate docs).  A 3-token
    doc has no 4-gram -> null."""
    from watertower_spark.operators.quality import ngram_repetition_signals

    toks = [(1, i, t) for i, t in enumerate("a b a b a b c".split())]
    toks += [(2, i, t) for i, t in enumerate("xx yy zz".split())]
    tok = spark.createDataFrame(toks, "doc_id int, pos int, term string")
    out = {r["doc_id"]: r for r in ngram_repetition_signals(tok).collect()}
    assert out[1]["top_2gram_char_frac"] == round(6 / 7, 4)
    assert out[1]["top_3gram_char_frac"] == round(6 / 7, 4)
    assert out[1]["top_4gram_char_frac"] == round(8 / 7, 4)
    assert out[2]["top_2gram_char_frac"] == round(4 / 6, 4)  # any pair x1, 4 chars
    assert out[2]["top_3gram_char_frac"] == 1.0
    assert out[2]["top_4gram_char_frac"] is None


def test_gopher_and_pii_plans_have_no_exchange(spark):
    """The docstrings claim gopher_quality_signals and redact_pii are
    zero-shuffle narrow maps (free riders on an ingest scan at crawl
    scale); pin that against the actual physical plan."""
    from watertower_spark.operators.pii import redact_pii
    from watertower_spark.operators.quality import gopher_quality_signals

    docs = spark.createDataFrame([(1, "a few words here")], "doc_id int, text string")
    for df in (gopher_quality_signals(docs), redact_pii(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_dup_ngram_coverage_hand_computed(spark):
    """'a b c a b c d': dup 2-grams 'a b'/'b c' cover positions
    {0,1,2,3,4,5} -> 6/7 chars; dup 3-gram 'a b c' covers the same six
    -> 6/7; no dup 4-gram -> 0.0.  True coverage: never exceeds 1."""
    from watertower_spark.operators.quality import dup_ngram_coverage

    toks = [(1, i, t) for i, t in enumerate("a b c a b c d".split())]
    toks += [(2, i, t) for i, t in enumerate("p q r s".split())]  # no dups
    tok = spark.createDataFrame(toks, "doc_id int, pos int, term string")
    out = {r["doc_id"]: r for r in dup_ngram_coverage(tok, ns=(2, 3, 4)).collect()}
    assert out[1]["dup_2gram_char_frac"] == round(6 / 7, 4)
    assert out[1]["dup_3gram_char_frac"] == round(6 / 7, 4)
    assert out[1]["dup_4gram_char_frac"] == 0.0
    assert out[2]["dup_2gram_char_frac"] == 0.0


def test_stratified_sample_deterministic_and_exact(spark):
    """Membership is a pure function of (key, salt): rerunning and
    repartitioning give the identical sample; fraction 1.0 keeps every
    row of the stratum, 0.0 none; different salts decorrelate."""
    import hashlib

    from watertower_spark.operators.training import (
        sample_threshold_hex, stratified_sample,
    )

    rows = [(i, ["en", "zh", "de"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    frac = {"en": 1.0, "zh": 0.4, "de": 0.0}
    got = {r["doc_id"] for r in stratified_sample(df, frac, salt="s1").collect()}
    again = {
        r["doc_id"]
        for r in stratified_sample(df.repartition(7), frac, salt="s1").collect()
    }
    assert got == again
    # first-principles replay of the gate in pure Python
    thr = sample_threshold_hex(0.4)
    expect = set()
    for i, lang in rows:
        if lang == "en":
            expect.add(i)
        elif lang == "zh":
            h = hashlib.md5(f"{i}:s1".encode()).hexdigest()[:8]
            if h < thr:
                expect.add(i)
    assert got == expect
    other = {r["doc_id"] for r in stratified_sample(df, frac, salt="s2").collect()}
    assert other != got  # salt actually decorrelates
    assert {i for i, l in rows if l == "en"} <= other


def test_stratified_sample_is_narrow(spark):
    """The mixing gate must stay a shuffle-free filter on the scan."""
    from watertower_spark.operators.training import stratified_sample

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    plan = (
        stratified_sample(df, {"en": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_pack_sequences_matches_serial_cumsum(spark):
    """Distributed two-phase prefix sum == the naive serial layout,
    including zero-token docs and spans crossing sequence cuts."""
    from watertower_spark.operators.training import pack_sequences

    import random

    rng = random.Random(7)
    rows = [(i, rng.choice([0, 1, 3, 50, 120])) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {
        r["doc_id"]: r
        for r in pack_sequences(df, 64, num_partitions=11).collect()
    }
    assert len(out) == 500
    cum = 0
    for i, n in rows:  # serial reference layout
        r = out[i]
        assert r["start_tok"] == cum
        assert r["seq_offset"] == cum % 64
        assert r["first_seq"] == cum // 64
        assert r["last_seq"] == (cum + max(n - 1, 0)) // 64
        cum += n
    # a doc longer than seq_len spans multiple sequences
    spans = [r for r in out.values() if r["last_seq"] > r["first_seq"]]
    assert spans, "corpus should contain boundary-crossing docs"


def test_pack_sequences_never_collapses_to_one_task(spark):
    """The whole point vs SUM() OVER (ORDER BY): no single-partition
    global window in the physical plan."""
    from watertower_spark.operators.training import pack_sequences

    df = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("n_tokens")
    )
    plan = (
        pack_sequences(df, 128, num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan.replace(
        "Exchange SinglePartition", "", 1
    ), plan  # exactly the one P-row totals exchange is allowed


# ------------------------------------------------- benchmark decontamination


@pytest.fixture(scope="module")
def decontam_streams(spark):
    """Corpus + benchmark token streams with hand-derivable 4-gram overlap."""
    corpus = {
        1: "x w1 w2 w3 w4 y",        # shares gram w1..w4 with B1
        2: "w2 w3 w4 w5",            # shares gram w2..w5 with B1
        3: "w1 w2 w3 z w4",          # longest shared run is 3 tokens: clean
        4: "w1 w2 w3 w4 w5",         # both B1 grams
        5: "q1 q2 q3 q4 w1 w2 w3 w4",  # hits B2 AND B1
        6: "short doc",              # < n tokens: cannot be contaminated
    }
    bench = {
        100: "w1 w2 w3 w4 w5",  # B1: grams w1..w4, w2..w5
        200: "q1 q2 q3 q4",     # B2: gram q1..q4
        300: "too few",         # < n tokens: contributes nothing
    }

    def stream(d, id_name):
        rows = [
            (k, pos, term)
            for k, text in d.items()
            for pos, term in enumerate(text.split())
        ]
        return spark.createDataFrame(rows, f"{id_name} long, pos int, term string")

    return stream(corpus, "doc_id"), stream(bench, "bench_id")


def test_contamination_report_gram_semantics(decontam_streams):
    from watertower_spark.operators.decontam import contamination_report

    tok, bench = decontam_streams
    out = {r["doc_id"]: r for r in contamination_report(tok, bench, n=4).collect()}
    assert set(out) == {1, 2, 4, 5}          # 3 (broken run) and 6 (short) clean
    assert (out[1]["n_hit_grams"], out[1]["n_bench_ids"]) == (1, 1)
    assert (out[2]["n_hit_grams"], out[2]["n_bench_ids"]) == (1, 1)
    assert (out[4]["n_hit_grams"], out[4]["n_bench_ids"]) == (2, 1)
    assert (out[5]["n_hit_grams"], out[5]["n_bench_ids"]) == (2, 2)


def test_decontaminate_drops_exactly_the_report(spark, decontam_streams):
    from watertower_spark.operators.decontam import decontaminate

    tok, bench = decontam_streams
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string"
    )
    clean, report = decontaminate(docs, tok, bench, n=4)
    kept = {r["doc_id"] for r in clean.collect()}
    flagged = {r["doc_id"] for r in report.collect()}
    assert kept == {3, 6} and flagged == {1, 2, 4, 5}
    assert kept | flagged == set(range(1, 7)) and not (kept & flagged)


def test_contamination_probe_broadcasts_benchmark(decontam_streams):
    """The scale contract: the gram join must be a broadcast hash join
    (the corpus stream is never shuffled to meet the benchmark)."""
    from watertower_spark.operators.decontam import contamination_report

    tok, bench = decontam_streams
    plan = (
        contamination_report(tok, bench, n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
