"""Incremental index maintenance: append / remove / upsert / resume /
streaming ingest — the batch re-expression of the reference's
PostDocument/RemoveDocument paths (database.go:23-156)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from watertower_spark.operators.index_build import build_index, load_manifest
from watertower_spark.operators.maintenance import (
    append_documents,
    remove_documents,
    resume_build,
    upsert_documents,
)
from watertower_spark.operators.search import SearchEngine
from watertower_spark.sources import corpus


def _mkdocs(spark, rows):
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA,
    )
    tags = spark.createDataFrame([(r["url"], r["tags"]) for r in rows], schema=corpus.TAG_SCHEMA)
    return docs, tags


@pytest.fixture()
def base_index(spark, tmp_index_root, request):
    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows[:5])
    idx = f"{tmp_index_root}/maint_{request.node.name}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3)
    return idx, rows


def test_doc_id_allocation_dense_from_one(spark):
    # database_test.go:14-32: ids are dense and start at 1, ordered by url
    from watertower_spark.operators.index_build import assign_doc_ids

    docs = spark.createDataFrame(
        [("b",), ("a",), ("c",)], "url string"
    )
    got = {r["url"]: r["doc_id"] for r in assign_doc_ids(docs).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}


def test_append_documents(spark, base_index):
    idx, rows = base_index
    m0 = load_manifest(idx)
    docs2, tags2 = _mkdocs(spark, rows[5:])
    m1 = append_documents(spark, idx, docs2, tags2)
    assert m1["doc_count"] == 7
    eng = SearchEngine(spark, idx)
    # '201 Created' arrives in the appended batch and must be searchable
    res = eng.search("noncommittal", None, "en").collect()
    assert {r["url"] for r in res} == {"fixture://search/202 Accepted"}
    # docs from the original build still searchable, N updated
    res = eng.search("post", None, "en").collect()
    assert {r["url"] for r in res} == {
        "fixture://search/200 OK", "fixture://search/201 Created",
    }
    # appending the same urls again is a no-op (doc_map anti-join)
    m2 = append_documents(spark, idx, docs2, tags2)
    assert m2["doc_count"] == 7


def test_remove_documents(spark, base_index):
    idx, rows = base_index
    victims = spark.createDataFrame(
        [("fixture://search/100 Continue",)], "url string"
    )
    m = remove_documents(spark, idx, victims)
    assert m["doc_count"] == 4
    eng = SearchEngine(spark, idx)
    assert eng.search("interim", None, "en").count() == 0
    urls = {r["url"] for r in eng.search("", ["NoBody"], "en").collect()}
    assert "fixture://search/100 Continue" not in urls
    assert len(urls) == 3


def test_remove_entire_shard(spark, tmp_index_root):
    """Regression: a shard whose docs are ALL removed must not keep its
    old partition files alive (dynamic overwrite writes zero rows for it,
    which deletes nothing)."""
    rows = corpus.fixture_rows(("searchdata",))[:4]
    docs, tags = _mkdocs(spark, rows)
    idx = f"{tmp_index_root}/rm_whole_shard"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=2)  # 2 shards of 2
    # remove both docs of the second shard (doc_ids 3,4 = urls rank 3,4)
    doc_map = spark.read.parquet(f"{idx}/doc_map")
    victims = doc_map.where(F.col("doc_id").isin([3, 4])).select("url")
    m = remove_documents(spark, idx, victims)
    assert m["doc_count"] == 2
    eng = SearchEngine(spark, idx)
    left = {r["doc_id"] for r in eng.search("the", None, "en").collect()}
    assert left <= {1, 2}
    # a term unique to the removed docs must be gone
    import os
    assert not os.path.exists(f"{idx}/postings/shard=1")
    assert not os.path.exists(f"{idx}/doc_store/shard=1")


def test_upsert_documents(spark, base_index):
    idx, rows = base_index
    changed = dict(rows[0])
    changed = {**rows[0], "text": "100 Continue\n\nxylophone zebra content."}
    docs, tags = _mkdocs(spark, [changed])
    m = upsert_documents(spark, idx, docs, tags)
    assert m["doc_count"] == 5  # same url → same doc, no growth
    eng = SearchEngine(spark, idx)
    assert eng.search("xylophone", None, "en").count() == 1
    assert eng.search("interim", None, "en").count() == 0  # old body gone
    # doc kept its tags through the rewrite
    assert "fixture://search/100 Continue" in {
        r["url"] for r in eng.search("", ["NoBody"], "en").collect()
    }


def test_upsert_refreshes_doc_stats_and_avgdl(spark, base_index):
    """Regression (ADVICE r1, high): upserting a doc with a different
    length must rewrite its doc_stats row and recompute manifest avgdl —
    BM25 scores with stale lengths otherwise."""
    import math

    idx, rows = base_index
    doc_map = {r["url"]: r["doc_id"]
               for r in spark.read.parquet(f"{idx}/doc_map").collect()}
    victim_url = rows[0]["url"]
    victim_id = doc_map[victim_url]
    old_wc = {r["doc_id"]: r["wc"]
              for r in spark.read.parquet(f"{idx}/doc_stats").collect()}

    # shrink the victim to a 4-word body (title contributes 2 kept words)
    changed = {**rows[0], "text": "100 Continue\n\nxylophone zebra quartz vortex."}
    docs, tags = _mkdocs(spark, [changed])
    m = upsert_documents(spark, idx, docs, tags)

    new_stats = {r["doc_id"]: r["wc"]
                 for r in spark.read.parquet(f"{idx}/doc_stats").collect()}
    assert new_stats[victim_id] == 6  # 2 title words + 4 body words
    assert new_stats[victim_id] != old_wc[victim_id]
    # untouched docs keep their lengths
    for d, wc in old_wc.items():
        if d != victim_id:
            assert new_stats[d] == wc
    # manifest avgdl tracks the new lengths exactly
    assert math.isclose(m["avgdl"], sum(new_stats.values()) / len(new_stats))

    # and BM25 actually scores with the fresh dl: recompute by hand
    eng = SearchEngine(spark, idx)
    got = eng.search("xylophone", None, "en", mode="bm25", k=5).collect()
    assert len(got) == 1 and got[0]["doc_id"] == victim_id
    n, df, tf, dl = m["doc_count"], 1, 1, new_stats[victim_id]
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    want = idf * 2.2 * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / m["avgdl"]))
    assert abs(got[0]["score"] - want) < 1e-9


def test_resume_build(spark, tmp_index_root):
    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows)
    idx = f"{tmp_index_root}/resume"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=2)
    # simulate a crash mid-postings-phase: delete two shard partitions and
    # reset the manifest phase
    m = load_manifest(idx)
    import json

    for s in (0, 2):
        shutil.rmtree(f"{idx}/postings/shard={s}")
    m["phase"] = "docs_done"
    with open(f"{idx}/_meta/manifest.json", "w") as f:
        json.dump(m, f)
    m2 = resume_build(spark, docs, tags, idx)
    assert m2["phase"] == "committed"
    eng = SearchEngine(spark, idx)
    assert eng.search("post", None, "en").count() == 2
    # resuming a committed index is a no-op
    m3 = resume_build(spark, docs, tags, idx)
    assert m3["phase"] == "committed"


def _ts_recomputed(spark, idx):
    """Ground truth: full re-aggregation over the whole postings table."""
    p = spark.read.parquet(f"{idx}/postings")
    return {
        (r["term"], r["df"], r["cf"], tuple(r["shards"]))
        for r in p.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf"),
            F.sort_array(F.collect_set("shard")).alias("shards"),
        ).collect()
    }


def _ts_published(spark, idx):
    from watertower_spark.operators.index_build import table_path

    m = load_manifest(idx)
    return {
        (r["term"], r["df"], r["cf"], tuple(r["shards"]))
        for r in spark.read.parquet(table_path(idx, m, "term_stats")).collect()
    }


def test_incremental_stats_touch_only_affected_shards(spark, base_index, monkeypatch):
    """Round-2 verdict #3: a mutation must update term_stats/avgdl/shard
    metrics from the AFFECTED shards' deltas — never a full postings or
    doc_stats re-scan.  Instrumented via the path-scoped reader (the
    only way mutation stats code may touch those tables): every read's
    inputFiles() must stay inside the requested shard dirs, and the
    incrementally merged term_stats must equal a full recompute."""
    import math

    import watertower_spark.operators.maintenance as mt

    idx, rows = base_index  # 5 docs, docs_per_shard=3 → shards {0,1}
    calls = []
    real = mt._read_shard_table

    def spy(spark_, index_dir, table, shards):
        df = real(spark_, index_dir, table, shards)
        if df is not None:
            allowed = tuple(f"{index_dir}/{table}/shard={int(s)}" for s in shards)
            for f in df.inputFiles():
                local = "/" + f.split("://", 1)[-1].lstrip("/")
                assert local.startswith(allowed), (table, shards, f)
        calls.append((table, sorted(int(s) for s in shards)))
        return df

    monkeypatch.setattr(mt, "_read_shard_table", spy)

    # --- append: only the NEW shard(s) may be touched ---
    docs2, tags2 = _mkdocs(spark, rows[5:])
    m = append_documents(spark, idx, docs2, tags2)
    new_shards = set(range(2, m["n_shards"]))
    for table, shards in calls:
        assert set(shards) <= new_shards, (table, shards)
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)

    # --- upsert one doc in shard 0: only shard 0 may be touched ---
    calls.clear()
    changed = {**rows[0], "text": "100 Continue\n\nxylophone zebra content."}
    docs_u, tags_u = _mkdocs(spark, [changed])
    m = upsert_documents(spark, idx, docs_u, tags_u)
    assert calls, "upsert must go through the path-scoped reader"
    for table, shards in calls:
        assert set(shards) == {0}, (table, shards)
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)

    # --- remove one doc (shard 0) ---
    calls.clear()
    victims = spark.createDataFrame([(rows[1]["url"],)], "url string")
    m = remove_documents(spark, idx, victims)
    assert calls
    for table, shards in calls:
        assert set(shards) == {0}, (table, shards)
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)

    # manifest invariant holds through the whole churn: avgdl == the
    # exact quantity the BM25 scorer divides by, tracked via Σwc deltas
    stats = [r["wc"] for r in spark.read.parquet(f"{idx}/doc_stats").collect()]
    assert math.isclose(m["avgdl"], sum(stats) / len(stats))
    assert math.isclose(m["sum_wc"], sum(stats))
    assert m["doc_count"] == len(stats)


def test_append_doc_store_drops_html(spark, base_index):
    """Regression (ADVICE r2, medium): appended doc_store partitions must
    match build_index's schema — in particular NOT reintroduce the raw
    html column (heaviest crawl column; also makes schema inference
    file-order-dependent)."""
    idx, rows = base_index
    docs2, tags2 = _mkdocs(spark, rows[5:])
    append_documents(spark, idx, docs2, tags2)
    store = spark.read.parquet(f"{idx}/doc_store")
    assert "html" not in store.columns
    # every shard file carries the same columns (no per-file drift)
    import glob

    import pyarrow.parquet as pq

    schemas = {
        tuple(sorted(pq.read_schema(p).names))
        for p in glob.glob(f"{idx}/doc_store/shard=*/*.parquet")
    }
    assert len(schemas) == 1


def test_resume_regenerates_missing_doc_len(spark, tmp_index_root):
    """Regression (ADVICE r2, medium): a crash after the postings wave but
    before w_doc_len leaves every postings shard present; resume must
    still detect and regenerate the missing doc_len shards (from the
    durable doc_stats) or BM25 silently scores with dl=avgdl."""
    import json
    import math

    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows)
    idx = f"{tmp_index_root}/resume_doc_len"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=2)
    m = load_manifest(idx)
    # simulate the wave-2 crash: postings complete, doc_len gone
    shutil.rmtree(f"{idx}/doc_len")
    m["phase"] = "docs_done"
    with open(f"{idx}/_meta/manifest.json", "w") as f:
        json.dump(m, f)

    m2 = resume_build(spark, docs, tags, idx)
    assert m2["phase"] == "committed"
    for s in range(m2["n_shards"]):
        assert os.path.exists(f"{idx}/doc_len/shard={s}"), s

    # BM25 scores with the real per-doc dl, not the avgdl fallback:
    # identical to a fresh, uninterrupted build
    ref_idx = f"{tmp_index_root}/resume_doc_len_ref"
    shutil.rmtree(ref_idx, ignore_errors=True)
    build_index(docs, tags, ref_idx, docs_per_shard=2)
    for q in ("interim", "post", "request"):
        got = {(r["url"], round(r["score"], 9)) for r in
               SearchEngine(spark, idx).search(q, None, "en", mode="bm25", k=5).collect()}
        want = {(r["url"], round(r["score"], 9)) for r in
                SearchEngine(spark, ref_idx).search(q, None, "en", mode="bm25", k=5).collect()}
        assert got == want, q
    assert math.isfinite(m2["avgdl"])


def test_streaming_ingest(spark, tmp_index_root):
    from watertower_spark.streaming.incremental import ingest_available

    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows[:4])
    idx = f"{tmp_index_root}/stream_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=4)

    stream_dir = f"{tmp_index_root}/stream_in"
    ckpt = f"{tmp_index_root}/stream_ckpt"
    docs2, _ = _mkdocs(spark, rows[4:])
    docs2.write.mode("overwrite").parquet(stream_dir)

    n = ingest_available(spark, stream_dir, idx, ckpt)
    assert n >= 1
    assert load_manifest(idx)["doc_count"] == 7
    eng = SearchEngine(spark, idx)
    assert eng.search("noncommittal", None, "en").count() == 1
    # drain again: checkpoint + anti-join → no duplicates
    n2 = ingest_available(spark, stream_dir, idx, ckpt)
    assert load_manifest(idx)["doc_count"] == 7


def test_streaming_stateful_dedup(spark, tmp_index_root):
    """applyInPandasWithState first-seen dedup: duplicates are dropped
    within a batch, across micro-batches, AND across separate drains
    (state store resumed from the checkpoint)."""
    from watertower_spark.streaming.dedup_stream import drain_first_seen

    base = f"{tmp_index_root}/sdd"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    schema = "url string, text string"
    rows1 = [("u1", "alpha beta"), ("u2", "gamma delta"), ("u3", "alpha beta")]
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(in_dir)
    drain_first_seen(spark, in_dir, out_dir, ckpt, schema)
    out = spark.read.parquet(out_dir)
    assert out.count() == 2
    assert {r.text for r in out.collect()} == {"alpha beta", "gamma delta"}

    # second drain, separate query: a re-delivered duplicate and a new doc
    rows2 = [("u4", "alpha beta"), ("u5", "epsilon zeta")]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(in_dir)
    drain_first_seen(spark, in_dir, out_dir, ckpt, schema)
    out2 = spark.read.parquet(out_dir)
    assert out2.count() == 3  # only the new doc got through
    assert {r.text for r in out2.collect()} == {
        "alpha beta", "gamma delta", "epsilon zeta"
    }


def test_shard_metrics_externalize_at_scale(spark, tmp_index_root, monkeypatch):
    """At 10^12-doc scale the manifest cannot inline (or driver-collect)
    per-shard metrics for 10^5-10^8 shards; past the threshold they go
    to a shard_metrics parquet table with totals inline.  Forced here by
    shrinking the threshold."""
    import watertower_spark.operators.index_build as ib
    from watertower_spark.operators.index_build import snapshot_history, table_path

    monkeypatch.setattr(ib, "SHARD_METRICS_INLINE_MAX", 2)
    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows)
    idx = f"{tmp_index_root}/ext_metrics"
    shutil.rmtree(idx, ignore_errors=True)
    m = build_index(docs, tags, idx, docs_per_shard=2)  # 4 shards > 2

    assert m["shards"] == "external"
    assert m["shard_totals"]["n_postings"] > 0
    ext = spark.read.parquet(f"{idx}/shard_metrics")
    assert ext.count() == m["n_shards"]
    assert set(ext.columns) >= {"shard", "n_terms", "n_postings", "bytes",
                                "build_id", "status"}
    # snapshot log carries the totals
    snap = snapshot_history(idx)[-1]
    assert snap["total_postings"] == m["shard_totals"]["n_postings"]

    # search unaffected
    eng = SearchEngine(spark, idx)
    assert eng.search("request", None, "en").count() > 0

    # a mutation refreshes the EXTERNAL table via versioned publish
    victims = spark.createDataFrame([(rows[0]["url"],)], "url string")
    m2 = remove_documents(spark, idx, victims)
    assert m2["shards"] == "external"
    new_path = table_path(idx, m2, "shard_metrics")
    assert new_path.endswith("_v1")
    assert spark.read.parquet(new_path).count() >= 1
    assert m2["shard_totals"]["n_postings"] < m["shard_totals"]["n_postings"]
    assert not os.path.exists(f"{idx}/shard_metrics")  # old version GC'd


def test_mutation_lock_single_writer(spark, base_index):
    """Round-3 verdict #5: mutations are single-writer per index.  A held
    lease makes a second mutation fail cleanly (IndexLockedError) instead
    of silently corrupting the first one's staging snapshots; the lease
    is released after success and is re-entrant for upsert's internal
    append of fresh urls."""
    from watertower_spark.functions import fsio
    from watertower_spark.operators.maintenance import IndexLockedError

    idx, rows = base_index
    lock = f"{idx}/_meta/_mutation_lock"
    assert fsio.create_exclusive(lock, "pid=other-writer")
    assert not fsio.create_exclusive(lock, "pid=me")  # exclusive-create

    docs2, tags2 = _mkdocs(spark, rows[5:])
    with pytest.raises(IndexLockedError):
        append_documents(spark, idx, docs2, tags2)
    with pytest.raises(IndexLockedError):
        remove_documents(
            spark, idx,
            spark.createDataFrame([(rows[0]["url"],)], "url string"),
        )
    # the failed attempts must not have stolen/removed the foreign lease
    assert os.path.exists(lock)

    fsio.delete_file(lock)
    # re-entrant path: upsert of all-fresh urls calls append internally
    # under the same lease
    m = upsert_documents(spark, idx, docs2, tags2)
    assert m["doc_count"] == 7
    assert not os.path.exists(lock)  # released after success


def test_degraded_index_flags_at_load(spark, base_index):
    """Round-3 verdict #4 / ADVICE: a shard with postings but no doc_len
    (interrupted wave-2 write) must surface DRIVER-side at engine
    construction — the executor-kernel warning lands in a Python
    worker's stderr nobody reads while BM25 silently mis-scores."""
    import warnings as _w

    idx, _rows = base_index
    with _w.catch_warnings():
        _w.simplefilter("error")  # healthy index must NOT warn
        eng = SearchEngine(spark, idx)
    assert eng.degraded_shards == []

    shutil.rmtree(f"{idx}/doc_len/shard=0")
    with pytest.warns(UserWarning, match="DEGRADED"):
        eng2 = SearchEngine(spark, idx)
    assert eng2.degraded_shards == [0]


def test_term_stats_bucketed_delta_touches_only_changed_buckets(
    spark, base_index, monkeypatch
):
    """Round-3 verdict #3: term_stats is bucket-partitioned by term
    range (the manifest's term_bounds); a mutation must read and rewrite
    ONLY buckets containing changed terms (path-scope pinned via
    inputFiles), leaving every other bucket's files byte-identical —
    at a 10^9-term vocabulary the whole-table rewrite was the one
    remaining O(vocab) job per mutation."""
    import glob
    import hashlib

    import watertower_spark.operators.maintenance as mt
    from watertower_spark.operators.index_build import table_path

    idx, rows = base_index
    ts_dir = table_path(idx, load_manifest(idx), "term_stats")

    def snap():
        out = {}
        for d in glob.glob(f"{ts_dir}/tb=*"):
            h = hashlib.sha256()
            for p in sorted(glob.glob(f"{d}/*.parquet")):
                with open(p, "rb") as f:
                    h.update(f.read())
            out[int(d.rsplit("=", 1)[1])] = h.hexdigest()
        return out

    before = snap()
    assert len(before) > 1  # the vocabulary spreads over multiple buckets

    seen = []
    real = mt._read_ts_buckets

    def spy(spark_, ts_dir_, buckets):
        df = real(spark_, ts_dir_, buckets)
        if df is not None:
            allowed = tuple(f"{ts_dir_}/tb={int(b)}" for b in buckets)
            for f in df.inputFiles():
                local = "/" + f.split("://", 1)[-1].lstrip("/")
                assert local.startswith(allowed), (buckets, f)
        seen.append(sorted(int(b) for b in buckets))
        return df

    monkeypatch.setattr(mt, "_read_ts_buckets", spy)

    docs2, tags2 = _mkdocs(spark, rows[5:])
    append_documents(spark, idx, docs2, tags2)
    assert seen, "the stats delta must go through the bucket-scoped reader"
    touched = set().union(*map(set, seen))
    after = snap()
    untouched = set(before) - touched
    assert untouched, "a small append must leave some buckets untouched"
    for b in untouched:
        assert after[b] == before[b], f"bucket {b} rewritten without changes"
    # and the bucket-merged result still equals a full recompute
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)


def test_overwrite_mode_restored_after_mutation(spark, base_index):
    """ADVICE r3: mutation paths flip partitionOverwriteMode=dynamic on
    the shared session; they must restore the caller's value instead of
    silently changing later user writes' overwrite semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    idx, rows = base_index
    docs2, tags2 = _mkdocs(spark, rows[5:])
    append_documents(spark, idx, docs2, tags2)
    assert spark.conf.get(key).lower() == "static"
    remove_documents(
        spark, idx, spark.createDataFrame([(rows[0]["url"],)], "url string")
    )
    assert spark.conf.get(key).lower() == "static"
    spark.conf.unset(key)


def test_vacuum_removes_crash_leftovers(spark, base_index):
    """vacuum_index GCs what a mid-flight-killed mutation strands
    (staging dirs, orphaned versioned tables, the lease) and nothing
    else — deletion is allow-listed to the engine's own table names."""
    from watertower_spark.operators.maintenance import (
        IndexLockedError,
        vacuum_index,
    )

    idx, rows = base_index
    # simulate a writer killed between publish and manifest commit
    os.makedirs(f"{idx}/_tmp_victims_999_deadbeef", exist_ok=True)
    with open(f"{idx}/_tmp_victims_999_deadbeef/part-0.parquet", "w") as f:
        f.write("x")
    os.makedirs(f"{idx}/doc_map_v99", exist_ok=True)
    with open(f"{idx}/doc_map_v99/part-0.parquet", "w") as f:
        f.write("x")
    # a user file in the index dir must never be vacuum's business
    os.makedirs(f"{idx}/notes_v1", exist_ok=True)
    with open(f"{idx}/_meta/_mutation_lock", "w") as f:
        f.write("pid=999999")

    with pytest.raises(IndexLockedError):
        vacuum_index(idx)
    out = vacuum_index(idx, remove_stale_lease=True)
    assert out["lease_removed"] is True
    assert sorted(out["removed"]) == ["_tmp_victims_999_deadbeef", "doc_map_v99"]
    assert not os.path.exists(f"{idx}/_tmp_victims_999_deadbeef")
    assert not os.path.exists(f"{idx}/doc_map_v99")
    assert os.path.isdir(f"{idx}/notes_v1")
    # the lease is released afterwards and vacuum is idempotent
    assert not os.path.exists(f"{idx}/_meta/_mutation_lock")
    assert vacuum_index(idx) == {"removed": [], "lease_removed": False}
    # live tables untouched: the index still searches
    eng = SearchEngine(spark, idx)
    assert eng.search("response", None, "en").count() > 0
    shutil.rmtree(f"{idx}/notes_v1")


def test_vacuum_noop_after_healthy_mutations(spark, base_index):
    """A completed mutation chain GCs itself; vacuum then removes
    nothing, and the manifest-referenced versioned tables survive."""
    from watertower_spark.operators.index_build import table_path
    from watertower_spark.operators.maintenance import vacuum_index

    idx, rows = base_index
    docs2, tags2 = _mkdocs(spark, rows[5:])
    append_documents(spark, idx, docs2, tags2)
    remove_documents(
        spark, idx, spark.createDataFrame([(rows[0]["url"],)], "url string")
    )
    m = load_manifest(idx)
    assert m.get("tables", {}).get("doc_map", "doc_map") != "doc_map", (
        "remove should have published a versioned doc_map"
    )
    before = {tuple(sorted(r)) for r in eng_rows(spark, idx)}
    out = vacuum_index(idx)
    assert out == {"removed": [], "lease_removed": False}
    assert os.path.isdir(table_path(idx, m, "doc_map"))
    assert {tuple(sorted(r)) for r in eng_rows(spark, idx)} == before


def test_compact_index_merges_sparse_shards(spark, base_index):
    """Two 1-doc appends leave two underfilled shards; compaction merges
    them into one dense tail shard with identical search results (url +
    score — doc ids are reassigned by design) and is then a no-op."""
    from watertower_spark.operators.maintenance import compact_index

    idx, rows = base_index  # 5 docs, dps=3 → shard 0 (3 docs), shard 1 (2)
    docs_a, tags_a = _mkdocs(spark, rows[5:6])
    append_documents(spark, idx, docs_a, tags_a)   # shard 2: 1 doc
    docs_b, tags_b = _mkdocs(spark, rows[6:7])
    append_documents(spark, idx, docs_b, tags_b)   # shard 3: 1 doc

    def hits(q="response"):
        eng = SearchEngine(spark, idx)
        return sorted(
            (r["url"], r["score"]) for r in eng.search(q, None, "en").collect()
        )

    before = hits()
    assert before, "sanity: query must match the fixture corpus"

    out = compact_index(spark, idx)
    assert out["compacted_shards"] == [2, 3]
    assert out["docs_moved"] == 2
    m = load_manifest(idx)
    assert m["doc_count"] == 7
    # the sparse shard dirs are gone; the dense replacement exists
    assert not os.path.exists(f"{idx}/postings/shard=2")
    assert not os.path.exists(f"{idx}/postings/shard=3")
    assert os.path.exists(f"{idx}/postings/shard={out['n_shards'] - 1}")

    after = hits()
    assert [u for u, _ in after] == [u for u, _ in before]
    for (_, sa), (_, sb) in zip(after, before):
        assert sa == pytest.approx(sb, rel=1e-9)
    # nothing left to merge: second call is a no-op
    assert compact_index(spark, idx)["compacted_shards"] == []


def eng_rows(spark, idx):
    eng = SearchEngine(spark, idx)
    return [
        (r["url"],) for r in eng.search("response", None, "en").collect()
    ]


def test_streaming_then_compaction_lifecycle(spark, tmp_index_root):
    """Round-4 verdict #7: the full streaming story composed end to end —
    K one-doc micro-batch drains (foreachBatch → append, one underfilled
    shard each) → compact_index → the index answers BM25/parity/tag
    searches identically to a fresh batch build of the same corpus, and
    the shard layout is dense again."""
    from watertower_spark.operators.maintenance import compact_index
    from watertower_spark.streaming.incremental import ingest_available

    rows = corpus.fixture_rows(("searchdata",))
    tag_lookup = {r["url"]: r["tags"] for r in rows}
    docs, tags = _mkdocs(spark, rows[:3])
    idx = f"{tmp_index_root}/stream_compact"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3)  # shard 0: full

    def tags_fn(batch_df):
        pairs = [(r["url"], tag_lookup[r["url"]])
                 for r in batch_df.select("url").collect()]
        return spark.createDataFrame(pairs, schema=corpus.TAG_SCHEMA)

    stream_dir = f"{tmp_index_root}/stream_compact_in"
    ckpt = f"{tmp_index_root}/stream_compact_ckpt"
    shutil.rmtree(stream_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    for i in range(3, 7):  # 4 drains, one doc each → shards 1..4 sparse
        d, _ = _mkdocs(spark, rows[i:i + 1])
        d.coalesce(1).write.mode("append").parquet(stream_dir)
        assert ingest_available(spark, stream_dir, idx, ckpt, tags_fn) == 1
    assert load_manifest(idx)["doc_count"] == 7

    out = compact_index(spark, idx)
    assert out["compacted_shards"] == [1, 2, 3, 4]
    assert out["docs_moved"] == 4
    for s in (1, 2, 3, 4):
        assert not os.path.exists(f"{idx}/postings/shard={s}")

    ref_idx = f"{tmp_index_root}/stream_compact_ref"
    shutil.rmtree(ref_idx, ignore_errors=True)
    ref_docs, ref_tags = _mkdocs(spark, rows)
    build_index(ref_docs, ref_tags, ref_idx, docs_per_shard=3)
    eng, ref = SearchEngine(spark, idx), SearchEngine(spark, ref_idx)
    assert load_manifest(idx)["avgdl"] == pytest.approx(
        load_manifest(ref_idx)["avgdl"], rel=1e-12)
    for q, tg, mode in (("request", None, "bm25"), ("request", None, "parity"),
                        ("response", ["NoBody"], "parity"),
                        ("post", None, "bm25")):
        got = [(r["url"], round(r["score"], 9))
               for r in eng.search(q, tg, "en", mode=mode, k=10).collect()]
        want = [(r["url"], round(r["score"], 9))
                for r in ref.search(q, tg, "en", mode=mode, k=10).collect()]
        assert got == want, (q, tg, mode)


def test_delete_by_query_differential(spark, tmp_index_root):
    """ES _delete_by_query: deleting the parity match set of 'post'
    leaves an index that answers every query identically to a fresh
    build over the surviving docs (same scores — df/avgdl/N all follow
    the mutation's delta path), and an empty query deletes nothing."""
    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows)
    idx = f"{tmp_index_root}/dbq"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3, default_lang="en")
    eng = SearchEngine(spark, idx)
    match = {r["url"] for r in eng.search("post", None, "en").collect()}
    assert match  # the victim set is non-trivial
    assert eng.delete_by_query("") == 0  # empty query matches nothing
    n = eng.delete_by_query("post", lang="en")
    assert n == len(match)
    keep = [r for r in rows if r["url"] not in match]
    idx2 = f"{tmp_index_root}/dbq_fresh"
    shutil.rmtree(idx2, ignore_errors=True)
    docs2, tags2 = _mkdocs(spark, keep)
    build_index(docs2, tags2, idx2, docs_per_shard=3, default_lang="en")
    eng1 = SearchEngine(spark, idx)
    eng2 = SearchEngine(spark, idx2)
    assert load_manifest(idx)["doc_count"] == len(keep)
    for q in ("the", "response", "request"):
        a = {(r["url"], round(r["score"], 9)) for r in
             eng1.search(q, None, "en", mode="bm25", k=20).collect()}
        b = {(r["url"], round(r["score"], 9)) for r in
             eng2.search(q, None, "en", mode="bm25", k=20).collect()}
        assert a == b, q
    assert eng1.search("post", None, "en").count() == 0


def _index_view(spark, idx):
    """Everything a mutation writes, keyed by url instead of doc id (a
    fresh build numbers the same corpus differently)."""
    import numpy as np

    from watertower_spark.functions import codec
    from watertower_spark.operators.index_build import table_path

    m = load_manifest(idx)
    dps = m["docs_per_shard"]
    url_of = {r["doc_id"]: r["url"] for r in
              spark.read.parquet(table_path(idx, m, "doc_map")).collect()}
    stats = {url_of[r["doc_id"]]: (r["wc"], r["twc"]) for r in
             spark.read.parquet(f"{idx}/doc_stats").collect()}
    dl = {}
    for r in spark.read.parquet(f"{idx}/doc_len").collect():
        arr = np.frombuffer(r["dl_blob"], dtype=np.int32)
        for d, u in url_of.items():
            if (d - 1) // dps == r["shard"]:
                dl[u] = int(arr[d - r["shard"] * dps - 1])
    postings = {}
    for r in spark.read.parquet(f"{idx}/postings").collect():
        ids, tfs = codec.unpack_postings(r.asDict())
        pos = codec.unpack_position_lists(r["pos_blob"], len(ids))
        for d, tf, p in zip(ids, tfs, pos):
            postings[(r["term"], url_of[int(d)])] = (int(tf), tuple(p.tolist()))
    ts = {(r["term"], r["df"], r["cf"]) for r in
          spark.read.parquet(table_path(idx, m, "term_stats")).collect()}
    return m, ts, stats, dl, postings


def test_mutations_equal_fresh_build(spark, tmp_index_root):
    """build → append → remove (one whole shard and one doc of another)
    → upsert (one changed, one unchanged body) leaves exactly what a
    fresh build over the final corpus writes: term statistics, doc
    lengths, decoded postings with positions, manifest Σwc/avgdl and
    search results, compared by url."""
    import math

    rows = corpus.fixture_rows(("searchdata",))
    idx = f"{tmp_index_root}/mut_vs_fresh"
    shutil.rmtree(idx, ignore_errors=True)
    docs, tags = _mkdocs(spark, rows[:5])
    build_index(docs, tags, idx, docs_per_shard=2)  # shards 0,1: 2 docs; 2: 1
    docs2, tags2 = _mkdocs(spark, rows[5:])
    append_documents(spark, idx, docs2, tags2)      # shard 3
    gone = [r["url"] for r in rows[1:4]]            # shard 1 whole + one of 0
    remove_documents(spark, idx, spark.createDataFrame([(u,) for u in gone], "url string"))
    changed = {**rows[0], "text": "100 Continue\n\nxylophone zebra request response."}
    docs_u, tags_u = _mkdocs(spark, [changed, rows[5]])
    upsert_documents(spark, idx, docs_u, tags_u)

    final = [changed] + [r for r in rows[4:]]
    ref = f"{tmp_index_root}/mut_vs_fresh_ref"
    shutil.rmtree(ref, ignore_errors=True)
    docs_f, tags_f = _mkdocs(spark, final)
    build_index(docs_f, tags_f, ref, docs_per_shard=2)

    m, ts, stats, dl, postings = _index_view(spark, idx)
    m_ref, ts_ref, stats_ref, dl_ref, postings_ref = _index_view(spark, ref)
    assert ts == ts_ref
    assert stats == stats_ref and len(stats) == len(final)
    assert dl == dl_ref and dl == {u: wc for u, (wc, _twc) in stats.items()}
    assert postings == postings_ref
    assert m["doc_count"] == m_ref["doc_count"] == len(final)
    assert m["sum_wc"] == m_ref["sum_wc"]
    assert math.isclose(m["avgdl"], m_ref["avgdl"])

    eng, eng_ref = SearchEngine(spark, idx), SearchEngine(spark, ref)
    for q in ("request", "xylophone"):
        for mode in ("bm25", "parity"):
            got = {(r["url"], round(r["score"], 9)) for r in
                   eng.search(q, None, "en", mode=mode, k=10).collect()}
            want = {(r["url"], round(r["score"], 9)) for r in
                    eng_ref.search(q, None, "en", mode=mode, k=10).collect()}
            assert got == want, (q, mode)


def test_resume_reproduces_build_byte_for_byte(spark, tmp_index_root):
    """Resume rewrites a shard that lost its postings and another that
    lost its doc_len through the build's own segment stage: every
    postings column (block_max_w included) and every doc_len blob equals
    the uninterrupted build's, row for row."""
    import json

    rows = corpus.fixture_rows(("searchdata",))
    docs, tags = _mkdocs(spark, rows)
    idx = f"{tmp_index_root}/resume_bytes"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=2)  # 4 shards

    def table(name, order):
        df = spark.read.parquet(f"{idx}/{name}")
        return [tuple(r) for r in df.select(sorted(df.columns)).orderBy(*order).collect()]

    postings0 = table("postings", ("shard", "term"))
    doc_len0 = table("doc_len", ("shard",))
    shutil.rmtree(f"{idx}/postings/shard=0")
    shutil.rmtree(f"{idx}/doc_len/shard=2")
    m = load_manifest(idx)
    m["phase"] = "docs_done"
    with open(f"{idx}/_meta/manifest.json", "w") as f:
        json.dump(m, f)

    assert resume_build(spark, docs, tags, idx)["phase"] == "committed"
    assert table("postings", ("shard", "term")) == postings0
    assert table("doc_len", ("shard",)) == doc_len0


def test_duplicate_url_in_batch_fails_loudly(spark, base_index, tmp_index_root):
    """A url twice in one batch used to join into n² rows (an append
    counted 4 docs for 2 copies).  The segment kernel now meets the
    doc_id twice and raises before any table or the manifest is
    written; the index is untouched and the session keeps its confs."""
    idx, rows = base_index
    manifest = f"{idx}/_meta/manifest.json"
    with open(manifest) as f:
        before_m = f.read()

    def hits():
        return sorted((r["url"], r["score"]) for r in SearchEngine(spark, idx)
                      .search("request", None, "en", mode="bm25", k=10).collect())

    before = hits()
    docs2, tags2 = _mkdocs(spark, [rows[5], rows[5], rows[6]])
    with pytest.raises(Exception, match="more than once"):
        append_documents(spark, idx, docs2, tags2)
    docs_u, tags_u = _mkdocs(spark, [rows[0], rows[0]])
    with pytest.raises(Exception, match="more than once"):
        upsert_documents(spark, idx, docs_u, tags_u)
    # the rejected upsert leaves no staging dir behind
    assert not [d for d in os.listdir(idx) if d.startswith("_tmp_")]
    with open(manifest) as f:
        assert f.read() == before_m
    assert load_manifest(idx)["doc_count"] == 5
    assert hits() == before
    assert not os.path.exists(f"{idx}/_meta/_mutation_lock")

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    conf_before = spark.conf.get(key, None)
    ref = f"{tmp_index_root}/dup_build"
    shutil.rmtree(ref, ignore_errors=True)
    docs_d, tags_d = _mkdocs(spark, rows[:3] + rows[:1])
    with pytest.raises(Exception, match="more than once"):
        build_index(docs_d, tags_d, ref, docs_per_shard=2)
    assert not os.path.exists(f"{ref}/_meta/manifest.json")
    assert spark.conf.get(key, None) == conf_before


def test_mutations_reject_stale_format(spark, base_index):
    """Only SearchEngine used to check format_version; a mutation would
    write current-format shards into a stale index.  Every mutation
    entry point now rejects it and leaves the manifest as it was."""
    import json

    from watertower_spark.operators.maintenance import compact_index

    idx, rows = base_index
    path = f"{idx}/_meta/manifest.json"
    m = load_manifest(idx)
    m["format_version"] = 5
    with open(path, "w") as f:
        json.dump(m, f)
    with open(path) as f:
        before = f.read()
    docs2, tags2 = _mkdocs(spark, rows[5:])
    victims = spark.createDataFrame([(rows[0]["url"],)], "url string")
    for call in (
        lambda: append_documents(spark, idx, docs2, tags2),
        lambda: remove_documents(spark, idx, victims),
        lambda: upsert_documents(spark, idx, docs2, tags2),
        lambda: compact_index(spark, idx),
        lambda: resume_build(spark, docs2, tags2, idx),
    ):
        with pytest.raises(ValueError, match="format_version=5"):
            call()
    with open(path) as f:
        assert f.read() == before
    with pytest.raises(ValueError, match="format_version=5"):
        SearchEngine(spark, idx)


def test_appended_terms_outside_the_sampled_range(spark, base_index):
    """An append keeps the build's term_bounds: new terms that sort
    before the first boundary or after the last land in the first and
    last bucket, and a fresh engine resolves and prefix-expands them,
    by key and through Spark alike."""
    import bisect

    from watertower_spark.operators.index_build import table_path

    idx, rows = base_index
    bounds = load_manifest(idx)["term_bounds"]
    new = [dict(rows[5], url="new://low", text="Low\n\n0000aardvark 0000aardwolf"),
           dict(rows[6], url="new://high", text="High\n\nｚｚｚ ｚｚｙｘ")]
    docs2, tags2 = _mkdocs(spark, new)
    m = append_documents(spark, idx, docs2, tags2)
    assert m["term_bounds"] == bounds
    ts = spark.read.parquet(table_path(idx, m, "term_stats"))
    tb = {r["term"]: r["tb"] for r in ts.where(
        "term IN ('0000aardvark', 'ｚｚｚ')").collect()}
    assert tb == {"0000aardvark": 0, "ｚｚｚ": len(bounds)}
    assert bisect.bisect_right(bounds, "ｚｚｚ") == len(bounds)
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)
    for by_key in (True, False):
        eng = SearchEngine(spark, idx)
        if not by_key:
            eng.__dict__["_arrow_root"] = None
        for word, url in (("0000aardvark", "new://low"), ("ｚｚｚ", "new://high")):
            got = eng.search(word, None, "en", mode="bm25", k=5).collect()
            assert [r["url"] for r in got] == [url], (by_key, word)
        for prefix, url in (("0000aard", "new://low"), ("ｚｚ", "new://high")):
            got = eng.search_prefix(prefix, k=5).collect()
            assert [r["url"] for r in got] == [url], (by_key, prefix)


def _term_buckets(spark, idx):
    """term -> tb of the published term_stats, and the manifest."""
    from watertower_spark.operators.index_build import table_path

    m = load_manifest(idx)
    ts = spark.read.parquet(table_path(idx, m, "term_stats"))
    return {r["term"]: r["tb"] for r in ts.select("term", "tb").collect()}, m


def test_append_to_an_empty_index_spreads_its_terms(spark, tmp_index_root):
    """An index built from no documents samples no term_bounds; its
    first append re-samples them from the terms it brings, so they
    spread over the buckets instead of all landing in bucket 0."""
    import bisect

    idx = f"{tmp_index_root}/maint_empty_append"
    shutil.rmtree(idx, ignore_errors=True)
    docs0 = spark.createDataFrame([], corpus.DOC_SCHEMA)
    tags0 = spark.createDataFrame([], corpus.TAG_SCHEMA)
    assert build_index(docs0, tags0, idx, docs_per_shard=3)["term_bounds"] == []
    docs, tags = _mkdocs(spark, corpus.fixture_rows(("searchdata",)))
    append_documents(spark, idx, docs, tags)
    tb, m = _term_buckets(spark, idx)
    assert len(set(tb.values())) > 1
    assert all(b == bisect.bisect_right(m["term_bounds"], t) for t, b in tb.items())
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)
    term = min(tb)
    got = SearchEngine(spark, idx).search(term, None, "en", mode="bm25", k=3).collect()
    assert got


def test_skewed_append_resamples_the_term_bounds(spark, base_index, tmp_index_root):
    """Terms that sort past the last sampled boundary (another script)
    all land in the last bucket; once it outgrows its share of the
    table the mutation re-samples the boundaries from the whole
    vocabulary, as a fresh build over the same documents samples them,
    and a fresh engine reads the new layout by key and through Spark."""
    import bisect
    import random

    idx, rows = base_index
    _, m0 = _term_buckets(spark, idx)
    rng = random.Random(7)
    wide = set()
    while len(wide) < 4096:  # fullwidth "ｚ" + 5 fullwidth letters
        wide.add("ｚ" + "".join(chr(0xFF41 + rng.randrange(26)) for _ in range(5)))
    words = " ".join(sorted(wide))
    new = [dict(rows[5], url="new://wide", text="Wide\n\n" + words)]
    docs2, tags2 = _mkdocs(spark, new)
    m = append_documents(spark, idx, docs2, tags2)
    tb, _ = _term_buckets(spark, idx)
    assert wide <= set(tb)
    wide = sorted(wide)
    assert all(bisect.bisect_right(m0["term_bounds"], t) == len(m0["term_bounds"])
               for t in wide)  # all past the build's last boundary
    assert m["term_bounds"] != m0["term_bounds"]
    assert len({tb[t] for t in wide}) > 1
    assert all(b == bisect.bisect_right(m["term_bounds"], t) for t, b in tb.items())
    assert _ts_published(spark, idx) == _ts_recomputed(spark, idx)
    ref = f"{tmp_index_root}/maint_skew_ref"
    shutil.rmtree(ref, ignore_errors=True)
    docs_f, tags_f = _mkdocs(spark, rows[:5] + new)
    assert build_index(docs_f, tags_f, ref, docs_per_shard=3)["term_bounds"] == m["term_bounds"]
    for by_key in (True, False):
        eng = SearchEngine(spark, idx)
        if not by_key:
            eng.__dict__["_arrow_root"] = None
        got = eng.search(wide[123], None, "en", mode="bm25", k=5).collect()
        assert [r["url"] for r in got] == ["new://wide"], by_key
        got = eng.search_prefix("ｚ", k=5).collect()
        assert [r["url"] for r in got] == ["new://wide"], by_key


def test_resume_samples_the_builds_term_bounds(spark, base_index):
    """A build interrupted before its commit has no term_bounds in its
    manifest; resume samples them from the same vocabulary with the
    same deterministic sketch, so every term lands in the bucket the
    uninterrupted build gave it."""
    import json

    from watertower_spark.operators.index_build import table_path

    idx, rows = base_index
    m = load_manifest(idx)

    def buckets(m_):
        ts = spark.read.parquet(table_path(idx, m_, "term_stats"))
        return sorted((r["term"], r["tb"]) for r in ts.select("term", "tb").collect())

    before = buckets(m)
    bounds = m.pop("term_bounds")
    m["phase"] = "docs_done"
    with open(f"{idx}/_meta/manifest.json", "w") as f:
        json.dump(m, f)
    docs, tags = _mkdocs(spark, rows[:5])
    m2 = resume_build(spark, docs, tags, idx)
    assert m2["term_bounds"] == bounds
    assert buckets(m2) == before


def test_v6_index_is_rejected(spark, tmp_path):
    """A v6 index buckets term_stats by hash, which the v7 reader would
    read as term ranges: the engine and a mutation reject it unread."""
    import json

    idx = str(tmp_path / "v6")
    os.makedirs(f"{idx}/_meta")
    with open(f"{idx}/_meta/manifest.json", "w") as f:
        json.dump({"format_version": 6}, f)
    docs, tags = _mkdocs(spark, corpus.fixture_rows(("searchdata",))[:1])
    with pytest.raises(ValueError, match="format_version=6"):
        SearchEngine(spark, idx)
    with pytest.raises(ValueError, match="format_version=6"):
        append_documents(spark, idx, docs, tags)
    assert os.listdir(f"{idx}/_meta") == ["manifest.json"]
