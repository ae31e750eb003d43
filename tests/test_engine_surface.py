"""Engine API surface added in round 2: unique-key lookup (Q10),
metadata/updated_at passthrough, JSON document-folder ingestion (S7),
single-file index export/import (storage.go:390-418)."""

import datetime as dt
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from watertower_spark.operators.index_build import build_index
from watertower_spark.operators.search import SearchEngine
from watertower_spark.sources import corpus

_EPOCH = dt.datetime(2021, 6, 1, tzinfo=dt.timezone.utc)


@pytest.fixture(scope="module")
def rich_index(spark, tmp_index_root):
    """Index over docs that carry metadata + updated_at extras."""
    rows = [
        (
            f"ex://{i:03d}",
            _EPOCH,
            b"<html/>",
            f"Title {i}\n\nbody words alpha beta doc{i} common",
            "en",
            {"source": f"s{i % 2}", "rank": str(i)},
            _EPOCH + dt.timedelta(days=i),
        )
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string, "
        "metadata map<string,string>, updated_at timestamp",
    )
    tags = docs.select("url", F.array(F.lit("all")).alias("tags"))
    idx = f"{tmp_index_root}/rich_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=4)
    return idx


def test_find_by_key_and_unique_key_prefix(spark, rich_index):
    eng = SearchEngine(spark, rich_index)
    hit = eng.find_by_key("ex://003").collect()
    assert len(hit) == 1
    assert hit[0]["url"] == "ex://003"
    assert hit[0]["score"] == 0.0
    assert "doc3" in hit[0]["text"]
    # the `unique_key:` query prefix routes to the same path
    # (handlers.go:100-145)
    via_q = eng.search("unique_key:ex://003").collect()
    assert [r["url"] for r in via_q] == ["ex://003"]
    # miss → empty frame with the same schema
    miss = eng.find_by_key("ex://nope")
    assert miss.count() == 0
    assert miss.columns == eng.find_by_key("ex://003").columns


def test_metadata_and_updated_at_roundtrip(spark, rich_index):
    """Reference Document carries metadata map + updated_at
    (entity.go:9-24); both must survive doc_store and surface in
    materialized results."""
    eng = SearchEngine(spark, rich_index)
    res = eng.search("doc4", None, "en", mode="bm25", k=3).collect()
    assert len(res) == 1
    r = res[0]
    assert r["metadata"] == {"source": "s0", "rank": "4"}
    # collect() returns session-tz-naive datetimes; compare instants
    assert r["updated_at"].replace(tzinfo=dt.timezone.utc) == _EPOCH + dt.timedelta(days=4)
    # and through the key-lookup path too
    k = eng.find_by_key("ex://004").collect()[0]
    assert k["metadata"]["rank"] == "4"


def test_json_doc_dir_ingestion(spark, tmp_index_root):
    """S7: reference CLI create-index over a folder of Document JSON
    files (cmd/watertower-cli/main.go:53-81): unique_key defaults to the
    file path, force-language overrides lang."""
    src = f"{tmp_index_root}/json_docs"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(f"{src}/sub", exist_ok=True)
    docs_json = [
        ("a.json", {"unique_key": "k/alpha", "title": "Alpha Doc",
                    "content": "quick brown fox content", "lang": "en",
                    "tags": ["t1"], "metadata": {"m": "1"}}),
        ("b.json", {"title": "Beta Doc",  # no unique_key → path
                    "content": "lazy dog content", "lang": "en"}),
        ("sub/c.json", {"unique_key": "k/gamma", "title": "Gamma",
                        "content": "unrelated words", "lang": ""}),
    ]
    for name, payload in docs_json:
        with open(f"{src}/{name}", "w", encoding="utf-8") as f:
            json.dump(payload, f)
    # unparseable file: the reference CLI skips it (main.go:66-70)
    with open(f"{src}/broken.json", "w") as f:
        f.write("{not valid json")
    # schema-invalid docs (document-schema.json: title/content/lang are
    # required) must be REJECTED with a reason, not silently indexed as
    # partial documents (swagger 400-on-invalid; round-2 verdict gap)
    with open(f"{src}/no_content.json", "w") as f:
        json.dump({"unique_key": "k/partial", "title": "No Body", "lang": "en"}, f)
    with open(f"{src}/no_lang.json", "w") as f:
        json.dump({"unique_key": "k/nolang", "title": "T", "content": "c"}, f)

    docs, tags, rejects = corpus.read_json_doc_dir(spark, src, with_rejects=True)
    got = {r["url"]: r for r in docs.collect()}
    assert len(got) == 3  # broken + invalid skipped, not indexed as junk
    assert "k/partial" not in got and "k/nolang" not in got
    rej = {os.path.basename(r["path"]): r["reason"] for r in rejects.collect()}
    assert rej["broken.json"] == "unparseable JSON"
    assert rej["no_content.json"] == "missing required field: content"
    assert rej["no_lang.json"] == "missing required field: lang"
    assert len(rej) == 3
    # --force-language supplies lang, so only the structural rejects stay
    _, _, rej2 = corpus.read_json_doc_dir(spark, src, force_language="en",
                                          with_rejects=True)
    names2 = {os.path.basename(r["path"]) for r in rej2.collect()}
    assert "no_lang.json" not in names2 and "no_content.json" in names2
    assert "k/alpha" in got and "k/gamma" in got
    # defaulted unique_key is the file path
    path_keys = [u for u in got if u.endswith("b.json")]
    assert len(path_keys) == 1
    assert got["k/alpha"]["text"] == "Alpha Doc\n\nquick brown fox content"
    assert got["k/alpha"]["metadata"] == {"m": "1"}
    tag_map = {r["url"]: r["tags"] for r in tags.collect()}
    assert tag_map["k/alpha"] == ["t1"]
    assert tag_map["k/gamma"] == []

    # force-language (the --force-language flag)
    forced, _ = corpus.read_json_doc_dir(spark, src, force_language="en")
    assert {r["lang"] for r in forced.collect()} == {"en"}

    # and the folder builds + searches end-to-end
    idx = f"{tmp_index_root}/json_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=4)
    eng = SearchEngine(spark, idx)
    assert [r["url"] for r in eng.search("fox", None, "en").collect()] == ["k/alpha"]


def test_export_import_roundtrip(spark, tmp_index_root):
    """Single-file deployment mode (WriteIndex/ReadIndex,
    storage.go:390-418): export → import → identical search results."""
    from watertower_spark.operators.bundle import export_index, import_index

    rows = corpus.fixture_rows(("searchdata",))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA,
    )
    tags = spark.createDataFrame(
        [(r["url"], r["tags"]) for r in rows], schema=corpus.TAG_SCHEMA
    )
    idx = f"{tmp_index_root}/bundle_src"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3)

    bundle = f"{tmp_index_root}/index.wtidx"
    export_index(idx, bundle)
    assert os.path.getsize(bundle) > 0

    dest = f"{tmp_index_root}/bundle_dst"
    shutil.rmtree(dest, ignore_errors=True)
    import_index(bundle, dest)

    eng_a = SearchEngine(spark, idx)
    eng_b = SearchEngine(spark, dest)
    for q, tg, mode in [("request", None, "parity"), ("server", None, "bm25"),
                        ("", ["NoBody"], "parity")]:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in eng_a.search(q, tg, "en", mode=mode, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in eng_b.search(q, tg, "en", mode=mode, k=10).collect()]
        assert a == b and a


def test_export_after_mutations_roundtrip(spark, tmp_index_root):
    """Round-2 verdict #9: export_index walks a live dir — after
    remove/upsert the index carries VERSIONED table dirs (term_stats_vN,
    doc_map_vN) resolved via manifest pointers.  The bundle must import
    to identical search results, with superseded/_tmp dirs excluded or
    harmless."""
    import zipfile

    from watertower_spark.operators.bundle import export_index, import_index
    from watertower_spark.operators.index_build import load_manifest
    from watertower_spark.operators.maintenance import (
        remove_documents,
        upsert_documents,
    )

    rows = corpus.fixture_rows(("searchdata",))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA,
    )
    tags = spark.createDataFrame(
        [(r["url"], r["tags"]) for r in rows], schema=corpus.TAG_SCHEMA
    )
    idx = f"{tmp_index_root}/bundle_mut_src"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, docs_per_shard=3)

    # mutate: one removal + one upsert → versioned replaced tables
    remove_documents(
        spark, idx,
        spark.createDataFrame([("fixture://search/100 Continue",)], "url string"),
    )
    target = next(r for r in rows if r["url"].endswith("200 OK"))
    changed = {**target, "text": target["text"] + " xylophone addendum."}
    d2 = spark.createDataFrame(
        [(changed["url"], changed["warc_ts"], changed["html"], changed["text"],
          changed["lang"])], schema=corpus.DOC_SCHEMA)
    t2 = spark.createDataFrame([(changed["url"], changed["tags"])],
                               schema=corpus.TAG_SCHEMA)
    upsert_documents(spark, idx, d2, t2)
    m = load_manifest(idx)
    assert any("_v" in v for v in m.get("tables", {}).values())  # versioned

    bundle = f"{tmp_index_root}/index_mut.wtidx"
    export_index(idx, bundle)
    # no transient dirs leak into the artifact; the live versioned
    # dirs (pointed to by the manifest) are present
    names = zipfile.ZipFile(bundle).namelist()
    assert not any(n.startswith("_tmp") for n in names)
    for v in m.get("tables", {}).values():
        assert any(n.startswith(v + "/") for n in names), v

    dest = f"{tmp_index_root}/bundle_mut_dst"
    shutil.rmtree(dest, ignore_errors=True)
    import_index(bundle, dest)
    eng_a = SearchEngine(spark, idx)
    eng_b = SearchEngine(spark, dest)
    for q, tg, mode, op in [("request", None, "parity", "and"),
                            ("xylophone", None, "bm25", "and"),
                            ("server request", None, "bm25", "or"),
                            ("", ["NoBody"], "parity", "and")]:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in eng_a.search(q, tg, "en", mode=mode, operator=op, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in eng_b.search(q, tg, "en", mode=mode, operator=op, k=10).collect()]
        assert a == b and a, (q, tg, mode, op)
    # the removed doc stays gone through the round-trip
    assert eng_b.search("interim", None, "en").count() == 0


def test_es_shaped_search_response(spark, rich_index):
    """The reference's /_search payload shape (handlers.go:92-183):
    took/hits.hits[{_id,_index,_type,_score,_source}]/max_score/total."""
    from watertower_spark.operators.response import search_response

    eng = SearchEngine(spark, rich_index)
    # lang plays the ES request's `analyzer` field (handlers.go:152-155)
    resp = search_response(eng, "doc4", lang="en", index_name="rich")
    assert resp["timed_out"] is False and resp["took"] >= 0
    hits = resp["hits"]
    assert hits["total"]["value"] == 1 and len(hits["hits"]) == 1
    h = hits["hits"][0]
    assert h["_type"] == "_doc" and h["_index"] == "rich"
    assert h["_id"].startswith("d") and int(h["_id"][1:], 16) >= 1
    assert h["_score"] == hits["max_score"] > 0
    src = h["_source"]
    assert src["unique_key"] == "ex://004"
    assert src["title"] == "Title 4"
    assert src["content"].startswith("body words")
    assert src["metadata"]["rank"] == "4"


def test_fsio_scheme_paths_route_through_hadoop_fs(spark, tmp_index_root):
    """fsio must handle scheme'd paths via the Hadoop FileSystem API —
    exercised here with file:// (the same code path an s3a:// index
    would take through its connector)."""
    from watertower_spark.functions import fsio

    base = f"file://{tmp_index_root}/fsio_probe"
    fsio.write_text(f"{base}/_meta/manifest.json", '{"x": 1}')
    assert fsio.exists(f"{base}/_meta/manifest.json")
    assert fsio.read_json(f"{base}/_meta/manifest.json") == {"x": 1}
    fsio.append_line(f"{base}/_meta/log.jsonl", '{"op": "a"}')
    fsio.append_line(f"{base}/_meta/log.jsonl", '{"op": "b"}')
    assert fsio.read_text(f"{base}/_meta/log.jsonl").splitlines() == [
        '{"op": "a"}', '{"op": "b"}'
    ]
    # shard-dir listing + recursive delete through the same API
    local = f"{tmp_index_root}/fsio_probe/t"
    os.makedirs(f"{local}/shard=3", exist_ok=True)
    with open(f"{local}/shard=3/part-0.parquet", "wb") as f:
        f.write(b"x")
    os.makedirs(f"{local}/shard=4", exist_ok=True)  # no data files
    assert fsio.list_shard_dirs(f"file://{local}") == [3]
    fsio.delete_dir(f"file://{local}/shard=3")
    assert not fsio.exists(f"{base}/t/shard=3")
    assert fsio.read_json(f"{base}/_meta/manifest.json") == {"x": 1}


def test_get_doc_by_docid(spark, rich_index):
    """GET _doc/{id} semantics (handlers.go:24-56): docID lookup, both
    int and the reference's d<hex> string encoding."""
    eng = SearchEngine(spark, rich_index)
    # resolve a known doc's id via its key first
    did = eng.find_by_key("ex://002").collect()[0]["doc_id"]
    for ref in (did, f"d{did:x}"):
        got = eng.get_doc(ref).collect()
        assert len(got) == 1 and got[0]["url"] == "ex://002"
        assert got[0]["metadata"]["rank"] == "2"
    assert eng.get_doc(999999).count() == 0
    with pytest.raises(ValueError):
        eng.get_doc("x123")


# --------------------------------------------------- prefix search + facets


@pytest.fixture(scope="module")
def tagged_index(spark, tmp_index_root):
    """8 docs, alternating parity tags p0/p1 plus a shared 'all' tag —
    the fixture for the prefix-search and facet-aggregation surfaces."""
    rows = [
        (
            f"tg://{i:03d}",
            _EPOCH,
            None,
            f"t{i}\n\nshared doc{i} " + ("red apple" if i % 2 == 0 else "blue berry"),
            "en",
        )
        for i in range(8)
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    tags = docs.select(
        "url",
        F.array(
            F.lit("all"),
            F.concat(F.lit("p"), (F.substring("url", 6, 3).cast("int") % 2).cast("string")),
        ).alias("tags"),
    )
    idx = f"{tmp_index_root}/tagged_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, analyzer_lang="en", docs_per_shard=3)
    return idx


def test_search_prefix_expansion(spark, tagged_index):
    """doc* expands in the term dictionary (doc0..doc7), scores
    disjunctively, and normalizes the raw prefix input."""
    eng = SearchEngine(spark, tagged_index)
    res = eng.search_prefix("doc", k=10).collect()
    assert {r["url"] for r in res} == {f"tg://{i:03d}" for i in range(8)}
    assert all(r["score"] > 0 for r in res)
    # trailing '*' and case are normalized away
    res2 = eng.search_prefix("DOC*", k=10).collect()
    assert [r["doc_id"] for r in res2] == [r["doc_id"] for r in res]
    # no dictionary match / empty prefix → empty result, schema intact
    assert eng.search_prefix("zzz", k=5).count() == 0
    assert eng.search_prefix("", k=5).count() == 0
    assert eng.search_prefix("*", k=5).count() == 0


def test_search_prefix_expansion_cap_is_deterministic(spark, tagged_index):
    """max_expansions keeps the (df DESC, term ASC) leaders: with every
    doc{i} term at df=1 the tie-break is lexicographic, so cap=3 keeps
    doc0, doc1, doc2 exactly."""
    eng = SearchEngine(spark, tagged_index)
    capped = eng.search_prefix("doc", k=10, max_expansions=3).collect()
    assert {r["url"] for r in capped} == {"tg://000", "tg://001", "tg://002"}
    # a high-df expansion ('shared', df=8) outranks the doc{i} singletons
    one = eng.search_prefix("sh", k=10, max_expansions=1).collect()
    assert len(one) == 8


def test_search_prefix_tag_filter_conjunctive(spark, tagged_index):
    """Filter tags stay conjunctive under prefix expansion (ES bool
    filter semantics): doc* + tag p1 → odd docs only."""
    eng = SearchEngine(spark, tagged_index)
    res = eng.search_prefix("doc", tags=["p1"], k=10).collect()
    assert {r["url"] for r in res} == {f"tg://{i:03d}" for i in range(1, 8, 2)}
    assert eng.search_prefix("doc", tags=["nope"], k=10).count() == 0


def test_facet_tags_counts_and_order(spark, tagged_index):
    """Facet counts cover the FULL match set (not top-k), order by
    doc_count DESC then tag ASC, and honor size."""
    eng = SearchEngine(spark, tagged_index)
    got = [(r["tag"], r["doc_count"]) for r in eng.facet_tags("shared").collect()]
    assert got == [("all", 8), ("p0", 4), ("p1", 4)]
    # a parity-restricted query counts only matching docs; ties break by tag
    got_red = [(r["tag"], r["doc_count"]) for r in eng.facet_tags("red").collect()]
    assert got_red == [("all", 4), ("p0", 4)]
    # size bounds the row count after ordering
    got_1 = [(r["tag"], r["doc_count"]) for r in eng.facet_tags("shared", size=1).collect()]
    assert got_1 == [("all", 8)]
    # no match → no facet rows
    assert eng.facet_tags("zzzmissing").count() == 0


def test_facet_field_histogram_cardinality(spark, tagged_index):
    """Column-valued terms agg, wc histogram and cardinality agg over
    the full parity match set (ES aggregation siblings of facet_tags)."""
    import collections

    eng = SearchEngine(spark, tagged_index)
    # terms over a doc_store column: every match is lang=en
    got = [(r["key"], r["doc_count"])
           for r in eng.facet_field("shared", field="lang").collect()]
    assert got == [("en", 8)]
    got_red = [(r["key"], r["doc_count"])
               for r in eng.facet_field("red", field="lang").collect()]
    assert got_red == [("en", 4)]
    # histogram buckets are floor(wc/interval)*interval, key ASC, and
    # partition the match set exactly (cross-checked against doc_stats)
    wcs = {int(r["doc_id"]): int(r["wc"]) for r in eng.doc_stats.collect()}
    match = [int(r["doc_id"])
             for r in eng.search("shared", mode="parity",
                                 materialize=False).collect()]
    exp = sorted(collections.Counter((wcs[d] // 4) * 4 for d in match).items())
    got_h = [(int(r["key"]), int(r["doc_count"]))
             for r in eng.histogram_wc("shared", interval=4).collect()]
    assert got_h == exp and sum(c for _, c in got_h) == len(match)
    # cardinality: exact distinct count over tags sidecar or a column
    assert eng.facet_cardinality("shared", field="tags") == 3  # all,p0,p1
    assert eng.facet_cardinality("red", field="tags") == 2     # all,p0
    assert eng.facet_cardinality("shared", field="lang") == 1
    assert eng.facet_cardinality("zzzmissing", field="lang") == 0
    # loud contract violations
    with pytest.raises(ValueError):
        eng.facet_field("shared", field="nope")
    with pytest.raises(ValueError):
        eng.histogram_wc("shared", interval=0)
    with pytest.raises(ValueError):
        eng.facet_cardinality("shared", field="nope")


def test_facet_tags_without_tag_sidecar(spark, tmp_index_root):
    """An index built with no tags answers facets with an empty frame."""
    docs = spark.createDataFrame(
        [("nt://0", _EPOCH, None, "x\n\nalpha", "en"),
         ("nt://1", _EPOCH, None, "y\n\nalpha", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    idx = f"{tmp_index_root}/notag_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, None, idx, analyzer_lang="en", docs_per_shard=4)
    eng = SearchEngine(spark, idx)
    out = eng.facet_tags("alpha")
    assert out.columns == ["tag", "doc_count"]
    assert out.count() == 0


def test_search_fuzzy_expansion_and_cap(spark, tagged_index):
    """Fuzzy expansion scans the dictionary with levenshtein <= d; cap
    order is (distance ASC, df DESC, term ASC)."""
    eng = SearchEngine(spark, tagged_index)
    # 'rad' ~1~ 'red' → the four even docs
    res = eng.search_fuzzy("rad", max_edits=1, k=10).collect()
    assert {r["url"] for r in res} == {f"tg://{i:03d}" for i in range(0, 8, 2)}
    # exact word still matches at distance 0
    assert len(eng.search_fuzzy("red", max_edits=1, k=10).collect()) == 4
    # cap keeps distance-0 first, then df/term order: 'doc1' + 'doc0'
    capped = eng.search_fuzzy("doc1", max_edits=1, k=10, max_expansions=2).collect()
    assert {r["url"] for r in capped} == {"tg://000", "tg://001"}
    # no dictionary term within distance → empty
    assert eng.search_fuzzy("qqqqqq", max_edits=1, k=5).count() == 0
    # conjunctive tag filter
    odd = eng.search_fuzzy("doc1", max_edits=1, tags=["p1"], k=10).collect()
    assert {r["url"] for r in odd} == {f"tg://{i:03d}" for i in range(1, 8, 2)}


def test_get_docs_batch(spark, tagged_index):
    """ES _mget's engine half: N ids in ONE shard-pruned scan; missing
    ids produce no row; d<hex> and int forms both accepted; plan prunes
    to the touched shards only."""
    eng = SearchEngine(spark, tagged_index)
    ids = [r["doc_id"] for r in eng.find_by_key("tg://002").collect()] \
        + [r["doc_id"] for r in eng.find_by_key("tg://005").collect()]
    got = eng.get_docs(ids + [999999]).collect()
    assert {r["url"] for r in got} == {"tg://002", "tg://005"}
    assert all(r["score"] == 0.0 for r in got)
    # d<hex> form resolves to the same docs
    hex_got = eng.get_docs([f"d{ids[0]:x}"]).collect()
    assert hex_got[0]["url"] == "tg://002"
    # bad form raises
    with pytest.raises(ValueError, match="hex"):
        eng.get_docs(["x42"])
    # empty id list → empty frame, same schema, no job surprises
    assert eng.get_docs([]).count() == 0
    # the driver reads the ids by key: a local relation, no scan
    plan = eng.get_docs(ids)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "FileScan" not in plan
    # on an index pyarrow cannot open, the scan prunes doc_store
    # partitions on the shard column: the physical plan carries a shard
    # PartitionFilter (inputFiles() lists pre-pruning files, so pin the
    # plan instead)
    eng.__dict__["_arrow_root"] = None
    plan = (eng.get_docs(ids)._jdf.queryExecution()
            .executedPlan().toString())
    assert "PartitionFilters" in plan
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "shard" in pf_line and "IN" in pf_line.upper()


def test_bm25_paging_slices_the_total_order(spark, tagged_index):
    """offset/k pages tile the full ranking without overlap or gaps,
    for both the AND kernel and the OR kernel."""
    eng = SearchEngine(spark, tagged_index)
    full = [(r["doc_id"], r["score"]) for r in
            eng.search("shared", mode="bm25", k=8).collect()]
    pages = []
    for off in (0, 3, 6):
        pages += [(r["doc_id"], r["score"]) for r in
                  eng.search("shared", mode="bm25", k=3, offset=off).collect()]
    assert pages == full
    # OR path pages the same way
    full_or = [r["doc_id"] for r in
               eng.search("shared red", mode="bm25", operator="or", k=8).collect()]
    paged_or = []
    for off in (0, 4):
        paged_or += [r["doc_id"] for r in
                     eng.search("shared red", mode="bm25", operator="or",
                                k=4, offset=off).collect()]
    assert paged_or == full_or
    # paging past the end is empty, not an error
    assert eng.search("shared", mode="bm25", k=5, offset=100).count() == 0


def test_count_matches_parity_cardinality(spark, tagged_index):
    eng = SearchEngine(spark, tagged_index)
    assert eng.count("shared") == 8
    assert eng.count("red") == 4
    assert eng.count("shared", tags=["p1"]) == 4
    assert eng.count("nosuchword") == 0


def test_index_stats_shape(spark, tagged_index):
    eng = SearchEngine(spark, tagged_index)
    st = eng.stats()
    assert st["doc_count"] == 8
    assert st["n_shards"] == 3
    assert st["degraded_shards"] == []
    assert st["size_in_bytes"] > 0
    for t in ("postings", "doc_store", "doc_stats", "doc_len", "tags",
              "doc_map", "term_stats"):
        assert st["tables"][t] > 0, t
    assert st["size_in_bytes"] == sum(st["tables"].values())


def test_highlight_snippets(spark, tagged_index):
    """Window snippets mark every analyzed-query-token match inside the
    window around the first hit; stemming analyzers match surface forms
    via their stems."""
    eng = SearchEngine(spark, tagged_index)
    rows = eng.highlight("shared", lang="en", k=3, window=2).collect()
    assert [r["snippet"] for r in rows] == [
        "t0 <em>shared</em> doc0 red",
        "t1 <em>shared</em> doc1 blue",
        "t2 <em>shared</em> doc2 red",
    ]
    # multi-term query: all matched tokens in the window are wrapped
    rows2 = eng.highlight("red apple", lang="en", k=2, window=1).collect()
    assert all(r["snippet"].endswith("<em>red</em> <em>apple</em>")
               for r in rows2)
    # the full materialized row rides along (text, lang, score)
    assert {"doc_id", "url", "score", "text", "lang", "snippet"} <= set(
        rows[0].asDict()
    )


def _pairs(rows):
    return [(r["url"], round(r["score"], 9)) for r in rows]


def test_must_not_term_exclusion_and_kernel(spark, tagged_index):
    """ES bool.must_not over the AND kernel: excluded-term docs leave
    the match set before scoring/top-k; survivors keep their exact
    baseline scores (exclusion must never perturb scoring)."""
    eng = SearchEngine(spark, tagged_index)
    full = eng.search("shared", lang="en", mode="bm25", k=8).collect()
    red_urls = {r["url"] for r in
                eng.search("red", lang="en", mode="bm25", k=8).collect()}
    got = eng.search("shared", lang="en", mode="bm25", k=8,
                     exclude_words="red").collect()
    assert _pairs(got) == [p for p in _pairs(full) if p[0] not in red_urls]
    assert {r["url"] for r in got} == {f"tg://{i:03d}" for i in (1, 3, 5, 7)}
    # parity mode + count() thread the exclusion too
    assert eng.count("shared", lang="en", exclude_words="red") == 4
    # a term that is both required and excluded ⇒ empty
    assert eng.search("shared", lang="en", mode="bm25", k=8,
                      exclude_words="shared").count() == 0
    # excluding a term absent from the index is a no-op
    same = eng.search("shared", lang="en", mode="bm25", k=8,
                      exclude_words="zzzmissing").collect()
    assert _pairs(same) == _pairs(full)


def test_must_not_tag_exclusion_and_or_kernel(spark, tagged_index):
    """Tag exclusion on the AND kernel, and word/tag exclusion on the
    disjunctive maxscore kernel (exclusion applies at posting-decode
    time, so θ pruning stays exact: surviving docs keep their exact
    unexcluded scores)."""
    eng = SearchEngine(spark, tagged_index)
    # AND kernel, exclude the even-parity tag
    got = eng.search("shared", lang="en", mode="bm25", k=8,
                     exclude_tags=["p0"]).collect()
    assert {r["url"] for r in got} == {f"tg://{i:03d}" for i in (1, 3, 5, 7)}
    # a tag that is both filtered-on and excluded ⇒ empty
    assert eng.search("shared", tags=["p1"], lang="en", mode="bm25", k=8,
                      exclude_tags=["p1"]).count() == 0
    # OR kernel with tag exclusion: odd docs keep identical scores
    full_or = eng.search("shared red", lang="en", mode="bm25",
                         operator="or", k=8).collect()
    odd = [p for p in _pairs(full_or)
           if int(p[0][5:]) % 2 == 1]
    got_or = eng.search("shared red", lang="en", mode="bm25",
                        operator="or", k=8, exclude_tags=["p0"]).collect()
    assert _pairs(got_or) == odd
    # OR kernel with word exclusion: the excluded term also leaves the
    # scored disjunction, so survivors score over 'shared' alone
    shared_only = {p[0]: p[1] for p in _pairs(
        eng.search("shared", lang="en", mode="bm25", k=8).collect())}
    got_w = eng.search("shared red", lang="en", mode="bm25",
                       operator="or", k=8, exclude_words="red").collect()
    assert {r["url"] for r in got_w} == {f"tg://{i:03d}" for i in (1, 3, 5, 7)}
    assert all(round(r["score"], 9) == shared_only[r["url"]] for r in got_w)


def test_msearch_batches_equal_per_query_results(spark, tagged_index):
    """ES _msearch batch path: heterogeneous queries (AND/parity/OR,
    exclusions, a no-match) in ONE DAG return exactly what each query
    returns alone, keyed by qid in line order."""
    eng = SearchEngine(spark, tagged_index)
    specs = [
        {"word": "shared", "lang": "en", "mode": "bm25", "k": 3},
        {"word": "red apple", "lang": "en", "mode": "parity"},
        {"word": "shared red", "lang": "en", "mode": "bm25",
         "operator": "or", "k": 5, "exclude_tags": ["p0"]},
        {"word": "nosuchword", "lang": "en", "mode": "bm25", "k": 5},
        {"word": "shared", "lang": "en", "mode": "bm25", "k": 8,
         "exclude_words": "red"},
        {"word": "shared", "tags": ["p1"], "lang": "en", "mode": "parity"},
    ]
    rows = eng.msearch(specs).collect()
    by_qid: dict = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], round(r["score"], 9)))
    singles = [
        eng.search("shared", lang="en", mode="bm25", k=3),
        eng.search("red apple", lang="en", mode="parity"),
        eng.search("shared red", lang="en", mode="bm25", operator="or",
                   k=5, exclude_tags=["p0"]),
        eng.search("nosuchword", lang="en", mode="bm25", k=5),
        eng.search("shared", lang="en", mode="bm25", k=8,
                   exclude_words="red"),
        eng.search("shared", tags=["p1"], lang="en", mode="parity"),
    ]
    for qid, df in enumerate(singles):
        exp = [(r["url"], round(r["score"], 9)) for r in df.collect()]
        assert by_qid.get(qid, []) == exp, f"qid {qid}"
    assert 3 not in by_qid  # the no-match query contributes nothing
    # results arrive qid-major in the DataFrame's declared order
    assert [r["qid"] for r in rows] == sorted(r["qid"] for r in rows)


def test_zero_doc_index_loads_and_serves_empty(spark, tmp_index_root):
    """A zero-doc index (created empty, or emptied by delete_by_query)
    must LOAD — empty table dirs fall back to canonical schemas — and
    serve empty results on every read path; a subsequent append makes
    it a normal index."""
    from watertower_spark.operators.maintenance import append_documents

    docs0 = spark.createDataFrame([], corpus.DOC_SCHEMA)
    tags0 = spark.createDataFrame([], corpus.TAG_SCHEMA)
    idx = f"{tmp_index_root}/zero_idx"
    shutil.rmtree(idx, ignore_errors=True)
    m = build_index(docs0, tags0, idx, default_lang="en", docs_per_shard=3)
    assert m["doc_count"] == 0
    eng = SearchEngine(spark, idx)
    assert eng.search("anything", None, "en").count() == 0
    assert eng.search("anything", None, "en", mode="bm25", k=5).count() == 0
    assert eng.search("x", None, "en", mode="bm25", operator="or", k=5).count() == 0
    assert eng.find_by_key("nope://x").count() == 0
    assert eng.get_docs([1, 2]).count() == 0
    assert eng.count("anything") == 0
    assert eng.search_prefix("any").count() == 0
    assert eng.search_fuzzy("anything").count() == 0
    # grows into a normal index
    rows = corpus.fixture_rows(("searchdata",))[:3]
    d2 = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA)
    t2 = spark.createDataFrame([(r["url"], r["tags"]) for r in rows],
                               schema=corpus.TAG_SCHEMA)
    m2 = append_documents(spark, idx, d2, t2)
    assert m2["doc_count"] == 3
    eng2 = SearchEngine(spark, idx)
    assert eng2.search("the", None, "en").count() > 0


def test_delete_by_query_to_empty_then_reload(spark, tmp_index_root):
    """Emptying an index via delete_by_query leaves it loadable and
    serving empty results (the read-path half of the zero-doc fix)."""
    rows = corpus.fixture_rows(("searchdata",))[:4]
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=corpus.DOC_SCHEMA)
    tags = spark.createDataFrame([(r["url"], r["tags"]) for r in rows],
                                 schema=corpus.TAG_SCHEMA)
    idx = f"{tmp_index_root}/empty_by_dbq"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(docs, tags, idx, default_lang="en", docs_per_shard=2)
    eng = SearchEngine(spark, idx)
    n = eng.delete_by_query("the", lang="en")  # 'the' matches every doc
    assert n == 4
    eng2 = SearchEngine(spark, idx)
    assert int(eng2.manifest["doc_count"]) == 0
    assert eng2.search("the", None, "en").count() == 0
    assert eng2.search("the", None, "en", mode="bm25", k=5).count() == 0


def test_term_buckets_are_term_ranges(spark, rich_index):
    """term_stats's bucket of a term is its range under the manifest's
    term_bounds: the Spark column (``term_bucket_col``) the writers use
    equals Python's ``bisect_right`` the reader uses, for every term of
    the index, for the boundaries themselves and for strings outside
    and between them (empty, non-ASCII, an astral-plane character).
    UTF-8 byte order, Spark's string order, is code-point order."""
    import bisect

    from watertower_spark.operators.index_build import (
        load_manifest,
        table_path,
        term_bucket_col,
    )

    m = load_manifest(rich_index)
    bounds = m["term_bounds"]
    assert bounds == sorted(bounds) and len(bounds) > 1
    ts = spark.read.parquet(table_path(rich_index, m, "term_stats"))
    stored = {r["term"]: r["tb"] for r in ts.select("term", "tb").collect()}
    assert {t: bisect.bisect_right(bounds, t) for t in stored} == stored
    edge = ["", "\x00", "naïve", "日本語", "\U0001d11e", "\uffff\U0010ffff", "zzz",
            bounds[0][:-1], bounds[-1] + "\U0010ffff", *bounds,
            *(b + "é" for b in bounds)]
    got = (spark.createDataFrame([(t,) for t in edge], "term string")
           .select("term", term_bucket_col(spark, bounds)).collect())
    assert [(r["term"], r["tb"]) for r in got] == [
        (t, bisect.bisect_right(bounds, t)) for t in edge]
    assert {bisect.bisect_right(bounds, t) for t in edge} >= {0, len(bounds)}


def test_term_stats_buckets_sorted_by_term(spark, rich_index):
    """r6 optimization pin: term_stats bucket files are written sorted
    by term, so parquet row-group min/max statistics can prune prefix/
    fuzzy dictionary scans (round-5 verdict #5).  Property checked on
    the physical files, not through Spark (a reader would re-sort)."""
    import glob

    import pyarrow.parquet as pq

    from watertower_spark.operators.index_build import load_manifest, table_path

    ts_dir = table_path(rich_index, load_manifest(rich_index), "term_stats")
    files = glob.glob(f"{ts_dir}/tb=*/*.parquet")
    assert files, ts_dir
    checked = 0
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f
        checked += len(terms)
    assert checked > 0
