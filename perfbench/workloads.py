"""The workloads.  Each returns a ``Result``.

- ``search``: one closed-loop client; rounds of single queries of every
  kind, each round followed by the same queries as one ``msearch``
  batch, on an index built in set-up.
- ``ingest``: one cold batch job, ``clean_corpus`` then ``build_index``,
  over a seeded batch with planted duplicates and boilerplate; no
  queries.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

import corpus
from oracle import Oracle
from sparkenv import now
from tracing import dir_bytes, node_sum

SCALES = {
    # docs in the search index, per ingest batch
    "full": {"index_docs": 1000, "batch_docs": 800},
    "tiny": {"index_docs": 400, "batch_docs": 300},
}
SETUP_REPEATS = 3      # timed engine opens in search
WARM_QUERIES = 3       # untimed queries before the timed search loop
MIN_ROUNDS = 2         # timed search rounds, however short --seconds is
LOAD_REPEATS = 7       # timed loads of the first ingest batch (its set-up)
MIN_LINE_DOCS = 5      # a line in >= 5 docs is boilerplate


class Result:
    def __init__(self):
        self.e2e: dict = {}        # end-to-end metric -> value
        self.detail: dict = {}     # per-workload named figures (name -> (value, unit))
        self.layers: dict = {}     # per-layer metric -> value (traced run)
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}

    def op(self, ok: bool, what=None) -> None:
        """Count one checked operation; failures are listed in ``info``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.info.setdefault("failures", []).append(what)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pctl(xs, p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(p) - 1])


# ------------------------------------------------------------------ shared

def load_frames(spark, c: dict, with_doc_id: bool = False):
    import pandas as pd

    cols = {"url": c["url"], "text": c["text"], "lang": ["en"] * len(c["url"])}
    schema = "url string, text string, lang string"
    if with_doc_id:
        cols = {"doc_id": np.arange(1, len(c["url"]) + 1, dtype=np.int64), **cols}
        schema = "doc_id long, " + schema
    docs = spark.createDataFrame(pd.DataFrame(cols), schema)
    tags = spark.createDataFrame(pd.DataFrame({"url": c["url"], "tags": c["tags"]}),
                                 "url string, tags array<string>")
    return docs, tags


def text_bytes(c: dict) -> int:
    return sum(len(t.encode("utf-8")) for t in c["text"])


def build(ctx, docs, tags, idx: str) -> tuple:
    """``build_index`` timed; with tracing, its Spark work as layer metrics."""
    from watertower_spark.operators import index_build

    mark = ctx.window.mark() if ctx.trace else None
    t0 = now()
    manifest = index_build.build_index(docs, tags, idx, default_lang="en")
    secs = now() - t0
    layers = {}
    if ctx.trace:
        w = ctx.window.read(mark)
        ph = manifest.get("phase_seconds") or {}
        seg = [n for n in w["nodes"] if n["name"] == "MapInPandas"]
        layers = {
            "index_build.assign_ids_s": ph.get("assign_ids", 0.0),
            "index_build.doc_tables_s": ph.get("doc_tables", 0.0),
            "index_build.postings_tags_s": ph.get("postings_tags", 0.0),
            "index_build.segment_py_init_ms": sum(n["metrics"].get("time to initialize Python workers", 0.0) for n in seg),
            "index_build.segment_py_run_ms": sum(n["metrics"].get("time to run Python workers", 0.0) for n in seg),
            "index_build.segment_bytes_in": sum(n["metrics"].get("data sent to Python workers", 0.0) for n in seg),
            "index_build.shuffle_bytes": w["stages"]["shuffle_write_bytes"],
            "index_build.tasks": w["stages"]["tasks"],
            "index_build.executor_cpu_s": w["stages"]["cpu_s"],
        }
        for table in INDEX_TABLES:
            layers[f"index_build.bytes_written.{table}"] = sum(
                dir_bytes(os.path.join(idx, d)) for d in os.listdir(idx)
                if d == table or d.startswith(table + "_v") or d.startswith(table + "."))
    return manifest, secs, layers


INDEX_TABLES = ("doc_map", "doc_stats", "doc_len", "doc_store", "postings", "tags", "term_stats")


def probe_analyzers_codec(eng, texts: list, words: list) -> dict:
    """Driver-side analyzer and codec rates over fixed samples."""
    from watertower_spark import analyzers as an
    from watertower_spark.functions import codec

    per = []
    for w in words:
        t0 = time.perf_counter_ns()
        an.analyze_query(w, "en", "en")
        per.append((time.perf_counter_ns() - t0) / 1e3)
    t0 = now()
    for text in texts:
        title, body = an.split_title_body(text)
        an.analyze_document(title, body, "en", "en")
    docs_s = len(texts) / max(now() - t0, 1e-9)

    rows = [r.asDict() for r in eng.postings.select(
        "df", "doc_blob", "tf_blob", "block_off").limit(400).collect()]
    dec_bytes, dec_s, pack_bytes, pack_s = 0, 0.0, 0, 0.0
    for r in rows:
        off = np.frombuffer(r["block_off"], dtype=np.int64)
        t0 = now()
        ids, _idx = codec.decode_doc_blocks(r["doc_blob"], off, int(r["df"]), np.arange(off.size))
        dec_s += now() - t0
        dec_bytes += len(r["doc_blob"])
        tfs = codec.decode_varint(r["tf_blob"], out_dtype=np.int64)
        t0 = now()
        packed = codec.pack_postings(ids, tfs)
        pack_s += now() - t0
        pack_bytes += len(packed["doc_blob"]) + len(packed["tf_blob"])
    return {
        "analyzers.analyze_query_us": median(per),
        "analyzers.analyze_docs_per_s": docs_s,
        "codec.pack_postings_mb_s": pack_bytes / 1e6 / max(pack_s, 1e-9),
        "codec.decode_doc_blocks_mb_s": dec_bytes / 1e6 / max(dec_s, 1e-9),
    }


def in_thread(fn, *args):
    """Start ``fn(*args)`` on a thread; the returned callable joins it
    and gives the result (re-raising its exception)."""
    box: dict = {}

    def target():
        try:
            box["v"] = fn(*args)
        except BaseException as exc:  # handed to the joining thread
            box["e"] = exc

    th = threading.Thread(target=target, daemon=True)
    th.start()

    def join():
        th.join()
        if "e" in box:
            raise box["e"]
        return box["v"]

    return join


# ------------------------------------------------------------------ search

def construct_query(eng, q: dict):
    """The engine call for one query of the mix (returns a DataFrame)."""
    if q["kind"] == "key":
        return eng.search("unique_key:" + q["key"])
    if q["kind"] == "prefix":
        return eng.search_prefix(q["prefix"], k=10)
    return eng.search(q["word"], q.get("tags"), mode=q["mode"], k=q["k"],
                      operator=q.get("operator", "and"),
                      exclude_words=q.get("exclude_words", ""))


def msearch_entry(q: dict) -> dict:
    return {k: q[k] for k in ("word", "tags", "mode", "k", "operator", "exclude_words") if k in q}


def run_search(ctx) -> Result:
    from watertower_spark.operators.search import SearchEngine

    res = Result()
    c = corpus.make_corpus(ctx.seed, SCALES[ctx.scale]["index_docs"])
    docs, tags = load_frames(ctx.spark, c)
    idx = os.path.join(ctx.run_dir, "idx")
    oracle = in_thread(Oracle, c["url"], c["text"], c["tags"])
    manifest, build_s, blayers = build(ctx, docs, tags, idx)
    res.layers.update(blayers)
    oracle = oracle()
    res.op(int(manifest["doc_count"]) == len(c["url"])
           and abs(float(manifest["avgdl"]) - oracle.avgdl) < 1e-6 * oracle.avgdl,
           "manifest doc_count/avgdl")
    warm_words = " ".join(corpus.VOCAB[:1000])
    setup_times: list = []

    def open_engine():
        """The timed set-up: open the engine and resolve the term stats
        of the most frequent words (one job)."""
        t0 = now()
        eng = SearchEngine(ctx.spark, idx)
        eng.search(warm_words, materialize=False)
        setup_times.append(now() - t0)
        return eng

    eng = open_engine()
    singles: dict = {}          # kind -> [latency ms]
    lat_all: list = []
    batch_qps: list = []
    ms_n, ms_s = 0, 0.0         # msearch queries and seconds, timed batches
    traced_ops: list = []
    ms_con, ms_exe = [], []
    n_single = n_rounds = 0
    deadline = None
    # closed loop, whole cycles: one round of single queries, then the
    # round's msearch-able queries again as one msearch batch; at least
    # MIN_ROUNDS.  First a short warm-up round (the first queries of a
    # round, checked, not timed): it starts the Python workers and
    # compiles the plans.  The engine is opened again before each later
    # round, so the set-up samples are spread over the run.
    rounds = corpus.query_rounds(ctx.seed, c["url"], 201)
    schedule = [(rounds[0][:WARM_QUERIES], False)] + [(r, True) for r in rounds[1:]]
    for r_i, (rnd, timed) in enumerate(schedule):
        if timed and deadline is None:
            deadline = now() + ctx.seconds
        elif timed and now() >= deadline and n_rounds >= MIN_ROUNDS:
            break
        if timed and n_rounds and len(setup_times) < SETUP_REPEATS:
            eng = open_engine()
        n_rounds += timed
        batch = []
        for q in rnd:
            # traced runs alternate traced and untraced queries (the
            # difference is the tracing overhead)
            traced = ctx.trace and timed and (n_single + r_i) % 2 == 1
            if ctx.tracer:
                ctx.tracer.enabled = traced
            m0 = ctx.window.mark() if traced else None
            t0 = now()
            df = construct_query(eng, q)
            t1 = now()
            m1 = ctx.window.mark() if traced else None
            t1b = now()
            out = df.collect()
            t2 = now()
            rows = [(r["url"], float(r["score"]) if r["score"] is not None else 0.0) for r in out]
            lat_ms = ((t1 - t0) + (t2 - t1b)) * 1e3
            res.op(oracle.check(q, rows), q)
            if q["kind"] in corpus.MSEARCH_KINDS:
                batch.append((q, rows))
            if not timed:
                continue
            n_single += 1
            singles.setdefault(q["kind"], []).append(lat_ms)
            lat_all.append(lat_ms)
            if traced:
                traced_ops.append(_query_trace(ctx, q, m0, m1, df, (t1 - t0) * 1e3,
                                               (t2 - t1b) * 1e3, lat_ms, len(rows)))
            elif ctx.trace:
                traced_ops.append({"untraced_ms": lat_ms})
        if ctx.tracer:
            ctx.tracer.enabled = True
        if not batch:
            continue
        t0 = now()
        mdf = eng.msearch([msearch_entry(q) for q, _r in batch])
        t1 = now()
        mrows = mdf.collect()
        t2 = now()
        if timed:
            ms_con.append((t1 - t0) * 1e3)
            ms_exe.append((t2 - t1) * 1e3)
            batch_qps.append(len(batch) / (t2 - t0))
            ms_n += len(batch)
            ms_s += t2 - t0
        got: dict = {}
        for r in mrows:
            got.setdefault(int(r["qid"]), []).append((r["url"], float(r["score"])))
        res.op(all(_same_rows(got.get(j, []), rows) for j, (_q, rows) in enumerate(batch)),
               {"msearch": [q for q, _r in batch]})
    while len(setup_times) < SETUP_REPEATS:
        open_engine()

    res.e2e["setup_s"] = median(setup_times)
    res.e2e["op_p50_ms"] = median(lat_all)
    # queries answered per second of query time, singles and msearch
    # entries together
    res.e2e["items_per_s"] = (len(lat_all) + ms_n) / (sum(lat_all) / 1e3 + ms_s)
    res.e2e["index_bytes_per_text_byte"] = dir_bytes(idx) / text_bytes(c)
    res.detail.update({
        "query_p50_ms": (median(lat_all), "ms"),
        "query_p90_ms": (pctl(lat_all, 90), "ms"),
        "query_samples": (len(lat_all), "count"),
        "msearch_qps": (ms_n / ms_s, "1/s"),
        "msearch_batches": (len(batch_qps), "count"),
        "build_s": (build_s, "s"),
    })
    res.info.update({"docs": len(c["url"]), "indexed": int(manifest["doc_count"]),
                     "setup_s_all": setup_times, "query_ms_all": lat_all})
    if ctx.trace:
        res.layers.update(_search_layers(traced_ops, singles, ms_con, ms_exe, lat_all))
        res.layers.update(probe_analyzers_codec(
            eng, c["text"][:300], [q["word"] for q in sum(corpus.query_rounds(ctx.seed, c["url"], 40), [])
                                   if "word" in q]))
        res.info["layer_sum_max_rel_err"] = max(
            (abs(o["construct_ms"] + o["execute_ms"] - o["latency_ms"]) / o["latency_ms"]
             for o in traced_ops if "latency_ms" in o), default=0.0)
    return res


def _same_rows(a: list, b: list) -> bool:
    return len(a) == len(b) and all(
        ua == ub and abs(sa - sb) <= 1e-9 * max(1.0, abs(sb)) for (ua, sa), (ub, sb) in zip(a, b))


def _query_trace(ctx, q, m0, m1, df, construct_ms, execute_ms, latency_ms, hits) -> dict:
    """One query's layer figures: ``m0`` marks the start of the engine
    call, ``m1`` its return (jobs and SQL executions between the two ran
    while constructing, the rest while executing)."""
    w_all = ctx.window.read(m0)
    con_jobs = m1[0] - m0[0]
    exe = [n for n in w_all["nodes"] if n["exec"] > m1[1]]
    con = [n for n in w_all["nodes"] if n["exec"] <= m1[1]]
    phases = 0.0
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            phases += float(it.next()._2().durationMs())
    except Exception:  # tracker API unavailable: report no Catalyst time
        phases = 0.0

    def is_store(n):
        return "doc_store" in n["desc"]

    scans = [n for n in exe if n["name"].startswith("Scan")]
    rows_read = sum(n["metrics"].get("number of output rows", 0.0) for n in scans
                    if n.get("grandparent") and n["grandparent"]["name"] == "Filter")
    rows_kept = sum(n["grandparent"]["metrics"].get("number of output rows", 0.0) for n in scans
                    if n.get("grandparent") and n["grandparent"]["name"] == "Filter")
    store = [n for n in scans if is_store(n)]
    kernel = [n for n in exe if n["name"] == "FlatMapGroupsInPandas"]
    return {
        "kind": q["kind"], "latency_ms": latency_ms,
        "construct_ms": construct_ms, "execute_ms": execute_ms,
        "construct_jobs": con_jobs, "catalyst_ms": phases,
        "jobs": w_all["jobs"], "tasks": w_all["stages"]["tasks"],
        "scan_bytes": sum(n["metrics"].get("size of files read", 0.0) for n in scans),
        "scan_files": sum(n["metrics"].get("number of files read", 0.0) for n in scans),
        "rows_read": rows_read, "rows_kept": rows_kept,
        "term_stats_scan_bytes": sum(n["metrics"].get("size of files read", 0.0)
                                     for n in con + exe
                                     if n["name"].startswith("Scan") and "term_stats" in n["desc"]),
        "exchange_bytes": node_sum(exe, "Exchange", "shuffle bytes written"),
        "exchange_records": node_sum(exe, "Exchange", "shuffle records written"),
        "kernel": bool(kernel),
        "kernel_py_init_ms": sum(n["metrics"].get("time to initialize Python workers", 0.0) for n in kernel),
        "kernel_py_run_ms": sum(n["metrics"].get("time to run Python workers", 0.0) for n in kernel),
        "kernel_bytes_in": sum(n["metrics"].get("data sent to Python workers", 0.0) for n in kernel),
        "kernel_bytes_out": sum(n["metrics"].get("data returned from Python workers", 0.0) for n in kernel),
        "kernel_rows_out": sum(n["metrics"].get("number of output rows", 0.0) for n in kernel),
        "topk_records": node_sum(exe, "TakeOrderedAndProject", "records read"),
        "store": bool(store),
        "materialize_ms": sum(n["metrics"].get("scan time", 0.0) for n in store),
        "materialize_rows": sum(n["metrics"].get("number of output rows", 0.0) for n in store),
        "hits": hits,
    }


def _search_layers(ops, singles, ms_con, ms_exe, lat_all) -> dict:
    tr = [o for o in ops if "latency_ms" in o]
    un = [o["untraced_ms"] for o in ops if "untraced_ms" in o]

    def med(key, pred=None):
        return median(o[key] for o in tr if pred is None or pred(o))

    out = {
        "search.construct_ms": med("construct_ms"),
        "search.construct_jobs": med("construct_jobs"),
        "search.catalyst_ms": med("catalyst_ms"),
        "search.execute_ms": med("execute_ms"),
        "search.jobs_per_query": med("jobs"),
        "search.tasks_per_query": med("tasks"),
        "search.scan_bytes": med("scan_bytes"),
        "search.scan_files": med("scan_files"),
        "search.scan_rows_kept_ratio": (sum(o["rows_kept"] for o in tr)
                                        / max(sum(o["rows_read"] for o in tr), 1.0)),
        "search.term_stats_scan_bytes": med("term_stats_scan_bytes", lambda o: o["kind"] == "prefix"),
        "search.exchange_bytes": med("exchange_bytes", lambda o: o["kernel"]),
        "search.exchange_records": med("exchange_records", lambda o: o["kernel"]),
        "search.kernel_py_init_ms": med("kernel_py_init_ms", lambda o: o["kernel"]),
        "search.kernel_py_run_ms": med("kernel_py_run_ms", lambda o: o["kernel"]),
        "search.kernel_bytes_in": med("kernel_bytes_in", lambda o: o["kernel"]),
        "search.kernel_bytes_out": med("kernel_bytes_out", lambda o: o["kernel"]),
        "search.kernel_rows_out": med("kernel_rows_out", lambda o: o["kernel"]),
        "search.topk_records": med("topk_records", lambda o: o["topk_records"] > 0),
        "search.materialize_ms": med("materialize_ms", lambda o: o["store"]),
        "search.materialize_rows_per_hit": median(o["materialize_rows"] / o["hits"] for o in tr
                                                  if o["store"] and o["hits"]),
        "search.msearch_construct_ms": median(ms_con),
        "search.msearch_execute_ms": median(ms_exe),
        "search.query_p90_ms": pctl(lat_all, 90),
        "trace.overhead_ms": (median(o["latency_ms"] for o in tr) - median(un)) if un else 0.0,
    }
    for kind in corpus.QUERY_KINDS:
        out[f"search.p50_ms.{kind}"] = median(singles.get(kind, []))
    return out


def ingest(ctx, res: Result, c: dict, docs, tags, idx: str) -> dict:
    """``clean_corpus`` then ``build_index`` on the cleaned documents,
    checked: the index holds exactly the cleaned documents and every
    planted twin is gone while its original stays."""
    from watertower_spark.operators import pipeline

    layers: dict = {}
    t0 = now()
    clean, stages = pipeline.clean_corpus(docs, min_line_docs=MIN_LINE_DOCS)
    if ctx.trace:
        # each stage materialized in turn: its self time and survivors
        for name, sdf in stages.items():
            m = ctx.window.mark()
            ts = now()
            layers[f"pipeline.docs_kept.{name}"] = sdf.persist().count()
            layers[f"pipeline.stage_s.{name}"] = now() - ts
            if name == "near_dedup":
                layers.update(_dedup_layers(ctx.window.read(m)))
    clean = clean.persist()
    n_clean = clean.count()
    clean_s = now() - t0
    for sdf in stages.values():
        sdf.unpersist()
    manifest, build_s, blayers = build(ctx, clean.drop("doc_id"), tags, idx)
    kept = {r["url"] for r in clean.select("url").collect()}
    clean.unpersist()
    docs.unpersist()
    missed = [(o, t) for o, t in c["near_twins"] + c["exact_twins"] if o not in kept or t in kept]
    res.op(int(manifest["doc_count"]) == n_clean and not missed,
           {"doc_count": manifest["doc_count"], "clean": n_clean, "twins_missed": missed[:3]})
    return {"docs": len(c["url"]), "clean": n_clean, "clean_s": clean_s, "build_s": build_s,
            "pass_s": clean_s + build_s, "bytes_ratio": dir_bytes(idx) / text_bytes(c),
            "layers": {**layers, **blayers}}


def _dedup_layers(w: dict) -> dict:
    # the band self-join carries the exact-Jaccard check in its join
    # condition, so its output rows are the verified pairs (once per band
    # a pair collides in); candidates before the check are not counted
    nodes = w["nodes"]
    return {
        "dedup.pairs_verified": sum(n["metrics"].get("number of output rows", 0.0) for n in nodes
                                    if n["name"] == "SortMergeJoin" and "Inner" in n["desc"]),
        "dedup.shuffle_bytes": node_sum(nodes, "Exchange", "shuffle bytes written"),
    }


def run_ingest(ctx) -> Result:
    from watertower_spark.operators.search import SearchEngine

    res = Result()
    sc = SCALES[ctx.scale]

    def batch(b: int, n_docs: int) -> dict:
        return corpus.make_corpus(ctx.seed * 1000 + b, n_docs, prefix=f"b{b}", dup_rate=0.03,
                                  near_rate=0.03, boiler_rate=0.25)

    def load(c: dict):
        docs, tags = load_frames(ctx.spark, c, with_doc_id=True)
        docs = docs.persist()
        docs.count()
        return docs, tags

    setup_times: list = []

    def timed_load(c: dict):
        """The timed set-up: loading a batch into Spark."""
        t0 = now()
        out = load(c)
        setup_times.append(now() - t0)
        return out

    # set-up samples: loads of the first batch, about half before the
    # passes and the rest after them, so they are spread over the run
    batches = [batch(b, sc["batch_docs"]) for b in range(1, 2 + 2 * ctx.trace)]
    for _ in range(LOAD_REPEATS // 2):
        timed_load(batches[0])[0].unpersist()
    loaded = [timed_load(batches[0])]
    loaded += [load(c) for c in batches[1:]]

    # pass 1 is the measured batch job, cold as in a fresh session.  A
    # traced run adds a warm untraced pass and a warm traced pass; their
    # difference is the tracing overhead.
    traced = ctx.trace
    passes = []
    for b, (c, (docs, tags)) in enumerate(zip(batches, loaded), 1):
        ctx.trace = traced and b == 3
        if ctx.tracer:
            ctx.tracer.enabled = ctx.trace
        p = ingest(ctx, res, c, docs, tags, os.path.join(ctx.run_dir, f"idx{b}"))
        p["traced"] = ctx.trace
        passes.append(p)
    ctx.trace = traced
    if ctx.tracer:
        ctx.tracer.enabled = True
    while len(setup_times) < LOAD_REPEATS:
        timed_load(batches[0])[0].unpersist()

    cold = passes[0]
    res.e2e["setup_s"] = median(setup_times)
    res.e2e["op_p50_ms"] = cold["pass_s"] * 1e3
    res.e2e["items_per_s"] = cold["docs"] / cold["pass_s"]
    res.e2e["index_bytes_per_text_byte"] = cold["bytes_ratio"]
    res.detail.update({
        "clean_docs_per_s": (cold["docs"] / cold["clean_s"], "1/s"),
        "build_docs_per_s": (cold["clean"] / cold["build_s"], "1/s"),
        "passes": (len(passes), "count"),
    })
    res.info.update({"docs": cold["docs"], "kept": cold["clean"],
                     "planted_twins": len(batches[0]["near_twins"]) + len(batches[0]["exact_twins"]),
                     "setup_s_all": setup_times,
                     "pass_s_all": [(p["clean_s"], p["build_s"]) for p in passes]})
    if traced:
        res.layers.update(passes[2]["layers"])
        res.layers["trace.overhead_ms"] = (passes[2]["pass_s"] - passes[1]["pass_s"]) * 1e3
        words = [q["word"] for rnd in corpus.query_rounds(ctx.seed, batches[0]["url"], 40)
                 for q in rnd if "word" in q]
        res.layers.update(probe_analyzers_codec(
            SearchEngine(ctx.spark, os.path.join(ctx.run_dir, f"idx{len(passes)}")),
            batches[0]["text"][:300], words))
    return res
