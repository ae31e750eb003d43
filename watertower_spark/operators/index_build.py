"""Distributed inverted-index build.

Pipeline (SURVEY.md §3.2 rewrite of the reference's PostDocument path,
/root/reference/database.go:23-58):

    documents ─ assign_doc_ids ─ segment_stage:
        repartitionByRange(shard) → _segment_kernel (mapInPandas,
        analyze + pack inside one task per shard)
            ├─ postings   packed FoR blocks, one row per (term, shard)
            ├─ doc_stats  (doc_id, shard, wc, twc)
            └─ doc_len    one dense dl array per shard
    + tags       groupBy(shard) → packed docID sets (write_tags)
    + doc_store  (materialization table)

The segment stage and the tags writer are the ONLY producers of these
tables: the mutations in ``maintenance`` (append, remove, upsert,
resume) write their touched shards through the same two functions.

Scale design decisions (the parts that must survive 1000 executors /
10^12 docs):

- **Doc-range sharding.** ``shard = (doc_id - 1) // docs_per_shard``.
  Every table is partitioned by shard.  A head term ("the") therefore
  produces ONE bounded row per shard instead of one giant row — the
  shard is the salt, so head-term skew is defused structurally, not by
  an extra salting pass.  Query-time intersection is embarrassingly
  shard-parallel with zero postings shuffle (all terms' shard *i* rows
  cover the same doc-id range).
- **Deterministic dense doc IDs without a mutable counter.**  The
  reference allocates docIDs via a cloud counter (storage.go:77-79); we
  compute a url-ordered dense numbering with a seeded-sample range
  partitioner + per-range offsets (two cheap jobs over urls only), not
  a single-partition row_number window.
- **Sorted by construction.** The segment kernel sorts each (term,
  shard) posting list by doc_id as it packs — the reference's
  insert-time re-sort (database.go:414-416) disappears.
"""

from __future__ import annotations

import contextlib
import json
import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

BM25_K1 = 1.2
BM25_B = 0.75

# fixed reference length for the pack-time diagnostic block_max_w
# sidecar (query-time pruning derives its bounds from block_max_tf /
# block_min_dl against the LIVE avgdl, never from block_max_w)
_DIAG_AVGDL = 256.0

# bump when the on-disk posting layout changes (readers reject stale
# indexes instead of failing obscurely mid-kernel)
# v6: term_stats is partitioned by bucket tb so mutations rewrite only
#     buckets containing changed terms (round-3 verdict #3: the
#     whole-vocabulary rewrite per mutation is a heavyweight job at a
#     10^9-term web vocabulary)
# v7: tb is a term RANGE (the manifest's sampled ``term_bounds``), no
#     longer pmod(xxhash64(term), TS_BUCKETS): a term or a prefix lives
#     in known buckets, so the driver reads them by key
FORMAT_VERSION = 7

# Parquet codec for every index table write (build + mutations).  Not a
# format change: parquet files self-describe their codec, so readers and
# existing indexes are unaffected.  Measured (BENCH_SCALING.md, round-5
# codec A/B: 1M docs, 16 pinned cores, interleaved best-of-3): zstd
# writes 37% fewer bytes than snappy (529 -> 334 MB; doc_store -38%,
# postings -34%) at identical build wall-clock (41.6 vs 41.8 s best) —
# and bytes on disk/network are the scarce resource at crawl scale, as
# the round-5 scaling tally showed (the disk-bound doc_tables phase
# absorbs every degraded-window loss).
PARQUET_CODEC = "zstd"

# term_stats bucket count.  Sized so one bucket of a 10^9-term
# vocabulary (~1M terms, tens of MB) is one comfortable task; a
# one-shard mutation touches only the buckets its changed terms sort
# into, leaving the other buckets' files byte-identical.
TS_BUCKETS = 64

POSTING_SCHEMA = (
    "term string, shard int, df int, cf long, max_tf int, "
    "doc_blob binary, tf_blob binary, pos_blob binary, "
    "block_last binary, block_off binary, block_tf_off binary, "
    "block_pos_off binary, block_max_tf binary, block_max_w binary, "
    "block_min_dl binary, bytes long"
)

TAG_SCHEMA = "tag string, shard int, n int, doc_blob binary"

# one row per shard: document lengths as a dense int32 array indexed by
# (doc_id - shard*docs_per_shard - 1).  Doc ids are dense per shard, so
# BM25 dl lookup is ARRAY INDEXING — the query kernel needs no
# doc_stats cogroup side at all (one less exchange+scan per query).
# Holes (removed docs) hold 0 and are never probed (no postings).
DOC_LEN_SCHEMA = "shard int, n int, dl_blob binary"

# per-shard lineage/metrics live INLINE in the manifest up to this many
# shards; beyond it (a 10^12-doc build has 10^5-10^8 shards) they are
# written as a parquet table instead — a JSON manifest with 100M shard
# entries, and the driver-side collect() feeding it, would both break.
SHARD_METRICS_INLINE_MAX = 10_000


# ------------------------------------------------------------ ranges

def bottom_k(df: DataFrame, col: str, k: int, seed: int = 42) -> DataFrame:
    """The ``k`` values of ``col`` with the smallest ``xxhash64(col,
    seed)``, via native TakeOrdered: a bottom-k sketch IS a uniform
    sample and, unlike a fraction-based sample, needs no prior
    knowledge of the total.  It depends only on the set of values, so
    the same input always gives the same sample."""
    return df.select(col).orderBy(
        F.xxhash64(F.col(col), F.lit(seed)).asc(), F.col(col).asc()
    ).limit(k)


def range_bounds(sample: list, n_ranges: int) -> list:
    """At most ``n_ranges - 1`` ascending boundaries spaced evenly over
    ``sample``: range i holds the values v with ``bounds[i-1] <= v <
    bounds[i]``."""
    sample = sorted(sample)
    if not sample or n_ranges <= 1:
        return []
    step = max(1, len(sample) // n_ranges)
    return sample[step::step][: n_ranges - 1]


def range_col(spark, col: str, bounds: list):
    """The range of ``col`` under ``bounds``: the number of boundaries
    <= it, as ``bisect.bisect_right(bounds, value)`` gives it in Python
    (Spark orders strings by their UTF-8 bytes, which is code-point
    order, Python's ``str`` order).  For the common boundary counts
    this stays ENTIRELY JVM-side (codegen'd array filter — measured
    0.85 s vs 3.77 s for the Arrow/Python crossing at 1M urls on 16
    pinned cores); the O(B)-per-row expression falls back to a
    vectorized binary-search pandas_udf past 512 boundaries (10^9+
    docs), where O(log B) wins back the crossing cost."""
    if not bounds:
        return F.lit(0)
    if len(bounds) <= 512:
        barr = F.array(*[F.lit(x) for x in bounds])
        return F.size(F.filter(barr, lambda x: x <= F.col(col))).cast("int")
    b = spark.sparkContext.broadcast(bounds)

    @F.pandas_udf("int")
    def range_of(v: pd.Series) -> pd.Series:
        idx = np.searchsorted(np.array(b.value, dtype=object), v.to_numpy(), side="right")
        return pd.Series(idx.astype("int32"))

    return range_of(col)


# ------------------------------------------------------------ doc ids

def assign_doc_ids(docs: DataFrame, num_ranges: int = 64, seed: int = 42,
                   total: int | None = None) -> DataFrame:
    """url → dense 1-based doc_id, ordered by url, deterministically.

    Thin wrapper over :func:`assign_doc_ids_with_count` (which callers
    that also need the corpus count should use directly — it folds the
    count into the sampling pass instead of running a third job).
    """
    df, _ = assign_doc_ids_with_count(docs, num_ranges=num_ranges,
                                      seed=seed, total=total)
    return df


def assign_doc_ids_with_count(
    docs: DataFrame, num_ranges: int = 64, seed: int = 42,
    total: int | None = None,
) -> tuple:
    """url → dense 1-based doc_id, plus the corpus count, in TWO driver
    jobs (down from three in round 2 — the serial driver-job chain was
    the build's measured fixed fraction at 16 cores):

      1. boundary sample — the ``num_ranges*40`` urls of
         :func:`bottom_k` — run CONCURRENTLY with the count on driver
         threads (independent jobs; parquet sources answer the count
         from footer metadata);
      2. per-range counts → cumulative offsets (num_ranges rows).

    Then ids = offset[range] + rank within range.  The output is exactly
    url-rank REGARDLESS of the boundaries (offsets come from exact range
    counts, within-range order is a sort) — boundaries only affect task
    balance, so sample quality is a performance concern, never a
    correctness one, and stays correct at any cluster size.

    ``num_ranges`` scales with the corpus so the per-range pandas group
    in the numbering kernel stays ~1M rows no matter the corpus size —
    a fixed range count would make each range a multi-GB single-task
    frame at 10^9+ docs.  The sample is capped at 2M urls: at 10^12
    docs (1M ranges) that degrades to ~2 urls/range, which only costs
    range evenness (see above).
    """
    spark = docs.sparkSession
    urls = docs.select("url")
    # sample size chosen BEFORE the total is known: 40/range at the
    # requested range count, floored so corpora somewhat larger than
    # the caller guessed still get usable boundaries.  Keep k modest:
    # TakeOrdered funnels partitions×k rows through the final merge
    # task, so an oversized k taxes every build for balance insurance
    # that only matters when the guess is off by >100× (and even then
    # only task evenness suffers, never id correctness).
    k_sample = min(2_000_000, max(40 * num_ranges, 4_096))
    sample_q = bottom_k(urls, "url", k_sample, seed)
    if total is None:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_total = pool.submit(urls.count)
            f_sample = pool.submit(sample_q.collect)
            total, sample = f_total.result(), [r[0] for r in f_sample.result()]
    else:
        sample = [r[0] for r in sample_q.collect()]
    if total == 0:
        return spark.createDataFrame([], "url string, doc_id long"), 0
    num_ranges = max(num_ranges, math.ceil(total / 1_000_000))
    rid_col = range_col(spark, "url", range_bounds(sample, num_ranges))

    ranged = urls.withColumn("rid", rid_col.cast("int"))
    counts = {r["rid"]: r["cnt"] for r in ranged.groupBy("rid").agg(F.count("*").alias("cnt")).collect()}
    offsets = []
    acc = 1  # reference docIDs start at 1 (storage.go:77-79)
    for rid in sorted(counts):
        offsets.append((rid, acc))
        acc += counts[rid]

    # numbering = row_number within range + the range's offset: shuffle
    # by rid, in-range sort by url, all in whole-stage codegen — no
    # Arrow crossing, no Python workers anywhere in the id path.
    from pyspark.sql import Window

    offs_df = spark.createDataFrame(offsets, "rid int, offs long")
    w = Window.partitionBy("rid").orderBy("url")
    doc_map = (
        ranged.join(F.broadcast(offs_df), "rid")
        .withColumn("doc_id", F.row_number().over(w) - 1 + F.col("offs"))
        .select("url", "doc_id")
    )
    return doc_map, total


def derive_docs_per_shard(doc_count: int, avg_doc_bytes: float,
                          parallelism: int,
                          target_shard_bytes: int = 64 << 20,
                          min_dps: int = 256,
                          max_dps: int = 1 << 20) -> int:
    """Auto-size the shard (round-2 verdict: the manual knob was the one
    remaining build footgun — a mis-sized shard OOMs the segment kernel,
    which holds one shard's packed postings in a Python dict).

    Two bounds, take the tighter:
    - memory: ~``target_shard_bytes`` of raw text per shard keeps the
      kernel's working set (analyzed tokens + packed blobs, a small
      multiple of the text) inside a normal executor task budget;
    - parallelism: at least ``2*parallelism`` shards so small corpora
      still fan out (matching the bench harness's manual choice).

    At 10^12 docs × ~2 KB this lands at a few ×10^4 docs/shard →
    ~10^7 shards (metrics externalize automatically past
    SHARD_METRICS_INLINE_MAX); at 10^4 docs it falls back to the
    parallelism bound.  The manual override remains for unusual docs.
    """
    by_mem = int(target_shard_bytes // max(float(avg_doc_bytes), 1.0))
    by_par = math.ceil(doc_count / max(2 * parallelism, 1)) if doc_count else min_dps
    return int(min(max(min_dps, min(by_mem, by_par)), max_dps))


# ------------------------------------------------------------ term_stats

# terms sampled for the term_stats range boundaries: 64 per bucket
_TERM_SAMPLE = 64 * TS_BUCKETS


def term_contrib(postings: DataFrame) -> DataFrame:
    """Per-term (df, cf, shards) of a set of postings rows: the
    term_stats row of the whole table, a mutation's delta of a subset."""
    return postings.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.sort_array(F.collect_set("shard")).alias("shards"),
    )


def term_bucket_col(spark, bounds: list):
    """term_stats's bucket column ``tb``: the term's range under the
    manifest's ``term_bounds`` (``bisect.bisect_right(bounds, term)``
    in Python).  The one term → bucket function of the build, the
    mutations' bucket-scoped merge and the full refresh."""
    return range_col(spark, "term", bounds).alias("tb")


def sample_term_bounds(terms: DataFrame) -> list:
    """term_stats's range boundaries for the distinct values of
    ``terms``'s ``term`` column: :func:`range_bounds` over their
    :func:`bottom_k` sample, so the same vocabulary always gives the
    same boundaries (resume reproduces the build).  One Spark job."""
    sample = bottom_k(terms.select("term").distinct(), "term", _TERM_SAMPLE)
    return range_bounds([r[0] for r in sample.collect()], TS_BUCKETS)


def write_term_stats(ts: DataFrame, path: str, bounds: list) -> None:
    """Write term_stats rows ``ts`` (term, df, cf, shards) at ``path``,
    partitioned by their term range ``tb`` under ``bounds``, one
    term-sorted file per bucket dir.  One Spark job."""
    (
        ts.select("term", "df", "cf", "shards", term_bucket_col(ts.sparkSession, bounds))
        .repartition(TS_BUCKETS, "tb")
        # term-sorted within each bucket file: parquet row-group
        # min/max statistics prune a term or prefix read inside
        # its bucket
        .sortWithinPartitions("tb", "term")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(path)
    )


# ------------------------------------------------------------ tags

def shard_col(docs_per_shard: int):
    return ((F.col("doc_id") - 1) / docs_per_shard).cast("int").alias("shard")


def _pack_tags_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    from watertower_spark.functions import codec

    out = []
    for (tag, shard), g in pdf.groupby(["tag", "shard"], sort=False):
        ids = np.sort(g["doc_id"].unique())
        out.append((tag, int(shard), ids.size, codec.encode_sorted(ids)))
    return pd.DataFrame(out, columns=["tag", "shard", "n", "doc_blob"])


def write_tags(tag_rows: DataFrame, index_dir: str, docs_per_shard: int,
               mode: str = "overwrite") -> None:
    """(doc_id, tags[]) rows → the packed tags partitions of their
    shards (the one tags writer of the build and every mutation)."""
    (
        tag_rows.select(F.explode("tags").alias("tag"), "doc_id")
        .withColumn("shard", shard_col(docs_per_shard))
        .groupBy("shard")
        .applyInPandas(_pack_tags_kernel, schema=TAG_SCHEMA)
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(f"{index_dir}/tags")
    )


# ------------------------------------------------- segment build kernel

SEGMENT_SCHEMA = POSTING_SCHEMA + ", kind string, doc_id long, wc int, twc int"


def _segment_kernel(default_lang: str, analyzer_lang: str | None,
                    docs_per_shard: int):
    """One-pass analyze+pack over a shard-partitioned docs stream.

    This is the Lucene-segment pattern: each task receives whole shards
    of documents (range-partitioning by shard co-locates a shard's
    docs), analyzes them, and emits fully packed posting rows plus
    doc-stat rows — the 50M-row exploded term stream never crosses the
    Python/JVM boundary and never shuffles.  That stream was the
    scaling bottleneck of the naive two-stage build (Arrow transfer +
    distinct dominated; cores didn't help).

    A doc_id met twice raises: the input joined a url that appears more
    than once, and packing it would double-count the document.
    """

    def run(batches):
        from watertower_spark.analyzers import (
            analyze_document,
            find_analyzer,
            split_title_body,
        )
        from watertower_spark.functions import codec

        def resolve(lang: str) -> str:
            # a language with no registered analyzer degrades to the
            # whitespace analyzer instead of failing the build (the
            # reference errors, nlp/tokenizer.go:19-25; SURVEY §2.2/A1)
            if not lang:
                return lang
            try:
                find_analyzer(lang)
                return lang
            except KeyError:
                return "simple"

        acc: dict = {}   # (term, shard) -> (doc_ids, tfs, pos_blobs)
        stats: list = []  # (doc_id, shard, wc, twc)
        dls: dict = {}
        for pdf in batches:
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                if int(doc_id) in dls:
                    raise ValueError(
                        f"doc_id {int(doc_id)} appears more than once in the "
                        f"segment input: the input holds a url more than once"
                    )
                title, body = split_title_body(text or "")
                use_lang = analyzer_lang if analyzer_lang is not None else resolve(lang or "")
                tokens, wc, twc = analyze_document(title, body, use_lang, default_lang)
                shard = (doc_id - 1) // docs_per_shard
                stats.append((int(doc_id), int(shard), wc, twc))
                dls[int(doc_id)] = wc
                for term, positions in tokens.items():
                    e = acc.get((term, shard))
                    if e is None:
                        e = acc[(term, shard)] = ([], [], [])
                    e[0].append(doc_id)
                    e[1].append(len(positions))
                    e[2].append(codec.encode_position_list(positions))

        pcols = [c.split()[0] for c in POSTING_SCHEMA.split(", ")]
        out = []
        for (term, shard), (ids, tfs, blobs) in acc.items():
            ids = np.asarray(ids, dtype=np.int64)
            tfs_a = np.asarray(tfs, dtype=np.int64)
            order = np.argsort(ids, kind="stable")
            ids, tfs_a = ids[order], tfs_a[order]
            blobs = [blobs[i] for i in order]
            dl = np.fromiter((dls[int(d)] for d in ids), dtype="float64", count=ids.size)
            # avgdl is not known until this very pass ends; the kernel
            # uses it only for the DIAGNOSTIC block_max_w sidecar
            # (query-time pruning bounds come from block_max_tf/min_dl
            # against the live avgdl), so a fixed reference length keeps
            # every writer's output deterministic
            weights = tfs_a / (tfs_a + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / _DIAG_AVGDL))
            row = codec.pack_postings(ids, tfs_a, weights, dls=dl)
            # positions arrive self-delimiting from the analyzer —
            # byte-concatenate, zero decode; per-block byte offsets let
            # the query kernel seek to one block
            lens = np.fromiter((len(p) for p in blobs), dtype=np.int64)
            cum = np.concatenate(([0], np.cumsum(lens)))
            bpo = cum[:: codec.BLOCK_SIZE][: (len(blobs) + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE]
            pos_blob = b"".join(blobs)
            out.append(
                (
                    term, int(shard), row["df"], int(tfs_a.sum()), row["max_tf"],
                    row["doc_blob"], row["tf_blob"], pos_blob,
                    row["block_last"], row["block_off"], row["block_tf_off"],
                    bpo.tobytes(), row["block_max_tf"], row["block_max_w"],
                    row["block_min_dl"],
                    len(row["doc_blob"]) + len(row["tf_blob"]) + len(pos_blob),
                    "p", None, None, None,
                )
            )
        cols = pcols + ["kind", "doc_id", "wc", "twc"]
        if out:
            yield pd.DataFrame(out, columns=cols)
        if stats:
            sdf = pd.DataFrame(stats, columns=["doc_id", "shard", "wc", "twc"])
            sdf["kind"] = "s"
            for c in pcols:
                if c not in ("shard",):
                    if c not in sdf.columns:
                        sdf[c] = None
            sdf["term"] = None
            yield sdf[cols]
            # per-shard dense dl arrays ('l' rows → the doc_len table):
            # BM25 doc-length lookup becomes array indexing at query time
            per_shard: dict = {}
            for doc_id, shard, wc, _twc in stats:
                per_shard.setdefault(shard, []).append(
                    (doc_id - shard * docs_per_shard - 1, wc)
                )
            lrows = []
            for shard, pairs in per_shard.items():
                offs = np.fromiter((p[0] for p in pairs), dtype=np.int64, count=len(pairs))
                ws = np.fromiter((p[1] for p in pairs), dtype=np.int32, count=len(pairs))
                arr = np.zeros(int(offs.max()) + 1, dtype=np.int32)
                arr[offs] = ws
                lrows.append((int(shard), arr.size, arr.tobytes()))
            ldf = pd.DataFrame(lrows, columns=["shard", "wc", "doc_blob"])
            ldf["kind"] = "l"
            for c in pcols + ["doc_id", "twc"]:
                if c not in ldf.columns:
                    ldf[c] = None
            yield ldf[cols]

    return run


class Segment:
    """A persisted segment-kernel output and its three table
    projections (postings, doc_stats, doc_len)."""

    def __init__(self, seg: DataFrame):
        self.seg = seg
        self.postings = seg.where(F.col("kind") == "p").drop("kind", "doc_id", "wc", "twc")
        self.doc_stats = seg.where(F.col("kind") == "s").select("doc_id", "shard", "wc", "twc")
        self.doc_len = seg.where(F.col("kind") == "l").select(
            "shard", F.col("wc").alias("n"), F.col("doc_blob").alias("dl_blob")
        )

    def write(self, index_dir: str, table: str, mode: str = "overwrite") -> None:
        """Write one projection into its shard partitions.  Each seg
        partition holds whole shards (the range repartition), so the
        write is shuffle-free: partitionBy routes each task's rows
        straight into its shard directories."""
        df = getattr(self, table)
        if table == "postings":
            # term-ordered files → parquet row-group pruning for the
            # pushed-down In(term, …) query filter
            df = df.sortWithinPartitions("term")
        df.write.mode(mode).partitionBy("shard").parquet(f"{index_dir}/{table}")

    def unpersist(self) -> None:
        self.seg.unpersist(blocking=True)


def segment_stage(docs: DataFrame, n_parts: int, docs_per_shard: int,
                  default_lang: str, analyzer_lang: str | None) -> Segment:
    """(doc_id, text, lang) rows → the persisted :class:`Segment` of
    their shards: co-locate each shard's docs, then analyze+pack inside
    the task (see _segment_kernel).  The only big shuffle is this
    repartition of the raw documents.  The build and every mutation
    produce postings, doc_stats and doc_len through here."""
    seg = (
        docs.select("doc_id", "text", "lang")
        .withColumn("shard", shard_col(docs_per_shard))
        # range partitioning maps shards 1:1 onto partitions — hash
        # partitioning leaves ~1/e of partitions empty and piles 2-3
        # shards on others, so the slowest task bounds the stage
        .repartitionByRange(n_parts, "shard")
        .mapInPandas(
            _segment_kernel(default_lang, analyzer_lang, docs_per_shard),
            schema=SEGMENT_SCHEMA,
        )
    )
    seg.persist()
    return Segment(seg)


# ------------------------------------------------------------ build

def build_index(
    docs: DataFrame,
    tags: DataFrame | None,
    index_dir: str,
    default_lang: str = "",
    analyzer_lang: str | None = None,
    docs_per_shard: int | None = None,
    num_id_ranges: int = 64,
    build_id: str = "b0",
) -> dict:
    """Build the full index at ``index_dir``.  Returns the manifest dict.

    Writes parquet tables: doc_map, doc_stats, doc_len, doc_store,
    postings (partitioned by shard, sorted by term within files), tags —
    plus _meta/manifest.json with doc_count, avgdl, shard layout,
    per-shard lineage and postings/byte metrics (the north_rule
    checkpoint unit: a shard present+committed in the metrics is
    skipped on resume, see ``resume_build``).

    Sizing ``docs_per_shard``: a shard is the unit of (a) one segment
    kernel task's memory (its docs + packed postings are held in one
    Python task), (b) query fan-out, and (c) incremental rewrite.
    ``None`` (the default) derives it from the corpus via
    :func:`derive_docs_per_shard` — a ~64 MB-of-text memory bound at
    scale, a 2×parallelism fan-out bound for small corpora (the avg doc
    size is probed from a 4096-doc prefix concurrently with the id
    jobs).  Pass an explicit value only for unusual documents; task
    memory is the bound (a shard's analyzed text + postings should stay
    within a few hundred MB).  At 10^10-10^12 docs expect 10^5-10^7
    shards — per-shard metrics then externalize automatically
    (SHARD_METRICS_INLINE_MAX) and each doc_len row grows to
    docs_per_shard*4 bytes.
    """
    # AQE coalescing sizes partitions by BYTES; the analysis/pack stages
    # are Python-CPU-bound with tiny byte footprints, so coalescing would
    # collapse them to a handful of tasks.  Pin it off for the build.
    with session_conf(docs.sparkSession, {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.parquet.compression.codec": PARQUET_CODEC,
    }):
        return _build_index(docs, tags, index_dir, default_lang, analyzer_lang,
                            docs_per_shard, num_id_ranges, build_id)


def _build_index(docs, tags, index_dir, default_lang, analyzer_lang,
                 docs_per_shard, num_id_ranges, build_id) -> dict:
    spark = docs.sparkSession
    t0 = time.time()
    from watertower_spark.session import ensure_executors_can_import

    ensure_executors_can_import(spark)
    par = spark.sparkContext.defaultParallelism

    phases: dict = {}

    def mark(name):
        phases[name] = round(time.time() - t0 - sum(phases.values()), 3)

    # assign ids and learn doc_count in the SAME two driver jobs (count
    # + boundary sample run concurrently, then one range-count job) —
    # round 2's three mostly-serial jobs here were the build's measured
    # fixed fraction.  avgdl is NOT pre-scanned from text: the BM25
    # scorer's dl IS doc_stats.wc, so the consistent avgdl is avg(wc) —
    # aggregated from the segment output below for free, saving a full
    # text pass.  (For whitespace analyzers the two definitions
    # coincide; for n-gram fallback docs avg(wc) is the CORRECT one
    # where the old whitespace estimate was approximate.)
    avg_bytes_box: dict = {}
    probe_th = None
    if docs_per_shard is None:
        # avg doc size probe (first 4096 rows) — overlapped with the id
        # jobs on a driver thread, so auto-sizing adds no serial barrier
        import threading

        def _probe():
            try:
                avg_bytes_box["b"] = (
                    docs.select(F.octet_length("text").alias("b"))
                    .limit(4096).agg(F.avg("b")).collect()[0][0]
                )
            except Exception:
                avg_bytes_box["b"] = None

        probe_th = threading.Thread(target=_probe, daemon=True)
        probe_th.start()
    doc_map, doc_count = assign_doc_ids_with_count(docs, num_ranges=num_id_ranges)
    if docs_per_shard is None:
        probe_th.join()
        docs_per_shard = derive_docs_per_shard(
            doc_count, avg_bytes_box.get("b") or 2048.0, par
        )
    n_shards = max(1, math.ceil(doc_count / docs_per_shard)) if doc_count else 1
    doc_map.persist()  # reused by the segment, doc_store, tags — compute once
    docs_w = docs.join(doc_map, "url")
    mark("assign_ids")

    seg = segment_stage(docs_w, n_shards, docs_per_shard, default_lang,
                        analyzer_lang)

    # Independent table writes run on concurrent driver threads (Spark
    # schedules jobs from multiple threads concurrently).  Wave 1 = doc
    # tables (must be durable before the docs_done checkpoint): the
    # doc_stats write is the job that materializes the persisted segment
    # kernel output (no separate count() barrier — the old barrier cost a
    # full extra pass of the longest stage), overlapping the IO-bound
    # doc_map/doc_store writes with the CPU-bound analysis.
    from concurrent.futures import ThreadPoolExecutor

    def w_doc_stats():
        seg.write(index_dir, "doc_stats")

    def w_doc_map():
        doc_map.write.mode("overwrite").parquet(f"{index_dir}/doc_map")

    def w_doc_store():
        # raw html is NOT copied into the index: materialization returns
        # extracted text; at web scale the search index must not clone
        # the crawl lake's heaviest column.  (Any OTHER extra input
        # columns — metadata, updated_at — pass through untouched.)
        (
            docs_w.drop("html")
            .withColumn("shard", shard_col(docs_per_shard))
            .repartitionByRange(n_shards, "shard")  # one file per shard dir
            .write.mode("overwrite").partitionBy("shard").parquet(f"{index_dir}/doc_store")
        )

    # (the doc-table writers are SUBMITTED below together with wave 2:
    # wave-2 jobs depend only on the cached segment, which the doc_stats
    # write materializes — so postings/term_stats/doc_len/metrics launch
    # the moment doc_stats lands, overlapping the doc_map/doc_store
    # write TAILS instead of barriering on them.  The docs_done
    # checkpoint is still written only after ALL THREE doc tables are
    # durable; a crash in the short window where wave-2 started but the
    # skeleton isn't on disk degrades resume to a full rebuild, which is
    # safe.)
    def make_skeleton(sum_wc: float, avgdl: float) -> dict:
        return {
            "format_version": FORMAT_VERSION,
            "phase": "docs_done",
            "build_id": build_id,
            "doc_count": doc_count,
            "avgdl": avgdl,
            "sum_wc": sum_wc,
            "docs_per_shard": docs_per_shard,
            "n_shards": n_shards,
            "default_lang": default_lang,
            "analyzer_lang": analyzer_lang,
            "bm25": {"k1": BM25_K1, "b": BM25_B},
            "has_tags": tags is not None,
            "tables": {},
            "shards": {},
        }

    from watertower_spark.functions import fsio

    # Wave 2: postings (the long pole), tags, plus the term_stats write
    # and the shard-metrics collect — the latter two aggregate NARROW
    # columns of the already-cached segment output, replacing the two
    # full postings-table re-reads the old pipeline did after the write.
    def w_postings():
        seg.write(index_dir, "postings")

    def w_tags():
        if tags is not None:
            write_tags(tags.join(doc_map, "url"), index_dir, docs_per_shard)

    bounds_box: dict = {}

    def w_term_stats():
        # global term statistics: the query engine resolves df/idf and
        # candidate shards from this table (memoized driver-side)
        # instead of re-aggregating per query.  Bucketed by term range
        # so mutations rewrite only touched buckets (maintenance) and
        # the engine reads a term's or a prefix's buckets by key.  The
        # boundary sample reads the distinct terms of the cached
        # postings, with no persisted aggregate; this writer is
        # submitted first in wave 2 so the sample queues ahead of the
        # postings write.  The boundaries go into the manifest.
        bounds_box["b"] = sample_term_bounds(seg.postings)
        write_term_stats(term_contrib(seg.postings), f"{index_dir}/term_stats",
                         bounds_box["b"])

    def w_doc_len():
        seg.write(index_dir, "doc_len")

    metrics_box: dict = {}

    def w_metrics():
        # per-shard lineage + size metrics (north_rule: per-partition
        # lineage and postings/byte-count metrics).  Small shard counts
        # collect inline into the manifest; huge ones write a parquet
        # table + keep only totals driver-side.
        mdf = seg.postings.groupBy("shard").agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("bytes").alias("bytes"),
        )
        if n_shards <= SHARD_METRICS_INLINE_MAX:
            metrics_box["rows"] = mdf.collect()
        else:
            (
                mdf.withColumn("build_id", F.lit(build_id))
                .withColumn("status", F.lit("committed"))
                .write.mode("overwrite").parquet(f"{index_dir}/shard_metrics")
            )
            metrics_box["totals"] = (
                spark.read.parquet(f"{index_dir}/shard_metrics")
                .agg(F.sum("n_postings").alias("p"), F.sum("bytes").alias("b"))
                .collect()[0]
            )

    with ThreadPoolExecutor(max_workers=8) as pool:
        f_stats = pool.submit(w_doc_stats)
        f_map = pool.submit(w_doc_map)
        f_store = pool.submit(w_doc_store)
        # the doc_stats write materializes the segment cache — the
        # moment it lands, every wave-2 job can run off the cache,
        # overlapping the doc_map/doc_store write tails
        f_stats.result()
        # avgdl = average analyzed document length — the exact quantity
        # the BM25 scorer divides by.  One tiny agg over the cached stat
        # rows; no extra pass over the corpus.  Σwc goes into the
        # manifest as a running total so incremental mutations update
        # avgdl from their own delta (maintenance) without a re-scan.
        sum_wc = float(seg.doc_stats.agg(F.sum("wc")).collect()[0][0] or 0.0)
        avgdl = sum_wc / doc_count if doc_count else 0.0
        skeleton = make_skeleton(sum_wc, avgdl)
        wave2 = [pool.submit(w) for w in (w_term_stats, w_postings, w_tags,
                                          w_doc_len, w_metrics)]
        f_map.result()
        f_store.result()
        # checkpoint: ALL doc tables durable — an interrupted postings
        # phase resumes from here without re-analyzing committed work
        fsio.write_json(f"{index_dir}/_meta/manifest.json", skeleton)
        mark("doc_tables")
        for f_ in wave2:
            f_.result()
    mark("postings_tags")

    if "rows" in metrics_box:
        shard_metrics = {
            int(r["shard"]): {
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "bytes": int(r["bytes"]),
                "build_id": build_id,
                "status": "committed",
            }
            for r in metrics_box["rows"]
        }
        extra = {}
    else:
        shard_metrics = "external"  # per-shard rows live in shard_metrics/
        t_ = metrics_box["totals"]
        extra = {"shard_totals": {"n_postings": int(t_["p"] or 0),
                                  "bytes": int(t_["b"] or 0)}}
    mark("metrics")
    manifest = dict(
        skeleton,
        phase="committed",
        shards=shard_metrics,
        term_bounds=bounds_box["b"],
        build_seconds=round(time.time() - t0, 3),
        phase_seconds=phases,
        parquet_codec=PARQUET_CODEC,
        **extra,
    )
    fsio.write_json(f"{index_dir}/_meta/manifest.json", manifest)
    append_snapshot(index_dir, manifest, "build")

    # blocking: a build-then-serve session (the server lifecycle) must not
    # carry gigabytes of cached segment blocks into its query phase — lazy
    # unpersist leaves them resident until some later GC notices, and GC
    # barely runs in a large heap (measured: 8.5 GB live post-build,
    # multi-second young pauses through the following query set)
    seg.unpersist()
    doc_map.unpersist(blocking=True)
    return manifest


@contextlib.contextmanager
def session_conf(spark, settings: dict):
    """Pin Spark SQL confs for the duration of a block; the session's
    previous values come back on exit, on error too (a failed build or
    mutation must not leave its settings in the caller's session)."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def load_manifest(index_dir: str) -> dict:
    from watertower_spark.functions import fsio

    return fsio.read_json(f"{index_dir}/_meta/manifest.json")


def load_current_manifest(index_dir: str) -> dict:
    """The manifest of an index in THIS code's on-disk format.  Readers
    and mutations both load through here: a stale index must be
    rebuilt, never read mid-kernel or extended with current-format
    shards."""
    m = load_manifest(index_dir)
    got = m.get("format_version")
    if got != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format_version={got}, "
            f"engine expects {FORMAT_VERSION} — rebuild the index"
        )
    return m


def table_path(index_dir: str, manifest: dict, name: str) -> str:
    """Resolve a table's physical directory through the manifest's
    versioned-pointer map.  Replaced tables (term_stats, doc_map) get a
    new `<name>_v{n}` directory per mutation and the pointer flips —
    rename-free, so correct on object stores where rename is copy+delete
    and not atomic.  Partition-overwritten tables (postings, doc_stats,
    doc_store, tags) keep their fixed names."""
    return f"{index_dir}/{manifest.get('tables', {}).get(name, name)}"


def append_snapshot(index_dir: str, manifest: dict, op: str) -> None:
    """Iceberg-style snapshot log: every committed mutation appends one
    line (op, build_id, doc_count, shard count, per-shard byte totals) to
    _meta/snapshots.jsonl — the audit trail for resume/lineage questions
    ('which build wrote shard 17, and how many postings did it carry?')."""
    from watertower_spark.functions import fsio

    shards = manifest.get("shards", {})
    if isinstance(shards, dict):
        total_p = sum(s.get("n_postings", 0) for s in shards.values())
        total_b = sum(s.get("bytes", 0) for s in shards.values())
    else:  # "external": per-shard rows in shard_metrics/, totals inline
        totals = manifest.get("shard_totals", {})
        total_p = totals.get("n_postings", 0)
        total_b = totals.get("bytes", 0)
    rec = {
        "op": op,
        "build_id": manifest.get("build_id"),
        "doc_count": manifest.get("doc_count"),
        "n_shards": manifest.get("n_shards"),
        "total_postings": total_p,
        "total_bytes": total_b,
    }
    fsio.append_line(f"{index_dir}/_meta/snapshots.jsonl", json.dumps(rec))


def snapshot_history(index_dir: str) -> list:
    from watertower_spark.functions import fsio

    path = f"{index_dir}/_meta/snapshots.jsonl"
    if not fsio.exists(path):
        return []
    return [json.loads(line) for line in fsio.read_text(path).splitlines() if line.strip()]
