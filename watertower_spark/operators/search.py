"""Query engine over the sharded index.

Re-expresses the reference's read path (search.go:16-111; SURVEY.md §3.1)
as one DataFrame DAG, built for every entry point by ONE query compiler
(``SearchEngine._compile``) from a list of ``QuerySpec``s:

    query strings ── analyze (driver-side, tiny) ──┐
    postings (term ∈ any query's terms)            │ each scanned ONCE,
    tags     (tag ∈ any query's tags)              ├─ fanned out to (qid,
    doc_len  (per-shard dl arrays)                 │ kind) by a literal map
    doc_store (range filters, when asked) ─────────┘
        → ONE grouped exchange keyed by (qid, shard) → per-query kernel
        → (qid, doc_id, score) → finishing step → doc_store join

    ``search()`` finishes its single query with a global sort [+ offset
    + limit k]; ``msearch()`` with one per-qid window.  The plan's shape
    does not depend on how many queries share it: the term/tag/shard
    filters and the fan-out maps are single SQL expressions, so its
    scans and exchanges do not grow with the batch width.

    Doc ids are dense per shard, so the shard's document lengths pack
    into ONE int32 array row (doc_len table): BM25 dl lookup is array
    indexing inside the kernel, and the query plan has a single input
    exchange — no doc_stats cogroup, scan, or sort at query time.

Semantics preserved from the reference:
- conjunctive AND across every query term AND every tag (int.go:7-49,
  search.go:86-95); a term with no postings anywhere ⇒ empty result
  (database.go:516-521 Found=false ⇒ empty group ⇒ empty intersection);
- phrase filter via relative-position algebra whenever the query has
  tokens (search.go:114-168), including the uint32-wraparound behavior
  of ``position - firstPos`` (positions below the first query position
  wrap, never match);
- parity scoring: TF-IDF ``(1+ln tf)·ln(N/df)`` summed over query terms,
  sorted ASCENDING (the reference's observable contract,
  search.go:105-111,170-189) with doc_id tie-break for determinism;
- BM25 mode (the flagship scorer): ``idf·(k1+1)·tf/(tf+k1·(1-b+b·dl/avgdl))``
  with idf = ln(1+(N-df+0.5)/(df+0.5)), score DESCENDING, doc_id
  tie-break, per-shard top-k inside the kernel then global top-k.

The kernel (``_make_kernel``) runs three scorers over ONE per-shard
decode layer (``_ShardGroup``).  The layer parses the group's rows once,
applies the AND shard veto, intersects tag and range rows, drops
must_not docs, looks up doc lengths, and decodes each term's doc-id,
tf and position blocks lazily, once each.  The scorers are block-max
AND, exhaustive AND (tags, ranges, must_not, parity, k=None) and
maxscore OR (``wand.py``).  They share one BM25 (``_bm25``, which also
gives the block bounds), one phrase filter, one tf gather and one
cursor + top-k merge (``_merge_topk``).

Scale notes: postings are read with a pushed-down term filter (files are
sorted by term within shard partitions → row-group pruning) and a shard
partition filter.  Where the kernel runs depends on a conservative
bound on its input's bytes (``_input_bound``, from the driver's term
statistics) against ``_LOCAL_INPUT_BYTES``, the measured size below
which scoring in the driver beats a Python worker stage:

- within it (most queries: rare and mid-frequency terms), the driver
  reads the input by key, as the reference gets its entities
  (search.go:37-111): pyarrow reads the candidate shards' postings,
  tags and doc_len files with the same term/tag filters
  (``_local_groups``), and the same kernel runs per (qid, shard) group
  in the driver.  A k-bounded bm25 result (``search``,
  ``search_prefix``/``search_fuzzy``, an all-top-k ``msearch``) also
  finishes there: top-k, then its hits' doc_store rows read by (shard,
  doc_id), as a local relation — no Spark job, built or collected —
  unless those hits' doc_store files hold more than
  ``_LOCAL_FETCH_BYTES``.  Such a top-k and the other results (parity,
  mixed batches, ``materialize=False``) become a local relation under
  the finishing plan below.  A range filter is a Spark predicate, so
  it costs one Spark job that collects its in-range doc ids;
- above it (head terms at crawl scale, a head-term
  ``delete_by_query``), the kernel fans out per shard through the
  grouped exchange with no postings shuffle — a distributed plan end
  to end.  So does every query on an index whose scheme pyarrow cannot
  open (``s3a://`` is Hadoop's; ``pyarrow.fs.FileSystem.from_uri``
  resolves local and ``file://`` paths, and the object-store schemes
  the installed pyarrow was built with).

The term dictionary and the key lookups are read by key too, on any
index pyarrow can open, as the reference's key gets (database.go:
501-583).  term_stats is bucketed by term range (the manifest's
``term_bounds``), so a term not yet in the engine's cache
(``_resolve_terms``) or a prefix (``search_prefix``) reads only the
buckets that can hold it; ``find_by_key`` reads doc_map by url, then
the document's doc_store shard, and ``get_doc(s)`` that shard alone
(``_fetch_docs``).  None of them runs a Spark job, as long as the files
a read opens hold at most ``_LOCAL_FETCH_BYTES`` (``_by_key``, as for
the hit fetch); a larger read (doc_map at crawl scale, a bucket of a
huge vocabulary) runs its Spark plan.  ``search_fuzzy``'s expansion
stays a Spark job: no term range bounds an edit distance.

The driver reads the files Spark listed for each table when the engine
opened (doc_map's when a key lookup first opened it), so both paths
read one snapshot of the index.  The finishing plan is the global
order (or msearch's per-qid window), and a materialization that
broadcasts a bounded result set against the shard-partitioned
doc_store.
"""

from __future__ import annotations

import bisect
import dataclasses
import functools
import itertools
import math
import os
from urllib.parse import unquote

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from ..functions import codec
from .index_build import BM25_B, BM25_K1, load_current_manifest, table_path

_WRAP = 1 << 32  # uint32 arithmetic in the reference's phrase algebra

RESULT_SCHEMA = "doc_id long, shard int, score double"
QID_RESULT_SCHEMA = "qid int, " + RESULT_SCHEMA

# the posting sidecars only the AND kernel reads: OR-query rows carry
# them as NULL, so no position data crosses the exchange for OR queries
_AND_ONLY_BLOBS = ("pos_blob", "block_last", "block_tf_off", "block_pos_off")
_SHARED_BLOBS = ("tf_blob", "block_off", "block_max_tf", "block_min_dl")
# the name of the synthetic tag row that carries a range filter
_RANGE_NAME = "\x00range"
# each table's partition column, typed int as Spark infers it from the
# directory names: shard=N, term_stats's term range tb=N; doc_map has none
_PART_COLS = {"term_stats": "tb", "doc_map": None}
# the term_stats columns the engine reads
_TERM_COLS = ("term", "df", "cf", "shards")


def _kernel_cols(generated: tuple = (), **src) -> list:
    """The kernels' grouped input row — qid, kind, name, shard, df,
    doc_blob and the 8 posting sidecars — less the ``generated``
    columns a generator in the same select yields.  ``src`` gives a
    column's source; the others pass through by name, absent sidecars
    as NULL."""
    null = F.lit(None).cast("binary")
    return [
        src.get(c, null if c in _SHARED_BLOBS + _AND_ONLY_BLOBS else F.col(c)).alias(c)
        for c in ("qid", "kind", "name", "shard", "df", "doc_blob")
        + _SHARED_BLOBS + _AND_ONLY_BLOBS
        if c not in generated
    ]


def _pack_range(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (qid, shard) group's in-range doc ids as a synthetic tag row
    in the tag sidecar's exact encoding (codec.encode_sorted)."""
    from watertower_spark.functions import codec

    ids = np.sort(pdf["doc_id"].to_numpy(dtype=np.int64))
    return pd.DataFrame({
        "qid": pd.Series([int(pdf["qid"].iloc[0])], dtype="int32"),
        "shard": pd.Series([int(pdf["shard"].iloc[0])], dtype="int32"),
        "n": pd.Series([int(ids.size)], dtype="int32"),
        "doc_blob": pd.Series([codec.encode_sorted(ids)], dtype="object"),
    })


def _sql_str(s: str) -> str:
    """A SQL string literal for any (user-supplied) string: its UTF-8
    bytes in hex, so no quote, backslash or non-ASCII character can end
    or change the literal.  Constant-folded, so an ``IN`` over these
    still pushes down as ``In(col, […])``."""
    return f"decode(X'{s.encode('utf-8').hex()}', 'UTF-8')"


def _sql_in(col: str, values) -> str:
    """``col IN (…)`` over ints as ONE SQL expression: ``Column.isin``
    costs a py4j round trip per literal, and ints embed safely."""
    return f"{col} IN ({', '.join(str(int(v)) for v in sorted(values))})"


def _sql_map(entries: dict, key=str, value=str) -> str:
    """A literal SQL ``map(…)`` of ``entries`` (never empty)."""
    return "map(" + ", ".join(f"{key(k)}, {value(v)}"
                              for k, v in entries.items()) + ")"


def _term_stat(row) -> tuple:
    """A term_stats row as the engine memoizes it: (df, shards, cf)."""
    return int(row["df"]), list(row["shards"]), int(row["cf"])


def _prefix_end(prefix: str) -> str | None:
    """The least string above every string that starts with ``prefix``
    (so those strings are exactly ``[prefix, end)``): its last
    character incremented once trailing U+10FFFF are dropped, skipping
    the surrogates no string holds.  None when there is none."""
    p = prefix.rstrip("\U0010ffff")
    if not p:
        return None
    c = ord(p[-1]) + 1
    return p[:-1] + chr(0xE000 if 0xD800 <= c <= 0xDFFF else c)


def _prefix_buckets(bounds: list, prefix: str, end: str | None) -> range:
    """The term_stats buckets (ranges under ``bounds``, see
    ``index_build.term_bucket_col``) that can hold a term in ``[prefix,
    end)``."""
    last = len(bounds) if end is None else bisect.bisect_left(bounds, end)
    return range(bisect.bisect_right(bounds, prefix), last + 1)


# ------------------------------------------------- driver-side execution

# the largest kernel-input bound, in bytes, that ``_compile`` gathers
# into the driver and scores there.  On a 4-core host over a 50,000-doc
# index, scoring in the driver beat the exchange on every query bound
# up to 3.2 MB, tied at 3.3 MB and lost from 6 MB (two-term AND, whose
# positions it decodes); 4 concurrent clients got more queries/s from
# it over bounds of 1.2-3.3 MB and fewer over 3.3-6 MB
_LOCAL_INPUT_BYTES = 2 << 20
# the most file bytes one by-key read in the driver opens (``_by_key``):
# a driver-finished top-k's hit fetch, a term, prefix or key lookup.
# A file under parquet's 128 MiB block size is one row group, so a
# pushed filter prunes nothing inside it.  pyarrow reads doc_store files at 160-190 MiB/s on
# a 4-core host (zstd, 1.3-5.2 MiB files), so 16 MiB is ~100 ms, below
# the ~160 ms of the broadcast join's two Spark jobs that finish a
# larger fetch instead.  On the same host a term_stats-shaped file (one
# row group, zstd) read with ``term IN`` or a prefix range took 4 ms at
# 0.3 MiB, 30 ms at 4.7 MiB and 72-97 ms at 13 MiB, and a doc_map-shaped
# one with ``url ==`` 4 ms at 0.3 MiB and 95 ms at 11 MiB, against
# 110-450 ms for the one Spark job that reads the same file instead
_LOCAL_FETCH_BYTES = 16 << 20
# worst-case bytes of one varint (a 64-bit doc id, tf, gap or count) and
# of one kernel-input row's fixed-width columns, offsets and validity
_VARINT = codec._MAX_VARINT_BYTES
_ROW_BYTES = 128


def _input_bound(post: dict, tagm: dict, lens: dict, rng: list, stats: dict,
                 n_cand, dps: int) -> int:
    """A conservative upper bound on the bytes of ``_compile``'s kernel
    input, from statistics the driver already holds.  Each posting copy
    (a term's rows for one (qid, kind)) counts every row of the term at
    the codec's worst case: ``_VARINT`` bytes per doc id and tf, plus
    per position and per position-list count on AND rows, plus the
    per-block sidecars.  Each doc_len row counts ``4·dps`` bytes; each
    tag and range copy counts a row holding every doc of the shard, in
    each of its query's ``n_cand(qid)`` candidate shards."""
    total = 0
    for term, copies in post.items():
        df, shards, cf = stats[term]
        blocks = df // codec.BLOCK_SIZE + len(shards)
        row = len(shards) * (_ROW_BYTES + len(term.encode("utf-8")))
        for _, _, wide in copies:
            # doc ids, tfs; block_off, block_max_tf, block_min_dl
            total += row + 2 * df * _VARINT + 16 * blocks
            if wide:  # positions; block_last, block_tf_off, block_pos_off
                total += (df + cf) * _VARINT + 24 * blocks
    for tag, copies in tagm.items():
        row = _ROW_BYTES + len(tag.encode("utf-8")) + dps * _VARINT
        total += sum(n_cand(q) for q, _, _ in copies) * row
    total += sum(map(len, lens.values())) * (_ROW_BYTES + 4 * dps)
    total += sum(n_cand(q) for q, _ in rng) * (_ROW_BYTES + dps * _VARINT)
    return total


def _run_groups(pdf: pd.DataFrame, dispatch) -> list:
    """``dispatch`` over each (qid, shard) group of the kernel input, in
    the driver: the same group frames ``applyInPandas`` hands a Python
    worker (all columns, a fresh index, rows in input order).  Returns
    the non-empty outputs."""
    outs = [dispatch(key, g.reset_index(drop=True))
            for key, g in pdf.groupby(["qid", "shard"], sort=True)]
    return [o for o in outs if len(o)]


def _arrow_filesystem(index_dir: str):
    """(pyarrow FileSystem, path on it) of ``index_dir``, or None when
    pyarrow cannot open its scheme (``s3a://`` is Hadoop's alone)."""
    uri = index_dir if "://" in index_dir else os.path.abspath(index_dir)
    try:
        return pafs.FileSystem.from_uri(uri)
    except (pa.ArrowException, OSError, ValueError):
        return None


def _fan_rows(tbl: pa.Table, key: str, fan: dict, shards: dict):
    """Each row of ``tbl`` once per (qid, kind) copy of ``fan[row's
    key]`` whose query can use the row's shard, in row order and then
    copy order (the order ``inline`` generates them in): the taken rows
    and the copies' qid, kind and wide lists."""
    idx, qid, kind, wide = [], [], [], []
    for i, (k, sh) in enumerate(zip(tbl.column(key).to_pylist(),
                                    tbl.column("shard").to_pylist())):
        for q, kd, w in fan[k]:
            if shards[q] is None or sh in shards[q]:
                idx.append(i), qid.append(q), kind.append(kd), wide.append(w)
    return tbl.take(pa.array(idx, pa.int64())), qid, kind, wide


def _kernel_table(qid: list, kind: list, name, shard, df, blobs: dict) -> pa.Table:
    """Kernel-input rows in ``_kernel_cols`` order and types (lists or
    Arrow columns); sidecars absent from ``blobs`` are NULL."""
    def col(v, t):
        return pa.chunked_array([v], t) if isinstance(v, list) else v.cast(t)
    cols = {"qid": col(qid, pa.int32()), "kind": col(kind, pa.string()),
            "name": col(name, pa.string()), "shard": col(shard, pa.int32()),
            "df": col(df, pa.int32())}
    for c in ("doc_blob",) + _SHARED_BLOBS + _AND_ONLY_BLOBS:
        cols[c] = col(blobs.get(c, [None] * len(qid)), pa.binary())
    return pa.table(cols)


def _fan_qids(fan: dict) -> set:
    """The queries with a copy in fan-out map ``fan``."""
    return {q for entries in fan.values() for q, _, _ in entries}


def _no_rows() -> pd.DataFrame:
    """No kernel output rows (QID_RESULT_SCHEMA's pandas types)."""
    return pd.DataFrame({"qid": np.empty(0, np.int32), "doc_id": np.empty(0, np.int64),
                         "shard": np.empty(0, np.int32), "score": np.empty(0, np.float64)})


def _dispatcher(kernels: dict):
    """The grouped function of both paths: a (qid, shard) group through
    its query's kernel, output rows tagged with the qid.  Only
    ``kernels`` is pickled with it."""
    def dispatch(key, pdf):
        qid = int(key[0])
        out = kernels[qid]()((key[1],), pdf)
        out.insert(0, "qid", np.full(len(out), qid, dtype="int32"))
        return out
    return dispatch


@dataclasses.dataclass
class QuerySpec:
    """One query as the compiler sees it — what every search entry point
    (``search``, ``search_prefix``/``search_fuzzy``, ``msearch``)
    reduces its arguments to.

    ``tokens`` maps each scored term to its query positions (the
    analyzer's output); ``tags`` are conjunctive filters; ``excl`` and
    ``excl_tags`` are must_not terms and tags; ``ranges`` is the
    compiled doc_store range predicate (``SearchEngine._compile_ranges``)
    or None.  ``mode`` is ``parity``|``bm25``, ``op`` ``and``|``or``.
    ``k``/``offset``/``after`` are the page: top ``k`` after skipping
    ``offset``, or strictly after the ``(score, doc_id)`` cursor
    ``after``.  Parity mode is unbounded by contract and ignores
    ``offset``.  ``k=0`` is the defined empty result."""

    tokens: dict
    tags: list = dataclasses.field(default_factory=list)
    excl: set = dataclasses.field(default_factory=set)
    excl_tags: list = dataclasses.field(default_factory=list)
    ranges: object = None
    mode: str = "bm25"
    op: str = "and"
    k: int | None = 10
    offset: int = 0
    after: tuple | None = None

    def __post_init__(self):
        if self.k is not None and self.k < 0:
            raise ValueError(f"k (size) must be >= 0, got {self.k}")
        if self.offset < 0:
            raise ValueError(f"offset (from) must be >= 0, got {self.offset}")
        if self.after is not None:
            if self.mode != "bm25" or self.k is None:
                raise ValueError("search_after requires mode='bm25' and k")
            if self.offset:
                raise ValueError("search_after and offset (from) are "
                                 "mutually exclusive")
            self.after = (float(self.after[0]), int(self.after[1]))
        if self.op == "or":
            if self.mode != "bm25":
                raise ValueError("operator='or' supports mode='bm25' only")
            if self.k is None:
                self.k = 10
            # an excluded term knocks itself out of the scored
            # disjunction: any doc containing it is excluded, so it can
            # never contribute
            self.tokens = {t: p for t, p in self.tokens.items()
                           if t not in self.excl}


@dataclasses.dataclass
class _Batch:
    """A compiled query batch (``SearchEngine._batch``): each query's
    kernel and candidate shards, and for each input key the queries'
    copies of its rows.  Both kernel-input producers read these maps."""

    stats: dict      # term -> (df, shards, cf), from term_stats
    n_shards: int
    dps: int
    kernels: dict = dataclasses.field(default_factory=dict)  # qid -> kernel factory
    shards: dict = dataclasses.field(default_factory=dict)   # qid -> shard set (None: all)
    post: dict = dataclasses.field(default_factory=dict)     # term -> [(qid, kind, wide)]
    tagm: dict = dataclasses.field(default_factory=dict)     # tag -> [(qid, kind, wide)]
    lens: dict = dataclasses.field(default_factory=dict)     # shard -> [qid] needing its dl
    rng: list = dataclasses.field(default_factory=list)      # (qid, range predicate)

    def n_cand(self, qid: int) -> int:
        """How many shards ``qid``'s input can come from."""
        sh = self.shards[qid]
        return len(sh) if sh is not None else self.n_shards

    def shard_union(self, qids):
        """The union of ``qids``' candidate shards; None when one of
        them may use every shard."""
        sets = [self.shards[q] for q in qids]
        return None if any(x is None for x in sets) else set().union(*sets)

    def shard_filter(self, qids) -> str:
        """A scan's SQL shard IN over the union of ``qids``' shards."""
        sh = self.shard_union(qids)
        return "true" if sh is None else _sql_in("shard", sh)

    def own_shards(self, qid: str) -> str:
        """SQL keeping a row only in its query's (``qid``, an
        expression) own candidate shards."""
        restricted = {q: sh for q, sh in self.shards.items() if sh is not None}
        if not restricted:
            return "true"
        qmap = _sql_map(restricted, value=lambda sh: f"array({', '.join(map(str, sorted(sh)))})")
        return f"coalesce(array_contains(element_at({qmap}, {qid}), shard), true)"


# packs (candidate index, relative position) into one int64 key for the
# batched phrase filter: rel < 2^32 < 2^33, so the key space is exact up
# to 2^30 candidates per shard (docs_per_shard is far below that)
_PHRASE_KEY = np.int64(1) << np.int64(33)


def _phrase_rel_keys(pos_lists: list, query_positions: list) -> np.ndarray:
    """search.go:141-160 over EVERY candidate at once: returns int64 keys
    ``cand_idx * 2^33 + rel`` for each valid relative start offset of
    the query-word pattern, across all docs.

    The r5 kernel looped per candidate doc (one tiny numpy op chain per
    doc — measured as the dominant cost of phrase queries at sf1.0:
    3.3-3.9 s/exec for q_parity_phrase, ~85% kernel).  Here the per-doc
    position arrays are flattened once; the same-doc membership test is
    one searchsorted over the (doc, position) key stream per extra query
    position (guide §4.2: hand whole batches to vectorized numpy, never
    loop per row).  Same algebra as the reference, including the uint32
    wraparound (positions below the first query position wrap and never
    match)."""
    n = len(pos_lists)
    lens = np.fromiter((p.size for p in pos_lists), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    flat = np.concatenate(pos_lists).astype(np.int64, copy=False)
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    qp0 = query_positions[0]
    rest = query_positions[1:]
    if not rest:
        return doc_idx * _PHRASE_KEY + (flat - qp0) % _WRAP
    base_keys = doc_idx * _PHRASE_KEY + flat  # sorted: doc asc, pos asc
    ok = np.ones(total, dtype=bool)
    for qi in rest:
        want = doc_idx * _PHRASE_KEY + (flat - qp0 + qi) % _WRAP
        j = np.minimum(np.searchsorted(base_keys, want), total - 1)
        ok &= base_keys[j] == want
    return doc_idx[ok] * _PHRASE_KEY + (flat[ok] - qp0) % _WRAP


def _bm25(tf, dl, idf: float, avgdl: float):
    """BM25 term weight ``idf·(k1+1)·tf/(tf+k1·(1-b+b·dl/avgdl))``.

    Evaluated at a block's (block_max_tf, block_min_dl) it is the
    block's upper bound under the live avgdl (the weight rises in tf and
    falls in dl, so the bound stays sound after appends or removals
    drift avgdl).  Bound and score run the same float operations, so
    the bound bit-equals the score of a posting that attains it: a
    strict ``bound < kth`` prune can never drop a doc that ties the
    kth score."""
    return idf * (BM25_K1 + 1.0) * tf / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / max(avgdl, 1e-9)))


_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0, dtype="float64"))


def _merge_topk(ids: np.ndarray, sc: np.ndarray, k: int | None,
                after: tuple | None, top: tuple = _NO_HITS) -> tuple:
    """Merge a scored batch into the per-shard ``top`` (ids, scores),
    keeping the first ``k`` (all when None) under (score DESC, doc_id
    ASC).  ``after=(score, doc_id)`` is an ES ``search_after`` cursor:
    docs not strictly after it leave the batch BEFORE the merge, so a
    kth-score pruning threshold only ever comes from surviving docs and
    per-shard state stays k-bounded however deep the page.  Score
    equality is exact: the same doc reproduces the same float64 under
    the same arithmetic, which is how the cursor was produced."""
    if after is not None:
        a_s, a_d = after
        keep = (sc < a_s) | ((sc == a_s) & (ids > a_d))
        ids, sc = ids[keep], sc[keep]
    if top[0].size:
        ids, sc = np.concatenate((top[0], ids)), np.concatenate((top[1], sc))
    if k is not None and ids.size > k:
        sel = np.lexsort((ids, -sc))[:k]
        ids, sc = ids[sel], sc[sel]
    return ids, sc


def _concat(parts: list, dtype) -> np.ndarray:
    return np.concatenate(parts) if parts else np.empty(0, dtype=dtype)


class _Postings:
    """One posting row (a scored or an excluded term) of a shard group.

    Sidecars are parsed on first use (OR-query rows carry the AND-only
    ones as NULL) and each block's doc ids, tfs and positions decode at
    most once.  ``idf`` is the term's weight under the query's mode and
    ``qpos`` its query positions; both are unset for excluded terms."""

    def __init__(self, row, qpos=None, idf: float = 0.0, avgdl: float = 0.0):
        self.row, self.df, self.qpos, self.idf = row, int(row.df), qpos, idf
        self.avgdl = avgdl
        self._ids: dict = {}
        self._tfs: dict = {}
        self._pos: dict = {}

    @functools.cached_property
    def last(self) -> np.ndarray:
        """Last doc id of each block (the skip pointers)."""
        return np.frombuffer(self.row.block_last, dtype=np.int64)

    @functools.cached_property
    def ub(self) -> np.ndarray:
        """Per-block BM25 upper bounds under the live avgdl."""
        bmt, bmd = (np.frombuffer(b, dtype=np.int32).astype("float64")
                    for b in (self.row.block_max_tf, self.row.block_min_dl))
        return _bm25(bmt, bmd, self.idf, self.avgdl)

    @functools.cached_property
    def boff(self) -> np.ndarray:
        """Byte offset of each block in the doc-id blob."""
        return np.frombuffer(self.row.block_off, dtype=np.int64)

    def blocks_of(self, cand: np.ndarray) -> list:
        """The blocks whose id range can hold a doc of sorted ``cand``."""
        b = np.unique(np.searchsorted(self.last, cand))
        return b[b < self.last.size].tolist()

    def _blocks(self, cache: dict, blocks: list, decode) -> list:
        miss = [b for b in blocks if b not in cache]
        if miss:
            cache.update(zip(miss, decode(miss)))
        return [cache[b] for b in blocks]

    def _size(self, b: int) -> int:
        return min(codec.BLOCK_SIZE, self.df - b * codec.BLOCK_SIZE)

    def ids(self, blocks: list | None = None) -> np.ndarray:
        """Doc ids of the sorted, distinct ``blocks`` (every block when
        None), concatenated."""
        def decode(miss):
            got, _ = codec.decode_doc_blocks(self.row.doc_blob, self.boff, self.df,
                                             np.array(miss), codec.BLOCK_SIZE)
            return np.split(got, np.cumsum([self._size(b) for b in miss[:-1]]))
        if blocks is None:
            blocks = list(range(self.boff.size))
        return _concat(self._blocks(self._ids, blocks, decode), np.int64)

    def locate(self, cand: np.ndarray) -> tuple:
        """Sorted ``cand``, all in this list → (the blocks holding them,
        each candidate's index into those blocks' postings)."""
        blocks = self.blocks_of(cand)
        return blocks, np.searchsorted(self.ids(blocks), cand)

    def tf_of(self, cand: np.ndarray) -> np.ndarray:
        """Each candidate's tf (float64); only blocks holding one decode."""
        blocks, i = self.locate(cand)
        tfs = self._blocks(self._tfs, blocks, lambda miss: codec.decode_tf_blocks(
            self.row.tf_blob, np.frombuffer(self.row.block_tf_off, dtype=np.int64),
            miss).values())
        return _concat(tfs, np.int64)[i].astype("float64")

    def positions_of(self, cand: np.ndarray) -> list:
        """Each candidate's position array; only blocks holding one decode."""
        blocks, i = self.locate(cand)
        poff = np.frombuffer(self.row.block_pos_off, dtype=np.int64)
        pend = np.append(poff[1:], len(self.row.pos_blob))
        flat = list(itertools.chain.from_iterable(self._blocks(
            self._pos, blocks, lambda miss: [
                codec.decode_position_block(self.row.pos_blob, int(poff[b]),
                                            int(pend[b]), self._size(b))
                for b in miss])))
        return [flat[j] for j in i.tolist()]

    def postings(self) -> tuple:
        """Every posting as (doc ids, tfs)."""
        return codec.unpack_postings(self.row._asdict())


class _ShardGroup:
    """The per-shard decode layer under all three scorers: one (qid,
    shard) group's rows — kinds term, not, tag (tags and synthetic range
    rows), nottag and len — parsed once.  Every group row is read here
    and nowhere else."""

    def __init__(self, pdf: pd.DataFrame, query_tokens: dict, idf: dict,
                 avgdl: float, base: int):
        self.avgdl, self.base = avgdl, base
        self.terms: dict = {}  # name -> _Postings, in group row order
        self.nots: list = []
        self.tags: list = []
        self.nottags: list = []
        self.dl_arr = None
        for row in pdf.itertuples(index=False):
            if row.kind == "term":
                self.terms[row.name] = _Postings(
                    row, query_tokens[row.name], idf[row.name], avgdl)
            elif row.kind == "not":
                self.nots.append(_Postings(row))
            elif row.kind == "nottag":
                self.nottags.append(row.doc_blob)
            elif row.kind == "len":
                self.dl_arr = np.frombuffer(row.doc_blob, dtype=np.int32)
            else:
                self.tags.append(row)

    def dl(self, ids: np.ndarray) -> np.ndarray:
        """BM25 doc lengths: doc ids are dense per shard, so the lookup
        is array indexing into the shard's dl row."""
        if self.dl_arr is None:
            # postings without a doc_len row = an index integrity gap
            # (interrupted wave-2 write) — score degraded but LOUDLY
            import warnings

            warnings.warn(
                "shard has postings but no doc_len row; BM25 falls "
                "back to dl=avgdl (run resume_build to repair)"
            )
            return np.full(ids.size, self.avgdl, dtype="float64")
        return self.dl_arr[ids - self.base - 1].astype("float64")

    def intersect(self, terms: list = ()):
        """Doc ids carrying every tag/range row and every list in
        ``terms`` (None when there are neither).  Seeded from the
        smallest by df (int.go:8-10's smallest-first strategy); a later
        term list decodes only the blocks that can hold a survivor."""
        cand = None
        for x in sorted([*terms, *self.tags], key=lambda x: int(x.df)):
            if cand is not None and cand.size == 0:
                break
            if isinstance(x, _Postings):
                ids = x.ids(None if cand is None else x.blocks_of(cand))
            else:
                ids = codec.decode_sorted(x.doc_blob)
            cand = ids if cand is None else cand[np.isin(cand, ids, assume_unique=True)]
        return cand

    def excluded(self, cand: np.ndarray | None = None):
        """The sorted doc ids carrying any must_not term or tag (ES bool
        semantics, a flagged extension: the reference DSL is
        conjunctive-only), or None when the group has no exclusions.
        Excluded postings decode doc-id blocks only: those that can hold
        one of sorted ``cand``, or all of them when ``cand`` is None
        (OR rows carry no skip pointers).  An excluded term or tag
        absent from this shard excludes nothing here."""
        parts = [codec.decode_sorted(b) for b in self.nottags]
        parts += [t.ids(None if cand is None else t.blocks_of(cand))
                  for t in self.nots]
        return np.unique(np.concatenate(parts)) if parts else None


def _phrase_filter(terms: list, cand: np.ndarray) -> np.ndarray:
    """The candidates where every term's query positions line up
    (search.go:97-99, applied whenever the query has tokens): per term,
    only the position blocks holding a candidate decode, and the
    per-term relative-start key streams intersect in one vectorized
    pass (``_phrase_rel_keys``)."""
    keys = None
    for t in terms:
        tk = _phrase_rel_keys(t.positions_of(cand), t.qpos)
        keys = tk if keys is None else keys[np.isin(keys, tk)]
        if keys.size == 0:
            return cand[:0]
    return cand[np.unique(keys // _PHRASE_KEY)]


def _blockmax_and(sh: _ShardGroup, k: int, after, phrase: bool) -> tuple:
    """BM25 AND top-k by block-max WAND, driven by the SMALLEST list
    (round-3 verdict #7).  Its blocks are visited in descending
    optimistic-bound order (own block bound + Σ other terms' global
    max bound); each is refined against the other terms' overlapping
    blocks' bounds and skipped with NO doc/tf/position decode once no
    remaining block can beat the kth score.  The phrase filter only
    removes candidates, so pruning on a score bound before it is sound.
    A one-term query has no other lists; it skips the phrase step unless
    the term repeats in the query.  Scores sum in df order, and every
    bound sums in that same order, so no bound sits below a score."""
    by_df = sorted(sh.terms.values(), key=lambda t: t.df)
    drv, others = by_df[0], by_df[1:]
    loose = drv.ub
    for t in others:
        loose = loose + t.ub.max()
    top, kth = _NO_HITS, -np.inf
    for b in np.argsort(-loose, kind="stable").tolist():
        # strict <: a block whose bound ties kth can hold a TYING doc
        # with a smaller doc_id, which the tie-break contract surfaces
        if top[0].size >= k and loose[b] < kth:
            break
        lo_id = int(drv.last[b - 1]) + 1 if b else 0
        hi_id = int(drv.last[b])
        bound = float(drv.ub[b])
        for t in others:
            j0 = int(np.searchsorted(t.last, lo_id))
            if j0 == t.last.size:
                bound = None  # no overlap ⇒ empty intersection
                break
            j1 = min(int(np.searchsorted(t.last, hi_id)), t.last.size - 1)
            bound += float(t.ub[j0:j1 + 1].max())
        if bound is None or (top[0].size >= k and bound < kth):
            continue  # a refined bound prunes; looser blocks may follow
        cand = drv.ids([b])
        for t in others:
            cand = cand[np.isin(cand, t.ids(t.blocks_of(cand)), assume_unique=True)]
        if phrase:
            cand = _phrase_filter(by_df, cand)
        if cand.size == 0:
            continue
        dl = sh.dl(cand)
        sc = np.zeros(cand.size, dtype="float64")
        for t in by_df:
            sc += _bm25(t.tf_of(cand), dl, t.idf, sh.avgdl)
        top = _merge_topk(cand, sc, k, after, top)
        if top[0].size >= k:
            kth = top[1].min()
    return top


def _exhaustive_and(sh: _ShardGroup, terms: list, bm25: bool, k, after,
                    phrase: bool) -> tuple:
    """AND over every term, tag and range row, scored exhaustively:
    intersect, drop excluded docs (before the phrase filter, scoring
    and top-k, so no later stage can undo an exclusion), filter
    phrases, then score.  Scores sum in query-token order."""
    cand = sh.intersect(terms)
    if cand is None or cand.size == 0:
        return _NO_HITS
    ex = sh.excluded(cand)
    if ex is not None:
        cand = cand[~np.isin(cand, ex, assume_unique=True)]
    if phrase:
        cand = _phrase_filter(terms, cand)
    if cand.size == 0:
        return _NO_HITS
    scores = np.zeros(cand.size, dtype="float64")
    dl = sh.dl(cand) if bm25 and terms else None
    for t in terms:
        tf = t.tf_of(cand)
        # parity: tfIdfScore (search.go:182-188); tf>0 always here
        scores += _bm25(tf, dl, t.idf, sh.avgdl) if bm25 else (1.0 + np.log(tf)) * t.idf
    return _merge_topk(cand, scores, k, after)


def _maxscore_or(sh: _ShardGroup, k: int, after) -> tuple:
    """OR top-k: each term's postings restricted to the shard's filters
    (tags stay CONJUNCTIVE in OR mode, as ES bool ``filter`` clauses;
    excluded docs leave too), scored by ``wand.maxscore``.  Restricting
    at decode time keeps the maxscore θ bootstrap a valid lower bound
    over the FILTERED corpus."""
    from .wand import maxscore

    allowed = sh.intersect()
    if not sh.terms or (allowed is not None and allowed.size == 0):
        return _NO_HITS
    excl = sh.excluded()
    lists = []
    for t in sh.terms.values():
        ids, tfs = t.postings()
        keep = np.ones(ids.size, dtype=bool)
        if allowed is not None:
            keep &= np.isin(ids, allowed, assume_unique=True)
        if excl is not None:
            keep &= ~np.isin(ids, excl, assume_unique=True)
        lists.append((float(t.ub.max(initial=0.0)), t.idf, ids[keep], tfs[keep]))
    return maxscore(lists, sh.dl, sh.avgdl, k, after)


def _make_kernel(query_tokens: dict, df_global: dict, doc_count: int,
                 avgdl: float, mode: str, k: int | None, n_tags: int = 0,
                 docs_per_shard: int = 0, has_excl: bool = False,
                 after: tuple | None = None, op: str = "and"):
    """The per-(qid, shard) kernel: parses the group once
    (``_ShardGroup``) and hands it to one of three scorers:

    - ``op='or'``: vectorized maxscore (``wand.maxscore``);
    - BM25 AND with a ``k``, no tag/range filter and no exclusion:
      block-max top-k (``_blockmax_and``);
    - every other AND query, parity mode included: exhaustive scoring
      (``_exhaustive_and``).

    SINGLE grouped input: postings, tag and doc-length rows for this
    shard ride the same exchange (the kind column discriminates).
    ``after`` is a ``search_after`` cursor (see ``_merge_topk``).
    Parity mode is unbounded by contract, so it keeps every doc."""
    if mode != "bm25":
        k = after = None
    idf = {t: math.log(doc_count / df) if mode == "parity"
           else math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))
           for t, df in df_global.items()}
    # a single-term query whose term occurs once in the query string
    # cannot fail the phrase filter: relative positions are non-empty
    # iff the doc holds the term, which intersection guarantees
    phrase = sum(map(len, query_tokens.values())) > 1

    def kernel(key, groups_pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        sh = _ShardGroup(groups_pdf, query_tokens, idf, avgdl, shard * docs_per_shard)
        if groups_pdf.empty or len(sh.tags) < n_tags:
            ids, sc = _NO_HITS  # every filter tag must exist in this shard
        elif op == "or":
            ids, sc = _maxscore_or(sh, k, after)
        elif len(sh.terms) < len(query_tokens):
            ids, sc = _NO_HITS  # AND: an absent term vetoes the shard
        elif k is not None and query_tokens and not sh.tags and not has_excl:
            ids, sc = _blockmax_and(sh, k, after, phrase)
        else:
            ids, sc = _exhaustive_and(sh, [sh.terms[t] for t in query_tokens],
                                      mode == "bm25", k, after, phrase)
        return pd.DataFrame({"doc_id": ids.astype("int64"),
                             "shard": np.full(ids.size, shard, dtype="int32"),
                             "score": sc})

    return kernel


class SearchEngine:
    """Loads a built index and answers searches as DataFrames.

    Instances snapshot the manifest and memoize term statistics at load;
    after mutating the index (append/remove/upsert), create a fresh
    SearchEngine rather than reusing one built against the old snapshot.
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        from watertower_spark.session import ensure_executors_can_import

        ensure_executors_can_import(spark)
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = load_current_manifest(index_dir)
        from watertower_spark.functions import fsio

        from .index_build import DOC_LEN_SCHEMA, POSTING_SCHEMA, TAG_SCHEMA

        def _read_tbl(path: str, schema: str):
            """Read an index table; a dir that EXISTS but holds zero
            parquet files (a zero-doc index: created empty, or a
            delete_by_query that removed every doc) falls back to an
            empty frame with the table's canonical schema so the engine
            loads and serves empty results.  A MISSING dir still raises
            — that's a broken index, not an empty one."""
            from pyspark.errors import AnalysisException

            try:
                return spark.read.parquet(path)
            except AnalysisException:
                if not fsio.exists(path):
                    raise
                return spark.createDataFrame([], schema)

        self.postings = _read_tbl(f"{index_dir}/postings", POSTING_SCHEMA)
        self.doc_stats = _read_tbl(f"{index_dir}/doc_stats",
                                   "doc_id long, wc int, twc int, shard int")
        self.doc_len = _read_tbl(f"{index_dir}/doc_len", DOC_LEN_SCHEMA)
        self.doc_store = _read_tbl(
            f"{index_dir}/doc_store",
            "url string, warc_ts timestamp, text string, lang string, "
            "doc_id long, shard int",
        )
        self.tags = (
            _read_tbl(f"{index_dir}/tags", TAG_SCHEMA)
            if self.manifest.get("has_tags") else None
        )
        # replaced tables resolve through the manifest's versioned
        # pointers (object-store-safe publish; see maintenance)
        self.term_stats = _read_tbl(
            table_path(index_dir, self.manifest, "term_stats"),
            "term string, df long, cf long, shards array<int>, tb int",
        )
        self._doc_map_path = table_path(index_dir, self.manifest, "doc_map")
        self._stats_cache: dict = {}
        self._listings: dict = {}  # table -> {shard: files}, on first use
        self._part_bytes: dict = {}  # table -> {partition: its files' bytes}
        # LOUD integrity check at load, DRIVER-side (round-3 verdict #4 /
        # ADVICE: the executor-kernel warning lands in Python-worker
        # stderr a user never reads while results silently mis-score).
        # A shard with postings but no doc_len row means an interrupted
        # wave-2 write: BM25 would fall back to dl=avgdl there.  Expose
        # the shard list; raising is left to the caller so a service can
        # choose to serve degraded while resume_build repairs.
        have_p = set(fsio.list_shard_dirs(f"{index_dir}/postings"))
        have_l = set(fsio.list_shard_dirs(f"{index_dir}/doc_len"))
        self.degraded_shards = sorted(have_p - have_l)
        if self.degraded_shards:
            import warnings

            warnings.warn(
                f"index at {index_dir} is DEGRADED: shards "
                f"{self.degraded_shards} have postings but no doc_len — "
                f"BM25 scores there fall back to dl=avgdl; run "
                f"resume_build to repair",
                stacklevel=2,
            )

    def _const_cols(self, key: str, builder) -> list:
        """Memoized constants: Column lists (the kernel-input
        projections and sort orders are identical for every query this
        engine answers; Columns are immutable, so building them once
        removes ~30 py4j round trips per part per query) and schemas."""
        cache = self.__dict__.setdefault("_cc", {})
        cols = cache.get(key)
        if cols is None:
            cols = cache[key] = builder()
        return cols

    def _empty_result(self) -> DataFrame:
        """Memoized empty (qid, doc_id, shard, score) frame — the
        compiled result when no query can match; DataFrames are
        immutable, so one instance serves every query this engine
        answers."""
        e = self.__dict__.get("_empty_df")
        if e is None:
            e = self._empty_df = self.spark.createDataFrame([], QID_RESULT_SCHEMA)
        return e

    def _kernel_partitions(self, n_groups: int | None = None) -> int:
        """Explicit partition count for a grouped kernel exchange of
        ``n_groups`` (qid, shard) groups (default: one per shard).

        AQE's byte-based partition coalescing sees only the few MB of
        posting/tag blobs a query touches and collapses the kernel's
        exchange to ONE partition, serializing every shard group
        through a single Python worker (measured r06: the sf1.0 kernel
        stage ran as one ~380 ms task instead of 32 parallel ones; the
        same trap CLAUDE.md pins for the build's Python-CPU stages).  A
        user-specified repartition N is exempt from coalescing, so the
        kernel exchange is pinned to the group fan-out capped by the
        LIVE parallelism — scale-adaptive, never a constant."""
        n = n_groups or int(self.manifest.get("n_shards") or 1)
        return max(1, min(int(n), self.spark.sparkContext.defaultParallelism))

    def _resolve_terms(self, terms: list) -> dict:
        """term → (df, shard list, cf) from the global term_stats table,
        memoized driver-side (absent terms cached as None).  Terms not
        yet cached are read by key: pyarrow reads only their term-range
        buckets' files (``_scan``), with no Spark job, unless those hold
        more than ``_LOCAL_FETCH_BYTES`` or pyarrow cannot open the index
        (``_by_key``); then one Spark job filters term_stats."""
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            bounds = self.manifest["term_bounds"]
            buckets = {bisect.bisect_right(bounds, t) for t in missing}
            if self._by_key("term_stats", buckets):
                rows = self._scan("term_stats", buckets, ds.field("term").isin(missing),
                                  list(_TERM_COLS)).to_pylist()
            else:
                rows = self.term_stats.where(F.col("term").isin(missing)).collect()
            found = {r["term"]: _term_stat(r) for r in rows}
            for t in missing:
                self._stats_cache[t] = found.get(t)
        return {t: self._stats_cache[t] for t in terms}

    # ----------------------------------------------------- query compiler

    def _spec(self, word: str = "", tags: list | None = None, lang: str = "",
              mode: str = "bm25", k: int | None = None, operator: str = "and",
              offset: int = 0, exclude_words: str = "",
              exclude_tags: list | None = None,
              search_after: tuple | None = None,
              ranges: dict | None = None) -> QuerySpec:
        """Analyze one query's words with the index's analyzer and
        validate it into a ``QuerySpec``.  The parameter names are
        ``msearch``'s entry keys."""
        from watertower_spark.analyzers import analyze_query

        default_lang = self.manifest.get("default_lang") or ""
        analyzer_lang = self.manifest.get("analyzer_lang") or lang or ""

        def analyze(text):
            return analyze_query(text, analyzer_lang, default_lang) if text else {}

        return QuerySpec(
            tokens=analyze(word), tags=list(tags or []),
            excl=set(analyze(exclude_words)),
            excl_tags=list(exclude_tags or []),
            # validated loudly up front, before any plan is built
            ranges=self._compile_ranges(ranges) if ranges else None,
            mode=mode, op=operator, k=k, offset=offset or 0,
            after=search_after)

    def _batch(self, specs: list) -> _Batch:
        """Reduce ``specs`` to one ``_Batch``: each query that can match
        gets its kernel and candidate shards, and its terms, tags, dl
        arrays and ranges join the batch's fan-out maps.  A query that
        cannot match (k=0, an unknown required term, no shard holding
        every term, …) contributes nothing."""
        m = self.manifest
        n_docs, avgdl = int(m["doc_count"]), float(m["avgdl"])
        dps = int(m["docs_per_shard"])
        terms = sorted({t for s in specs for t in (*s.tokens, *s.excl)})
        resolved = self._resolve_terms(terms) if terms else {}
        b = _Batch(stats=resolved, n_shards=int(m.get("n_shards") or 1), dps=dps)
        for qid, s in enumerate(specs):
            if s.k == 0 or (s.tags and self.tags is None) \
                    or set(s.tags) & set(s.excl_tags):
                continue
            req = sorted(s.tokens)
            if s.op == "or":
                req = [t for t in req if resolved[t] is not None]
                if not req:  # no scored term exists anywhere
                    continue
                cand = set().union(*(resolved[t][1] for t in req))
            else:
                if not (req or s.tags or s.ranges is not None) \
                        or s.excl & set(req) \
                        or any(resolved[t] is None for t in req):
                    continue
                # AND candidates live only where EVERY term appears
                cand = set.intersection(
                    *(set(resolved[t][1]) for t in req)) if req else None
                if cand is not None and not cand:
                    continue
            # exclusion only matters where candidates can live; excluded
            # terms/tags absent from the index exclude nothing
            excl = [t for t in sorted(s.excl) if resolved[t] is not None
                    and (cand is None or cand & set(resolved[t][1]))]
            excl_tags = s.excl_tags if self.tags is not None else []
            wide = s.op == "and"
            for fan, keys, kind in ((b.post, req, "term"), (b.post, excl, "not"),
                                    (b.tagm, s.tags, "tag"),
                                    (b.tagm, excl_tags, "nottag")):
                for key in dict.fromkeys(keys):
                    fan.setdefault(key, []).append((qid, kind, wide))
            if s.ranges is not None:
                b.rng.append((qid, s.ranges))
            if req and (s.op == "or" or s.mode == "bm25"):
                for sh in cand:
                    b.lens.setdefault(int(sh), []).append(qid)
            b.shards[qid] = cand
            df_global = {t: resolved[t][0] for t in req}
            n_tags = len(set(s.tags)) + (s.ranges is not None)
            k = None if s.k is None else s.k + s.offset
            # a factory partial pickles the factory by reference; a
            # built kernel closure pickles by value (~3 ms each), which
            # made plan construction grow with the batch width
            b.kernels[qid] = functools.partial(
                _make_kernel, s.tokens, df_global, n_docs, avgdl, s.mode, k,
                n_tags=n_tags, docs_per_shard=dps,
                has_excl=bool(excl or excl_tags), after=s.after, op=s.op)
        return b

    def _compile(self, specs: list):
        """The one query compiler: ``specs`` → (qid, doc_id, shard,
        score) rows, qid = position in ``specs``, each query's rows
        bounded per shard by its kernel (top ``k + offset`` in bm25).
        Every search entry point runs through here; only the finishing
        step (global sort/limit, or a per-qid window) is theirs.

        When the input's bound (``_input_bound``) is within
        ``_LOCAL_INPUT_BYTES`` and pyarrow can open the index, the rows
        come back as a pandas frame scored in the driver: the input is
        read by key (``_local_groups``) and each group runs through the
        same ``dispatch`` — the same kernels on the same group frames,
        so both paths give the same rows, score bits included.
        Otherwise they are the distributed plan: ``_spark_groups`` into
        ONE grouped exchange keyed by (qid, shard) that dispatches each
        group to its query's kernel (``_make_kernel``)."""
        b = self._batch(specs)
        local = _input_bound(b.post, b.tagm, b.lens, b.rng, b.stats, b.n_cand,
                             b.dps) <= _LOCAL_INPUT_BYTES
        if not b.kernels:
            return _no_rows() if local else self._empty_result()
        dispatch = _dispatcher(b.kernels)
        if local and self._arrow_root is not None:
            outs = _run_groups(self._local_groups(b), dispatch)
            return pd.concat(outs, ignore_index=True) if outs else _no_rows()
        n_part = self._kernel_partitions(sum(map(b.n_cand, b.shards)))
        return self._spark_groups(b, n_part).repartition(n_part, "qid", "shard").groupBy(
            "qid", "shard").applyInPandas(dispatch, schema=QID_RESULT_SCHEMA)

    def _spark_groups(self, b: _Batch, n_part: int) -> DataFrame:
        """The kernel input as one Spark plan.  Postings, tags and
        doc_len are each scanned ONCE with pushed term/tag IN and shard
        IN filters over every query's inputs, and each row fans out to
        its (qid, kind) with ``inline(element_at(<literal map>, term))``
        — no broadcast join, no driver-side DataFrame.  A per-qid shard
        filter keeps each query to its own candidate shards.  Range
        filters add one doc_store scan whose in-range doc ids are packed
        per (qid, shard) into synthetic tag rows.  Filters and maps are
        single SQL expressions, so plan size and driver cost stay flat
        as the batch grows."""

        def fan_out(table: DataFrame, col: str, fan: dict, per_copy: tuple,
                    cols: list) -> DataFrame:
            """Scan ``table`` once for every key of ``fan`` and give each
            row one copy per (qid, kind) that asked for its key: the
            generator yields qid, kind and the ``per_copy`` columns (x is
            the copy's map entry), ``cols`` the rest of the row."""
            fmap = _sql_map(fan, key=_sql_str, value=lambda es: "array(" + ", ".join(
                f"named_struct('qid', {q}, 'kind', '{kind}', 'wide', {str(w).lower()})"
                for q, kind, w in es) + ")")
            copy = "".join(f", '{c}', {sql}" for c, sql in per_copy)
            return (
                table.where(F.expr(f"{col} IN ({', '.join(map(_sql_str, fan))}) "
                                   f"AND {b.shard_filter(_fan_qids(fan))}"))
                .select(F.expr(
                    f"inline(transform(filter(element_at({fmap}, {col}), "
                    f"x -> {b.own_shards('x.qid')}), "
                    f"x -> named_struct('qid', x.qid, 'kind', x.kind{copy})))"),
                    *cols))

        parts = []
        if b.post:
            parts.append(fan_out(
                self.postings, "term", b.post,
                tuple((c, f"IF(x.wide, {c}, NULL)") for c in _AND_ONLY_BLOBS),
                self._const_cols("k_post", lambda: _kernel_cols(
                    ("qid", "kind") + _AND_ONLY_BLOBS, name=F.col("term"),
                    **{c: F.col(c) for c in _SHARED_BLOBS}))))
        if b.tagm:
            parts.append(fan_out(
                self.tags, "tag", b.tagm, (),
                self._const_cols("k_tag", lambda: _kernel_cols(
                    ("qid", "kind"), name=F.col("tag"), df=F.col("n")))))
        if b.lens:
            parts.append(
                self.doc_len.where(F.expr(_sql_in("shard", b.lens)))
                .select(F.expr("explode(element_at(" + _sql_map(
                    b.lens, value=lambda qs: f"array({', '.join(map(str, qs))})")
                    + ", shard)) AS qid"),
                    *self._const_cols("k_len", lambda: _kernel_cols(
                        ("qid",), kind=F.lit("len"), name=F.lit(""),
                        df=F.col("n"), doc_blob=F.col("dl_blob")))))
        if b.rng:
            # the in-range doc set rides the exchange as ONE synthetic
            # tag row per (qid, shard) — the kernels' conjunctive tag
            # intersection (and shard veto for shards with no in-range
            # docs) applies unchanged
            parts.append(
                self._range_rows(b)
                .repartition(n_part, "qid", "shard").groupBy("qid", "shard")
                .applyInPandas(_pack_range, "qid int, shard int, n int, doc_blob binary")
                .select(*self._const_cols("k_range", lambda: _kernel_cols(
                    kind=F.lit("tag"), name=F.lit(_RANGE_NAME),
                    df=F.col("n")))))
        groups = parts[0]
        for p in parts[1:]:
            groups = groups.unionByName(p)
        return groups

    def _range_rows(self, b: _Batch) -> DataFrame:
        """(shard, doc_id, qid) of each doc in a range query's own
        candidate shards that its range predicate keeps."""
        pred = b.rng[0][1]
        for _, p in b.rng[1:]:
            pred = pred | p
        hits = F.filter(F.array(*[F.when(p, F.lit(q)) for q, p in b.rng]),
                        lambda x: x.isNotNull())
        return (self.doc_store.where(F.expr(b.shard_filter([q for q, _ in b.rng])) & pred)
                .select("shard", "doc_id", F.explode(hits).alias("qid"))
                .where(F.expr(b.own_shards("qid"))))

    def _local_groups(self, b: _Batch) -> pd.DataFrame:
        """What ``_spark_groups(b).toPandas()`` gives, read by key in
        the driver: postings by ``term IN``, tags by ``tag IN`` and the
        dl rows straight from the candidate shards' parquet files
        (``_scan``), fanned out to their (qid, kind) copies from the
        same maps and with the same per-shard filter.  A group's rows
        keep that order — postings, tags, dl rows, range rows; file
        order within each table — which ``_blockmax_and``'s stable df
        sort breaks ties by.  A range predicate is a Spark Column, so
        its in-range rows are collected by one Spark job and packed by
        ``_pack_range`` here."""
        parts = []
        if b.post:
            wide = any(w for es in b.post.values() for _, _, w in es)
            t, qid, kind, w = _fan_rows(self._scan(
                "postings", b.shard_union(_fan_qids(b.post)), ds.field("term").isin(list(b.post)),
                ["term", "shard", "df", "doc_blob", *_SHARED_BLOBS,
                 *(_AND_ONLY_BLOBS if wide else ())]), "term", b.post, b.shards)
            blobs = {c: t[c] for c in ("doc_blob",) + _SHARED_BLOBS}
            if wide:  # OR copies carry the AND-only sidecars as NULL
                w = pa.array(w, pa.bool_())
                blobs.update({c: pc.if_else(w, t[c], pa.scalar(None, pa.binary()))
                              for c in _AND_ONLY_BLOBS})
            parts.append(_kernel_table(qid, kind, t["term"], t["shard"], t["df"], blobs))
        if b.tagm:
            t, qid, kind, _ = _fan_rows(self._scan(
                "tags", b.shard_union(_fan_qids(b.tagm)), ds.field("tag").isin(list(b.tagm)),
                ["tag", "shard", "n", "doc_blob"]), "tag", b.tagm, b.shards)
            parts.append(_kernel_table(qid, kind, t["tag"], t["shard"], t["n"],
                                       {"doc_blob": t["doc_blob"]}))
        if b.lens:
            t, qid, kind, _ = _fan_rows(
                self._scan("doc_len", b.lens, None, ["shard", "n", "dl_blob"]), "shard",
                {sh: [(q, "len", False) for q in qs] for sh, qs in b.lens.items()},
                b.shards)
            parts.append(_kernel_table(qid, kind, [""] * len(qid), t["shard"], t["n"],
                                       {"doc_blob": t["dl_blob"]}))
        if b.rng:
            rows = self._range_rows(b).toPandas()
            if len(rows):
                r = pd.concat([_pack_range(g) for _, g in
                               rows.groupby(["qid", "shard"], sort=True)])
                parts.append(_kernel_table(
                    r["qid"].tolist(), ["tag"] * len(r), [_RANGE_NAME] * len(r),
                    r["shard"].tolist(), r["n"].tolist(),
                    {"doc_blob": r["doc_blob"].tolist()}))
        # a range-only batch with no doc in range has no input rows
        return pa.concat_tables(parts or [_kernel_table([], [], [], [], [], {})]).to_pandas()

    def _scan(self, table: str, parts, where, columns: list) -> pa.Table:
        """``columns`` of ``table``'s rows that pass ``where`` in
        partitions ``parts`` (shards; term_stats's buckets; None: all),
        read with pyarrow in file order: only those partitions' files,
        only row groups whose statistics can hold a match.  Types are
        those of the engine's Spark table."""
        fs, root = self._arrow_root
        listed = self._files(table)
        files = [f for p in sorted(listed if parts is None else parts)
                 for f in listed.get(p, ())]
        schema = self._const_cols(f"a_{table}", lambda: to_arrow_schema(
            getattr(self, table).schema))
        col = _PART_COLS.get(table, "shard")
        dirs = col and ds.partitioning(pa.schema([(col, pa.int32())]), flavor="hive")
        return ds.dataset(files, schema=schema, format="parquet", filesystem=fs,
                          partitioning=dirs,
                          partition_base_dir=table_path(root, self.manifest, table),
                          ).to_table(columns=columns, filter=where)

    def _files(self, table: str) -> dict:
        """partition -> ``table``'s data files in its ``shard=N`` (or
        ``tb=N``) directory, sorted, as paths on the pyarrow filesystem;
        doc_map's files under the key None.  They are the files Spark
        listed for the table when the engine opened
        (``DataFrame.inputFiles``, a cached listing; doc_map's when a
        key lookup first opened it), fetched on the first query that
        reads the table.  So both paths read the one snapshot the
        distributed plan reads: a shard or bucket rewritten since then
        fails loudly on either (its files are gone) instead of scoring
        new postings against the engine's term statistics."""
        got = self._listings.get(table)
        if got is None:
            base = table_path(self._arrow_root[1], self.manifest, table)
            col = _PART_COLS.get(table, "shard")
            got = {}
            for uri in getattr(self, table).inputFiles():
                d, name = map(unquote, uri.rsplit("/", 2)[1:])
                path = f"{base}/{d + '/' if col else ''}{name}"
                got.setdefault(col and int(d[len(col) + 1:]), []).append(path)
            for files in got.values():
                files.sort()
            self._listings[table] = got
        return got

    def _by_key(self, table: str, parts) -> bool:
        """Whether the driver reads ``table``'s partitions ``parts``
        (None: all) by key: pyarrow can open the index and those
        partitions' files hold at most ``_LOCAL_FETCH_BYTES``.  A file
        under parquet's 128 MiB block size is one row group, which a
        pushed filter cannot prune inside, so a read costs its whole
        files; a larger read runs the caller's Spark plan instead.  Partitions
        the table does not have (a doc id past the last shard) read
        nothing and are not kept.  Each partition's bytes are looked up
        once per engine; a file gone since the engine opened raises."""
        if self._arrow_root is None:
            return False
        fs, _ = self._arrow_root
        listed = self._files(table)
        parts = listed.keys() if parts is None else set(parts) & listed.keys()
        known = self._part_bytes.setdefault(table, {})
        for p in parts - known.keys():
            infos = fs.get_file_info(listed[p])
            gone = [i.path for i in infos if i.type != pafs.FileType.File]
            if gone:
                raise FileNotFoundError(f"index files changed since the engine "
                                        f"opened: {gone}")
            known[p] = sum(i.size for i in infos)
        return sum(known[p] for p in parts) <= _LOCAL_FETCH_BYTES

    @functools.cached_property
    def doc_map(self) -> DataFrame:
        """The (url, doc_id) table, opened on the first key lookup (its
        schema given, so opening it runs no inference job)."""
        return self.spark.read.schema("url string, doc_id long").parquet(self._doc_map_path)

    @functools.cached_property
    def _arrow_root(self):
        """(pyarrow FileSystem, index path on it), or None when pyarrow
        cannot open the index's scheme: every query then takes the
        distributed plan."""
        return _arrow_filesystem(self.index_dir)

    def _local_relation(self, rows: pd.DataFrame) -> DataFrame:
        """Kernel rows scored in the driver as a local relation."""
        if rows.empty:
            return self._empty_result()
        return self.spark.createDataFrame(
            pa.Table.from_pandas(rows, preserve_index=False), QID_RESULT_SCHEMA)

    def _finish_local(self, rows: pd.DataFrame, specs: list, qid: bool) -> DataFrame | None:
        """Finish the driver-scored rows of k-bounded bm25 ``specs`` in
        the driver: each query's (score DESC, doc_id ASC) order, offset
        and ``k``, then the hits' doc_store rows read by (shard, doc_id)
        and joined to them in Arrow.  The result is ``_materialize``'s
        rows and schema (msearch's, with ``qid``) as a local relation,
        so neither building nor collecting it runs a Spark job.  None
        when the hit shards' doc_store files hold more than
        ``_LOCAL_FETCH_BYTES``: the caller's broadcast join fetches
        those hits on the executors."""
        rows = rows.sort_values(["qid", "score", "doc_id"],
                                ascending=[True, False, True])
        q = rows["qid"].to_numpy()
        lo = np.array([s.offset for s in specs])[q]
        rank = rows.groupby("qid").cumcount().to_numpy()
        hits = rows[(rank >= lo) & (rank < lo + np.array([s.k for s in specs])[q])]
        docs = self._fetch_docs(set(hits["shard"].tolist()), hits["doc_id"].tolist())
        if docs is None:
            return None
        at = pc.index_in(pa.array(hits["doc_id"].to_numpy()),
                         value_set=docs["doc_id"].combine_chunks())
        hits = hits[pc.is_valid(at).to_numpy(zero_copy_only=False)]
        schema = self._const_cols(f"s_hits_{qid}", lambda: StructType(
            ([StructField("qid", IntegerType())] if qid else [])
            + [self.doc_store.schema[c] for c in ("doc_id", "url")]
            + [StructField("score", DoubleType())]
            + [self.doc_store.schema[c] for c in ("text", "lang", *self._extra_doc_cols())]))
        return self._doc_relation(docs.take(pc.drop_null(at)),
                                  pa.array(hits["score"].to_numpy()), schema,
                                  pa.array(hits["qid"].to_numpy()) if qid else None)

    def _fetch_docs(self, shards: set, ids: list) -> pa.Table | None:
        """The doc_store rows (doc_id, url, text, lang, extras) of doc
        ``ids`` in ``shards``, read by (shard, doc_id) in the driver, in
        file order.  None when pyarrow cannot open the index or those
        shards' doc_store files hold more than ``_LOCAL_FETCH_BYTES``
        (``_by_key``): the caller's Spark plan fetches them on the
        executors."""
        if not self._by_key("doc_store", shards):
            return None
        return self._scan("doc_store", shards, ds.field("doc_id").isin(ids),
                          ["doc_id", "url", "text", "lang", *self._extra_doc_cols()])

    def _doc_relation(self, docs: pa.Table, score, schema: StructType,
                      qid=None) -> DataFrame:
        """doc_store rows ``docs`` with their ``score`` (and ``qid``)
        as a local relation of ``schema``: the materialized result's
        columns, whose building and collecting run no Spark job."""
        cols = {"qid": qid} if qid is not None else {}
        cols.update(doc_id=docs["doc_id"], url=docs["url"], score=score,
                    text=docs["text"], lang=docs["lang"],
                    **{c: docs[c] for c in self._extra_doc_cols()})
        t = pa.table(cols)
        # a scan that read no file gives columns of no chunk, which
        # createDataFrame fails to convert for some column types
        return self.spark.createDataFrame(t if t.num_rows else t.schema.empty_table(), schema)

    def _top(self, spec: QuerySpec, materialize: bool) -> DataFrame:
        """Finish ONE compiled query: the global order of its mode, then
        offset and limit (bm25), then optionally the doc_store join.  A
        k-bounded bm25 result scored in the driver finishes there
        (``_finish_local``) unless its hits' doc_store files are too big;
        other driver-scored rows finish as a local relation."""
        res = self._compile([spec])
        if isinstance(res, pd.DataFrame):
            if materialize and spec.mode == "bm25" and spec.k is not None \
                    and (out := self._finish_local(res, [spec], qid=False)) is not None:
                return out
            res = self._local_relation(res)
        if spec.mode == "bm25":
            res = res.orderBy(*self._const_cols("o_bm25", lambda: [
                F.col("score").desc(), F.col("doc_id").asc()]))
            if spec.offset:
                res = res.offset(spec.offset)
            if spec.k is not None:
                res = res.limit(spec.k)
        else:
            res = res.orderBy(*self._const_cols("o_parity", lambda: [
                F.col("score").asc(), F.col("doc_id").asc()]))
        if not materialize:
            return res.drop("qid")
        return self._materialize(res, spec.mode, spec.k)

    # ------------------------------------------------------------- search

    def search(
        self,
        search_word: str,
        tags: list | None = None,
        lang: str = "",
        mode: str = "parity",
        k: int | None = None,
        materialize: bool = True,
        operator: str = "and",
        offset: int = 0,
        exclude_words: str = "",
        exclude_tags: list | None = None,
        search_after: tuple | None = None,
        ranges: dict | None = None,
    ) -> DataFrame:
        """Reference Search() semantics (mode='parity') or BM25 top-k
        (mode='bm25').  ``operator='or'`` (bm25 only; k defaults to 10)
        switches to disjunctive top-k with vectorized maxscore pruning;
        filter tags stay conjunctive.  Returns a DataFrame ordered by
        the mode's contract.  ``k=0`` returns the empty result; a
        negative ``k`` or ``offset`` raises ValueError.

        A small query (its kernel input within ``_LOCAL_INPUT_BYTES``,
        see the module notes) is read by key and scored at call time,
        in the driver.  With a ``k`` in bm25 mode it is finished there
        too: the DataFrame returned is a local relation of its hits, and
        neither call nor collect runs a Spark job (unless its hits' shard
        files hold more than ``_LOCAL_FETCH_BYTES`` of doc_store).  Its
        other results are local rows that the returned DataFrame orders
        and joins to doc_store when collected.  A larger query is scored by the
        distributed plan when collected.

        ``offset`` pages BM25 results ES-style (``from``/``size``):
        page n of size k is ``k=k, offset=n*k``.  The per-shard kernels
        keep offset+k candidates (deep paging costs what it costs —
        the standard ES trade) and the global offset/limit slices the
        merged order; determinism comes from the (score DESC, doc_id
        ASC) total order.  Parity mode is unbounded by contract and
        ignores offset.

        ``search_word`` starting with ``unique_key:`` switches to the
        reference's exact-key lookup path (webapi/restapi/handlers.go:
        100-145): the remainder is the unique key (our url), matched
        exactly, bypassing analysis and scoring entirely.

        ``exclude_words`` / ``exclude_tags`` are ES ``bool.must_not``
        semantics (flagged extension — the reference DSL is conjunctive-
        only): a doc carrying ANY excluded analyzed term or ANY excluded
        tag is removed from the match set before phrase filtering,
        scoring and top-k.  A term that is both required and excluded
        yields the empty result (nothing can satisfy both); excluded
        terms/tags absent from the index exclude nothing.

        ``search_after=(score, doc_id)`` is the ES deep-paging cursor
        (flagged extension): return the next ``k`` docs STRICTLY after
        the cursor in the (score DESC, doc_id ASC) total order.  Unlike
        ``offset`` (whose per-shard kernels must keep offset+k
        candidates), the cursor keeps per-shard state k-bounded at any
        depth — page 10^6 costs the same as page 1 — which is why ES
        itself deprecates deep from/size in favor of search_after.  The
        cursor values are exactly the previous page's last (score,
        internal doc_id); bm25 mode with k only, mutually exclusive
        with ``offset``.

        ``ranges`` is the ES ``range`` filter clause (flagged
        extension): ``{field: {gte|gt|lte|lt: value}}`` over doc_store
        columns (``warc_ts``, ``url``, ``lang``, passthrough extras).
        Non-scoring ES filter semantics: a doc outside EVERY range
        leaves the match set before phrase filtering, scoring and
        top-k.  Physically the in-range doc set joins the kernel input
        as a synthetic per-shard tag row (the kernel's conjunctive tag
        intersection applies unchanged), so the filter costs one
        predicate-pushed doc_store column scan restricted to candidate
        shards — never a second cogroup.  On the local path that scan
        is the query's one Spark job.
        """
        if search_word and search_word.startswith("unique_key:"):
            return self.find_by_key(search_word[len("unique_key:"):])
        spec = self._spec(search_word, tags, lang, mode, k, operator, offset,
                          exclude_words, exclude_tags, search_after, ranges)
        return self._top(spec, materialize)

    def find_by_key(self, url: str) -> DataFrame:
        """Exact unique-key lookup (Q10; FindDocumentByKey,
        database.go:561-583): url → the one document, or empty.

        KV-get shape, not a join: two reads by key, as the reference's
        two gets.  The driver reads doc_map's rows with ``url ==`` (row
        groups pruned by their url statistics), then the document's
        ONE doc_store shard by doc_id (``get_docs``), so a lookup runs
        no Spark job.  Where a read would open more than
        ``_LOCAL_FETCH_BYTES`` of files, or pyarrow cannot open the
        index, the doc_map point filter is one Spark job and the
        doc_store read a shard-pruned plan.  Returns the materialized
        result schema with score 0.0 (the reference path carries no
        score)."""
        return self._docs_by_id(self._key_ids(url))

    def _key_ids(self, url: str) -> list:
        """doc_map's doc id for ``url``: [id], or [] when it is absent.
        Read by key within ``_LOCAL_FETCH_BYTES`` of doc_map files
        (``_by_key``), else by one Spark job."""
        if self._by_key("doc_map", None):
            return self._scan("doc_map", None, ds.field("url") == url,
                              ["doc_id"])["doc_id"].to_pylist()[:1]
        rows = self.doc_map.where(F.col("url") == url).limit(1).collect()
        return [int(r["doc_id"]) for r in rows]

    def get_doc(self, doc_id: int | str) -> DataFrame:
        """Fetch one document by docID — the reference's
        GET /indexes/{index}/_doc/{id} (webapi/restapi/handlers.go:24-56),
        where ids are rendered `d` + lowercase hex (entity.go:26-33);
        both the int and the `d<hex>` string form are accepted.  One
        read of the id's doc_store shard, as ``get_docs``; no analysis,
        score 0."""
        return self.get_docs([doc_id])

    def get_docs(self, doc_ids: list) -> DataFrame:
        """Batch fetch by docID — ES ``_mget`` (flagged extension; the
        reference serves one GET ``_doc/{id}`` per request,
        handlers.go:16-56).  N ids resolve in ONE read: ids map to
        shards arithmetically (dense per-shard allocation), so only the
        touched shards' doc_store files are read, with ``doc_id IN``
        pushed into them — never one job per id.  The driver reads them
        (``_fetch_docs``) and returns a local relation, with no Spark
        job, unless pyarrow cannot open the index or those files hold
        more than ``_LOCAL_FETCH_BYTES``; then it is a shard-pruned
        doc_store scan.  Accepts int or ``d<hex>`` forms; missing ids
        simply produce no row, and rows come in no particular order
        (the HTTP layer restores request order and emits
        found=false)."""
        ids = []
        for d in doc_ids:
            if isinstance(d, str):
                if not d.startswith("d"):
                    raise ValueError(f"document id {d!r} must be 'd' + hex")
                d = int(d[1:], 16)
            ids.append(int(d))
        return self._docs_by_id(ids)

    def _docs_by_id(self, ids: list) -> DataFrame:
        """The doc_store rows of doc ``ids`` in the materialized result
        schema with score 0.0 (``get_docs``)."""
        if not ids:
            return self._const_cols("no_docs", lambda: self._doc_rows(F.lit(False)))
        shards = self._shards_of(ids)
        docs = self._fetch_docs(shards, ids)
        if docs is None:
            return self._doc_rows(F.col("shard").isin(sorted(shards)) & F.col("doc_id").isin(ids))
        return self._doc_relation(docs, pa.array(np.zeros(docs.num_rows)),
                                  self._docs_by_id([]).schema)

    def _shards_of(self, ids: list) -> set:
        """The shards doc ``ids`` are allocated to (dense per shard)."""
        dps = int(self.manifest["docs_per_shard"])
        return {(i - 1) // dps for i in ids}

    def _doc_rows(self, pred) -> DataFrame:
        """doc_store's rows that pass ``pred`` with score 0.0, as a
        Spark plan."""
        return self.doc_store.where(pred).select(
            "doc_id", "url", F.lit(0.0).alias("score"), "text", "lang",
            *self._extra_doc_cols())

    def delete_by_query(self, search_word: str, tags: list | None = None,
                        lang: str = "", exclude_words: str = "",
                        exclude_tags: list | None = None,
                        ranges: dict | None = None) -> int:
        """ES ``_delete_by_query`` (flagged extension; the reference
        deletes one id per DELETE, handlers.go:240-258).  The parity
        match set — unbounded conjunctive AND + phrase filter, optional
        must_not exclusion — becomes the victim relation of ONE
        ``remove_documents`` mutation: (doc_id, shard) results join
        doc_map for urls and flow straight into the mutation's victim
        snapshot write.  Above ``_LOCAL_INPUT_BYTES`` (module notes)
        the match set NEVER materializes on the driver (a head-term
        delete over a 10^12-doc corpus stays a distributed plan end to
        end); below it the driver read the input by key and ran the
        kernel, and the match set is a local relation there.  Returns
        the number of documents removed; an empty query (no words, no
        tags) matches nothing and deletes nothing.  Takes the index's single-writer
        lease like every mutation (IndexLockedError when held
        elsewhere)."""
        from .maintenance import remove_documents

        res = self.search(search_word, tags, lang=lang, mode="parity",
                          materialize=False, exclude_words=exclude_words,
                          exclude_tags=exclude_tags, ranges=ranges)
        doc_map = self.spark.read.parquet(self._doc_map_path)
        urls = doc_map.join(res.select("doc_id"), "doc_id").select("url")
        before = int(self.manifest["doc_count"])
        m2 = remove_documents(self.spark, self.index_dir, urls)
        return before - int(m2["doc_count"])

    def search_prefix(self, prefix: str, tags: list | None = None,
                      k: int = 10, max_expansions: int = 50,
                      materialize: bool = True, offset: int = 0) -> DataFrame:
        """Prefix (``term*``) BM25 top-k — the Lucene/ES prefix query
        re-expressed for the sharded index; the reference engine has no
        wildcard path (int.go is exact-term conjunctive only), so this is
        a flagged extension using the same posting machinery.

        Expansion happens against the TERM DICTIONARY, never the corpus,
        capped at ``max_expansions`` terms by (df DESC, term ASC) —
        deterministic, preferring the terms that match the most
        documents, like ES's ``top_terms_N`` rewrite.  term_stats is
        bucketed by term range, so the terms starting with the prefix
        (exactly ``[prefix, _prefix_end(prefix))``) live in known
        buckets: the driver reads only those buckets' files, with that
        range pushed into their row-group statistics, and runs no Spark
        job (when those buckets hold more than ``_LOCAL_FETCH_BYTES`` or
        pyarrow cannot open the index, one Spark job filters term_stats
        with ``startswith``).  The expanded set then runs
        through the disjunctive maxscore kernel exactly as
        ``operator='or'`` (each matched doc scored by BM25 over the
        expanded terms it contains; filter tags stay conjunctive).

        Following the Lucene convention, the prefix is lowercased but NOT
        stemmed/analyzed (a stemmed prefix would miss surface forms the
        index never stemmed — multi-term queries skip analysis).  The cap
        trades recall on pathological prefixes (single letters over a web
        vocabulary) for a bounded driver expansion list and a bounded
        kernel fan-in; no step depends on corpus row count.
        """
        spec = QuerySpec({}, list(tags or []), op="or", k=k, offset=offset)
        prefix = (prefix or "").strip().lower().rstrip("*")
        if not prefix:
            return self._top(spec, materialize)
        end = _prefix_end(prefix)
        buckets = _prefix_buckets(self.manifest["term_bounds"], prefix, end)
        if self._by_key("term_stats", buckets):
            where = ds.field("term") >= prefix
            if end is not None:
                where &= ds.field("term") < end
            rows = self._scan("term_stats", buckets, where, list(_TERM_COLS)).sort_by(
                [("df", "descending"), ("term", "ascending")]).slice(
                0, max_expansions).to_pylist()
        else:
            rows = (
                self.term_stats.where(F.col("term").startswith(prefix))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(max_expansions)
                .collect()
            )
        return self._top_expanded(spec, rows, materialize)

    def _top_expanded(self, spec: QuerySpec, rows: list,
                      materialize: bool) -> DataFrame:
        """Score term-dictionary expansion ``rows`` (term, df, shards) as
        the disjunctive ``spec``; no rows is the empty result."""
        for r in rows:  # expansion rows double as warm term-stat cache
            self._stats_cache.setdefault(r["term"], _term_stat(r))
        spec = dataclasses.replace(spec, tokens={r["term"]: [0] for r in rows})
        return self._top(spec, materialize)

    def search_fuzzy(self, word: str, tags: list | None = None,
                     max_edits: int = 1, k: int = 10,
                     max_expansions: int = 50,
                     materialize: bool = True, offset: int = 0) -> DataFrame:
        """Fuzzy single-word BM25 top-k — the Lucene/ES fuzzy query
        re-expressed for the sharded index (the reference has no fuzzy
        path; flagged extension).

        Expansion is a TERM-DICTIONARY scan, never a corpus scan:
        term_stats (one row per distinct term) is filtered by a cheap
        codegen'd length guard (|len(term) − len(word)| ≤ max_edits —
        an edit can change length by at most one) and then the built-in
        ``levenshtein(term, word) ≤ max_edits`` predicate, both
        JVM-side.  Matches are capped at ``max_expansions`` by
        (distance ASC, df DESC, term ASC) — closest first, then most
        frequent, deterministic — and the expanded set runs through the
        disjunctive maxscore kernel like ``operator='or'`` (plain BM25
        per matched term, undiscounted by distance, so a SQL oracle can
        reproduce scores bit-exactly; filter tags stay conjunctive).

        Following the Lucene convention for multi-term queries the word
        is lowercased but NOT stemmed.  The expansion is one Spark job
        that scans every term_stats bucket (an edit can change any
        character, so no term range bounds it); the fan-in stays
        bounded by the cap.
        """
        spec = QuerySpec({}, list(tags or []), op="or", k=k, offset=offset)
        word = (word or "").strip().lower()
        if not word:
            return self._top(spec, materialize)
        lit = F.lit(word)
        rows = (
            self.term_stats.where(
                (F.abs(F.length("term") - F.length(lit)) <= max_edits)
                & (F.levenshtein("term", lit) <= max_edits)
            )
            .withColumn("dist", F.levenshtein("term", lit))
            .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
            .limit(max_expansions)
            .collect()
        )
        return self._top_expanded(spec, rows, materialize)

    def count(self, search_word: str, tags: list | None = None,
              lang: str = "", exclude_words: str = "",
              exclude_tags: list | None = None,
              ranges: dict | None = None) -> int:
        """Number of documents matching the conjunctive(+phrase) query —
        the ES ``_count`` API.  Runs the parity kernel WITHOUT
        materialization or ordering (no doc_store join, no sort), so the
        cost is candidate generation alone.  When the kernel ran in the
        driver (module notes) the count is its number of rows, with no
        Spark job (a range filter still costs its one); otherwise it is
        a map-side-combinable count aggregate per shard.
        ``exclude_words``/``exclude_tags`` apply ES ``bool.must_not``
        exclusion, ``ranges`` the ES range filter, before counting.  A
        ``unique_key:`` count is the number of rows the key lookup
        returns: no Spark job when it reads by key."""
        if search_word and search_word.startswith("unique_key:"):
            # at most one row; a by-key lookup's local relation collects
            # with no Spark job
            return len(self.search(search_word).collect())
        res = self._compile([self._spec(search_word, tags, lang, "parity", None,
                                        exclude_words=exclude_words,
                                        exclude_tags=exclude_tags, ranges=ranges)])
        return len(res) if isinstance(res, pd.DataFrame) else res.count()

    _RANGE_OPS = ("gte", "gt", "lte", "lt")

    def _compile_ranges(self, ranges: dict):
        """Validate ES ``range`` clauses against doc_store columns and
        compile them to ONE conjunctive Column predicate.  Literals are
        cast to the column's type (ISO strings compare correctly against
        timestamp columns); unknown fields/operators raise ValueError —
        the HTTP layer surfaces them as 400s."""
        pred = None
        checks: list = []  # (field, op, val, lit) for eager validation
        for field, spec in ranges.items():
            if field not in self.doc_store.columns or field in ("doc_id",
                                                                "shard"):
                raise ValueError(f"no such document field: {field!r}")
            if not isinstance(spec, dict) or not spec:
                raise ValueError(
                    f"range {field!r}: expected {{gte|gt|lte|lt: value}}")
            dtype = self.doc_store.schema[field].dataType
            col = F.col(field)
            for op, val in spec.items():
                if op not in self._RANGE_OPS:
                    raise ValueError(
                        f"range {field!r}: unsupported operator {op!r} "
                        f"(use gte/gt/lte/lt)")
                if val is None:
                    raise ValueError(f"range {field!r}: {op} value is null")
                lit = F.lit(val).cast(dtype)
                checks.append((field, op, val, lit))
                p = {"gte": col >= lit, "gt": col > lit,
                     "lte": col <= lit, "lt": col < lit}[op]
                pred = p if pred is None else (pred & p)
        # eager driver-side cast validation (ADVICE r5): an uncastable
        # literal (e.g. a malformed date string against a timestamp
        # column) silently becomes NULL, the predicate evaluates NULL
        # and the whole match set empties with a 200 — ES 400s instead.
        # One local one-row evaluation covers every literal at once.
        if checks:
            row = self.spark.range(1).select(
                *[c[3].alias(f"_c{i}") for i, c in enumerate(checks)]
            ).first()
            for i, (field, op, val, _lit) in enumerate(checks):
                if row[i] is None:
                    raise ValueError(
                        f"range {field!r}: value {val!r} is not valid for "
                        f"the column's type")
        return pred

    def search_sorted(self, search_word: str, tags: list | None = None,
                      lang: str = "", field: str = "warc_ts",
                      ascending: bool = True, k: int = 10,
                      exclude_words: str = "",
                      exclude_tags: list | None = None,
                      ranges: dict | None = None) -> DataFrame:
        """ES sort-by-field (flagged extension; the reference orders by
        score only): the top ``k`` matching documents by a doc_store
        COLUMN — ``{"sort": [{"warc_ts": "desc"}]}`` — with scoring
        skipped, exactly ES's behavior when a sort replaces _score.
        Ties break by doc_id ASC so pages are deterministic.

        Plan: the UNBOUNDED parity match set (conjunctive + phrase +
        optional must_not/range) co-key-joins the doc_store projection;
        the (field, doc_id) top-k compiles to TakeOrderedAndProject —
        per-partition heaps and a k-bounded driver merge, never a
        global sort."""
        if field not in self.doc_store.columns or field in ("doc_id",
                                                            "shard"):
            raise ValueError(f"no such document field: {field!r}")
        res = self.search(search_word, tags, lang, mode="parity",
                          materialize=False, exclude_words=exclude_words,
                          exclude_tags=exclude_tags, ranges=ranges)
        key = F.col(field).asc() if ascending else F.col(field).desc()
        cols = ["doc_id", "url", "text", "lang", *self._extra_doc_cols()]
        if field not in cols:
            cols.insert(2, field)
        return (
            self.doc_store.join(res.select("doc_id", "shard"),
                                ["doc_id", "shard"])
            .select(*cols)
            .orderBy(key, F.col("doc_id").asc())
            .limit(k)
        )

    def facet_tags(self, search_word: str, tags: list | None = None,
                   lang: str = "", size: int = 10,
                   ranges: dict | None = None) -> DataFrame:
        """ES-style ``terms`` aggregation over the tag sidecar: for every
        tag, how many documents MATCHING the query carry it — the facet
        row a search UI renders next to results.  Returns (tag,
        doc_count) ordered doc_count DESC, tag ASC, limited to ``size``.
        The reference has no aggregation surface (FindTags lists a doc's
        tags, database.go; nothing counts over a result set) — flagged
        extension.

        Physical plan: the match set comes from the parity search
        (conjunctive + phrase, UNBOUNDED — facets must count every match,
        so no top-k); tag blobs decode per shard (narrow, one Arrow batch
        per shard) into (doc_id, shard, tag) rows; one co-keyed join
        against the match set and a map-side-combinable count per tag.
        Nothing collects to the driver but the ``size``-bounded result.
        """
        spark = self.spark
        if self.tags is None:
            return spark.createDataFrame([], "tag string, doc_count long")
        res = self.search(search_word, tags, lang, mode="parity",
                          materialize=False, ranges=ranges)
        tag_rows = self._tag_rows()
        return (
            tag_rows.join(res.select("doc_id", "shard"), ["doc_id", "shard"])
            .groupBy("tag").agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("tag").asc())
            .limit(size)
        )

    def facet_field(self, search_word: str, tags: list | None = None,
                    lang: str = "", field: str = "lang",
                    size: int = 10, ranges: dict | None = None) -> DataFrame:
        """ES ``terms`` aggregation over a doc_store COLUMN (``lang``,
        or any scalar passthrough column) for the full parity match set
        — the column-valued sibling of ``facet_tags`` (flagged
        extension; the reference has no aggregations).  Returns (key,
        doc_count) ordered doc_count DESC, key ASC, limited to ``size``.

        Plan: unbounded match set (facets count every match) co-key-
        joined to a two-column doc_store projection, then one map-side-
        combinable count per key; only the size-bounded result reaches
        the driver."""
        if field not in self.doc_store.columns:
            raise ValueError(f"no such document field: {field!r}")
        res = self.search(search_word, tags, lang, mode="parity",
                          materialize=False, ranges=ranges)
        return (
            self.doc_store.select("doc_id", "shard", F.col(field).alias("key"))
            .join(res.select("doc_id", "shard"), ["doc_id", "shard"])
            .groupBy("key").agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(size)
        )

    def histogram_wc(self, search_word: str, tags: list | None = None,
                     lang: str = "", interval: int = 10,
                     ranges: dict | None = None) -> DataFrame:
        """ES ``histogram`` aggregation over document length (the
        indexed word count, doc_stats.wc — the same quantity BM25's dl
        uses) for the full parity match set (flagged extension).
        Buckets are ``floor(wc / interval) * interval`` with doc
        counts, ordered key ASC — ES's histogram contract.  Plan: match
        set co-key-joined to the (doc_id, wc) projection of doc_stats,
        one partial-agg count per bucket; result size is bounded by the
        wc range / interval, never by the corpus."""
        if interval <= 0:
            raise ValueError("histogram interval must be positive")
        res = self.search(search_word, tags, lang, mode="parity",
                          materialize=False, ranges=ranges)
        return (
            self.doc_stats.select("doc_id", "shard", "wc")
            .join(res.select("doc_id", "shard"), ["doc_id", "shard"])
            .withColumn("key", (F.floor(F.col("wc") / interval)
                                * interval).cast("long"))
            .groupBy("key").agg(F.count("*").alias("doc_count"))
            .orderBy(F.col("key").asc())
        )

    def facet_cardinality(self, search_word: str, tags: list | None = None,
                          lang: str = "", field: str = "lang",
                          ranges: dict | None = None) -> int:
        """ES ``cardinality`` aggregation (EXACT here, not HLL — at this
        engine's result shapes the distinct key set is small; flagged
        extension): number of distinct values of ``field`` (``tags``
        for the tag sidecar, else a doc_store column) across the parity
        match set.  One countDistinct over the co-keyed join; a single
        scalar reaches the driver."""
        res = self.search(search_word, tags, lang, mode="parity",
                          materialize=False, ranges=ranges)
        if field == "tags":
            if self.tags is None:
                return 0
            tag_rows = self._tag_rows()
            joined = tag_rows.join(res.select("doc_id", "shard"),
                                   ["doc_id", "shard"])
            row = joined.agg(F.countDistinct("tag").alias("n")).collect()[0]
            return int(row["n"])
        if field not in self.doc_store.columns:
            raise ValueError(f"no such document field: {field!r}")
        joined = self.doc_store.select("doc_id", "shard", field).join(
            res.select("doc_id", "shard"), ["doc_id", "shard"])
        row = joined.agg(F.countDistinct(field).alias("n")).collect()[0]
        return int(row["n"])

    def _tag_rows(self) -> DataFrame:
        """Decode the tag sidecar into (doc_id, shard, tag) rows —
        narrow per-shard Arrow batches, shared by facet_tags and the
        tag cardinality path."""

        def unpack(pdf: pd.DataFrame) -> pd.DataFrame:
            from watertower_spark.functions import codec

            out_doc: list = []
            out_sh: list = []
            out_tag: list = []
            for tag, sh, blob in zip(pdf["tag"], pdf["shard"], pdf["doc_blob"]):
                ids = codec.decode_sorted(blob)
                out_doc.extend(int(d) for d in ids)
                out_sh.extend([int(sh)] * ids.size)
                out_tag.extend([tag] * ids.size)
            return pd.DataFrame({"doc_id": pd.Series(out_doc, dtype="int64"),
                                 "shard": pd.Series(out_sh, dtype="int32"),
                                 "tag": pd.Series(out_tag, dtype="object")})

        return self.tags.repartition(
            self._kernel_partitions(), "shard"
        ).groupBy("shard").applyInPandas(
            unpack, "doc_id long, shard int, tag string"
        )

    def highlight(self, search_word: str, tags: list | None = None,
                  lang: str = "", k: int = 10, window: int = 5,
                  mode: str = "bm25") -> DataFrame:
        """Top-k search with an ES-style highlighted snippet per hit
        (flagged extension; the reference returns whole documents only).

        Contract (deterministic, SQL-oracle-reproducible): the stored
        text is whitespace-split; a token MATCHES when the index
        analyzer's normalization of it (trailing ``.,:"`` strip +
        lowercase, + stem for stemming analyzers) is one of the analyzed
        query tokens.  The snippet is the ``window``-token neighborhood
        each side of the FIRST matching token, with every matching token
        inside it wrapped in ``<em>…</em>`` (original surface form
        preserved); a doc with no whitespace-level match (possible only
        for non-word analyzers) falls back to its first 2·window+1
        tokens unmarked.  Snippeting runs as an Arrow batch over the
        k-bounded materialized hits — never over the corpus.
        """
        from watertower_spark.analyzers import analyze_query, find_analyzer

        default_lang = self.manifest.get("default_lang") or ""
        analyzer_lang = self.manifest.get("analyzer_lang")
        eff_lang = analyzer_lang or lang or default_lang
        qtokens = set(analyze_query(search_word, eff_lang, default_lang))
        res = self.search(search_word, tags, lang, mode=mode, k=k)
        if not qtokens:
            return res.withColumn("snippet", F.col("text"))

        def norm_fn(lang_of_doc: str):
            try:
                return find_analyzer(analyzer_lang or lang_of_doc
                                     or default_lang or "simple")
            except KeyError:
                # unregistered languages degrade to 'simple', mirroring
                # the analysis pipeline's fallback
                return find_analyzer("simple")

        @F.pandas_udf("string")
        def snip(text: pd.Series, doc_lang: pd.Series) -> pd.Series:
            out = []
            for t, dl in zip(text, doc_lang):
                words = (t or "").split()
                a = norm_fn(dl)
                normed = [(a.splitter(w) or [""])[0] for w in words]
                if a.stemmer is not None:
                    normed = [a.stemmer(w) for w in normed]
                hit = [i for i, nw in enumerate(normed) if nw in qtokens]
                if hit:
                    i0 = hit[0]
                    lo, hi = max(0, i0 - window), min(len(words), i0 + window + 1)
                else:
                    lo, hi = 0, min(len(words), 2 * window + 1)
                frag = [
                    f"<em>{w}</em>" if normed[lo + j] in qtokens else w
                    for j, w in enumerate(words[lo:hi])
                ]
                out.append(" ".join(frag))
            return pd.Series(out, dtype="object")

        return res.withColumn("snippet", snip(F.col("text"), F.col("lang")))

    def stats(self) -> dict:
        """Index statistics in an ES ``_stats``-ish shape: manifest
        scalars (doc_count, n_shards, docs_per_shard, avgdl, versions)
        plus per-table on-disk bytes.  Metadata-only — the manifest is
        already loaded and byte totals are one LIST per table
        (fsio.dir_size); no Spark job, no row scan."""
        from watertower_spark.functions import fsio

        m = self.manifest
        tables: dict = {}
        for t in ("postings", "doc_store", "doc_stats", "doc_len", "tags",
                  "doc_map", "term_stats"):
            p = (table_path(self.index_dir, m, t)
                 if t in ("term_stats", "doc_map") else f"{self.index_dir}/{t}")
            b = fsio.dir_size(p)
            if b:
                tables[t] = b
        return {
            "doc_count": int(m["doc_count"]),
            "n_shards": int(m["n_shards"]),
            "docs_per_shard": int(m["docs_per_shard"]),
            "avgdl": float(m["avgdl"]),
            "format_version": m.get("format_version"),
            "size_in_bytes": sum(tables.values()),
            "tables": tables,
            "degraded_shards": list(self.degraded_shards),
        }

    # ------------------------------------------------------------ msearch

    _ENTRY_KEYS = ("word", "tags", "lang", "mode", "k", "operator", "offset",
                   "exclude_words", "exclude_tags", "search_after", "ranges")

    def msearch(self, queries: list, materialize: bool = True) -> DataFrame:
        """N independent queries in ONE Spark DAG — the ES ``_msearch``
        batch API re-expressed Spark-first (flagged extension; the
        reference serves one query per request, handlers.go:100-176).

        Each entry is a dict of ``search()``'s arguments: ``{"word":
        str, "tags": list|None, "lang": str, "mode": "parity"|"bm25",
        "k": int|None, "operator": "and"|"or", "offset": int,
        "exclude_words": str, "exclude_tags": list|None,
        "search_after": (score, doc_id), "ranges": dict}``.  Only
        ``word`` is required; ``mode`` defaults to bm25 and ``k`` to 10
        in bm25 mode.  Any other key raises ValueError.

        Physical plan: the query compiler (``_compile``) puts every
        query's inputs — AND and OR, with their tags, must_not rows,
        ranges and dl arrays — into ONE grouped exchange keyed by (qid,
        shard), reading postings, tags and doc_len once each whatever
        the batch width; per-query paging is one window over the
        already per-shard-bounded candidates, and ONE doc_store join
        materializes every query's hits.  Scheduling and exchange
        overhead is therefore paid once per BATCH instead of once per
        query — at any corpus size, query throughput comes from
        batching, not from threading one driver process.  A batch whose
        kernel input is small (within ``_LOCAL_INPUT_BYTES``, see the
        module notes) is read by key and runs the same kernels in the
        driver at call time.  When every entry is k-bounded bm25 and
        ``materialize`` is on, the driver also pages it and fetches its
        hits, so the batch runs no Spark job; otherwise the window and
        the doc_store join below run over those local rows.  A
        distributed all-top-k batch ends its join's order in a limit of
        Σ(offset + k) rows.

        Returns rows with a leading ``qid`` column (position in
        ``queries``), ordered (qid ASC, the query's score order,
        doc_id ASC).  Queries matching nothing contribute no rows.
        """
        specs = []
        for qid, q in enumerate(queries):
            unknown = sorted(set(q) - set(self._ENTRY_KEYS))
            if unknown:
                raise ValueError(f"msearch entry {qid}: unknown key(s) "
                                 f"{unknown}; allowed: {list(self._ENTRY_KEYS)}")
            mode = q.get("mode") or "bm25"
            specs.append(self._spec(**{
                **q, "mode": mode, "operator": q.get("operator") or "and",
                "k": q.get("k", 10 if mode == "bm25" else None)}))
        res = self._compile(specs)
        bounded = all(s.mode == "bm25" and s.k is not None for s in specs)
        if isinstance(res, pd.DataFrame):
            if materialize and bounded \
                    and (out := self._finish_local(res, specs, qid=True)) is not None:
                return out
            res = self._local_relation(res)

        # per-query paging: one window over the per-shard-bounded rows
        bm25 = [(q, s) for q, s in enumerate(specs) if s.mode == "bm25"]
        lo = {q: s.offset for q, s in bm25 if s.offset}
        hi = {q: s.offset + s.k for q, s in bm25 if s.k is not None}
        bounds = [f"coalesce(rn {op} element_at({_sql_map(b)}, qid), true)"
                  for op, b in ((">", lo), ("<=", hi)) if b]
        if bounds:
            from pyspark.sql import Window

            w = Window.partitionBy("qid").orderBy(
                F.col("score").desc(), F.col("doc_id").asc())
            res = (res.withColumn("rn", F.row_number().over(w))
                   .where(F.expr(" AND ".join(bounds))).drop("rn"))
        if not materialize:
            return res

        # one materialization join for the whole batch; broadcast when
        # every query is k-bounded (a parity query is unbounded).  A
        # bounded batch has at most Σ(offset + k) rows, so its 1:1
        # join's order ends in that limit
        parity = [q for q, s in enumerate(specs) if s.mode != "bm25"]
        right = F.broadcast(res) if bounded else res
        sortk = F.expr(f"IF({_sql_in('qid', parity)}, score, -score)"
                       if parity else "-score")
        out = (
            self.doc_store.join(right, ["doc_id", "shard"])
            .select("qid", "doc_id", "url", "score", "text", "lang",
                    *self._extra_doc_cols())
            .orderBy(F.col("qid").asc(), sortk.asc(), F.col("doc_id").asc())
        )
        return out.limit(sum(s.offset + s.k for s in specs)) if bounded else out

    def _materialize(self, results: DataFrame, mode: str,
                     k: int | None = None) -> DataFrame:
        """Join the result set to doc_store — Q9/materialization
        (database.go:540-558).  When the result set is bounded (a ``k``
        is given), broadcasting it keeps the big table shuffle-free and
        the shard column prunes doc_store partitions; a bm25 top ``k``
        also ends the 1:1 join's order in ``limit(k)`` (a top-k, no
        range-partition sampling job).  Parity mode has NO limit
        (reference Q8 returns all matches), so a head-term query over a
        big corpus must shuffle-join instead of broadcasting an
        unbounded set through the driver."""
        order = (
            [F.col("score").desc(), F.col("doc_id").asc()]
            if mode == "bm25"
            else [F.col("score").asc(), F.col("doc_id").asc()]
        )
        right = F.broadcast(results) if k is not None else results
        out = (
            self.doc_store.join(right, ["doc_id", "shard"])
            .select("doc_id", "url", "score", "text", "lang",
                    *self._extra_doc_cols())
            .orderBy(*order)
        )
        return out.limit(k) if mode == "bm25" and k is not None else out

    def _extra_doc_cols(self) -> list:
        """Document passthrough columns beyond the core shape — the
        reference Document carries metadata map<string,string> and an
        updated_at timestamp (entity.go:9-24, document-schema.json);
        any such columns present in doc_store ride along in materialized
        results."""
        return [c for c in ("metadata", "updated_at")
                if c in self.doc_store.columns]
