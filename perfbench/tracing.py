"""Tracing for the traced run, all from outside the library.

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory.
- ``install_shims`` wraps the library's public entry points with spans
  (and restores them on uninstall); the library itself is never edited.
- ``SparkWindow`` reads what Spark recorded between two marks: jobs,
  stage task metrics (app status store) and SQL plan-node metrics
  (SQL status store).
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, op=None) -> dict:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
              "parent": parent["id"] if parent else None,
              "op": op if op is not None else (parent["op"] if parent else None)}
        st.append(sp)
        return sp

    def end(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def span(self, name: str, op=None):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.begin(name, op)
                return self.sp

            def __exit__(self, *exc):
                tracer.end(self.sp)
                return False

        return _Ctx()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sp = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)

        return shim

    def durations_ms(self, name: str, op=None) -> list:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["name"] == name and (op is None or s["op"] == op)]

    def self_times_ms(self) -> dict:
        """Per span name: total duration minus the time its child spans
        cover (children of one span never overlap: they run on the
        span's own thread)."""
        child_ms: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        out: dict = {}
        for s in self.spans:
            d = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump({"spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                                 for s in sorted(self.spans, key=lambda s: s["start"])],
                       "self_ms": self.self_times_ms()}, f)


def install_shims(tracer: Tracer):
    """Wrap the library's public calls with spans; returns an uninstall
    function that puts the originals back."""
    import watertower_spark.analyzers as an
    import watertower_spark.server as srv
    from watertower_spark.operators import index_build, maintenance, pipeline, search

    targets = [
        (search.SearchEngine, "__init__", "SearchEngine.__init__"),
        (search.SearchEngine, "search", "SearchEngine.search"),
        (search.SearchEngine, "search_prefix", "SearchEngine.search_prefix"),
        (search.SearchEngine, "msearch", "SearchEngine.msearch"),
        (an, "analyze_query", "analyze_query"),
        (index_build, "build_index", "build_index"),
        (pipeline, "clean_corpus", "clean_corpus"),
        (maintenance, "upsert_documents", "upsert_documents"),
        (maintenance, "remove_documents", "remove_documents"),
        (srv, "search_response", "server.search_response"),
    ]
    saved = []
    for owner, attr, name in targets:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))

    # one span per HTTP request, tagged with the client's op id header
    for attr in ("do_GET", "do_POST"):
        orig = srv._Handler.__dict__[attr]
        saved.append((srv._Handler, attr, orig))

        def handler(self, _orig=orig):
            if not tracer.enabled:
                return _orig(self)
            op = self.headers.get("X-Bench-Op")
            with tracer.span("server.request", op=op):
                return _orig(self)

        setattr(srv._Handler, attr, handler)

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


# ------------------------------------------------------------ Spark metrics

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str | None) -> float:
    """A SQL status-store metric string as a number: bytes for sizes,
    milliseconds for timings, the plain count otherwise."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip().replace(",", "")
    m = re.match(r"^(-?[0-9.]+)\s*([A-Za-z]*)$", text)
    if not m:
        return 0.0
    v, unit = float(m.group(1)), m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME_MS:
        return v * _TIME_MS[unit]
    return v


class SparkWindow:
    """What Spark ran between ``mark()`` and ``read(mark)``: job ids,
    summed stage task metrics and every SQL plan node with its metrics.
    Ids are sequential, so a window is "ids above the mark"."""

    def __init__(self, spark):
        self.spark = spark
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

        self._job_hi = -1
        self._exec_hi = -1

    def _job(self, jid):
        try:
            return self.app.job(jid)
        except Exception:  # no such job (yet)
            return None

    def _exec(self, eid):
        opt = self.sql.execution(eid)
        return opt.get() if opt.isDefined() else None

    def mark(self) -> tuple:
        # the stores keep only the latest jobs and executions: ids run
        # between two marks may be evicted, so skip to the newest kept
        if self._job(self._job_hi + 1) is None:
            ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
            self._job_hi = max([self._job_hi, *(i - 1 for i in ids)])
        while self._job(self._job_hi + 1) is not None:
            self._job_hi += 1
        if self._exec(self._exec_hi + 1) is None:
            execs = self.sql.executionsList()
            self._exec_hi = max([self._exec_hi, *(execs.apply(k).executionId() - 1
                                                  for k in range(execs.size()))])
        while self._exec(self._exec_hi + 1) is not None:
            self._exec_hi += 1
        return (self._job_hi, self._exec_hi)

    def read(self, mark: tuple, timeout_s: float = 10.0) -> dict:
        """Jobs, stage totals and SQL nodes recorded after ``mark``; waits
        (bounded) for the asynchronous listeners to see them finish."""
        deadline = time.time() + timeout_s
        while True:
            hi = self.mark()
            mine = [self._job(j) for j in range(mark[0] + 1, hi[0] + 1)]
            execs = [self._exec(e) for e in range(mark[1] + 1, hi[1] + 1)]
            mine = [j for j in mine if j is not None]
            execs = [e for e in execs if e is not None]
            done = (all(str(j.status()) != "RUNNING" for j in mine)
                    and all(e.completionTime().isDefined() for e in execs))
            if done or time.time() > deadline:
                break
            time.sleep(0.05)
        stages = {"tasks": 0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "input_bytes": 0,
                  "output_bytes": 0}
        seen: set = set()
        for j in mine:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.app.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped) or was evicted
                    continue
                stages["tasks"] += sd.numCompleteTasks()
                stages["cpu_s"] += sd.executorCpuTime() / 1e9
                stages["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                stages["input_bytes"] += sd.inputBytes()
                stages["output_bytes"] += sd.outputBytes()
        nodes = []
        for e in execs:
            eid = e.executionId()
            vals = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid)
            parent: dict = {}
            edges = graph.edges()
            for k in range(edges.size()):
                ed = edges.apply(k)
                parent[ed.fromId()] = ed.toId()
            all_nodes = graph.allNodes()
            by_id = {}
            for k in range(all_nodes.size()):
                nd = all_nodes.apply(k)
                ms = nd.metrics()
                metrics = {}
                for q in range(ms.size()):
                    m = ms.apply(q)
                    v = vals.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(v.get() if v.isDefined() else None)
                by_id[nd.id()] = {"exec": eid, "id": nd.id(), "name": nd.name(),
                                  "desc": nd.desc(), "metrics": metrics,
                                  "parent": parent.get(nd.id())}
            for n in by_id.values():
                n["parent_name"] = by_id[n["parent"]]["name"] if n["parent"] in by_id else None
                if n["parent"] in by_id and by_id[n["parent"]]["name"] == "ColumnarToRow":
                    gp = by_id[n["parent"]]["parent"]
                    n["grandparent"] = by_id.get(gp)
            nodes.extend(by_id.values())
        return {"jobs": len(mine), "stages": stages, "nodes": nodes}


def node_sum(nodes: list, name: str, metric: str, pred=None) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if n["name"].startswith(name) and (pred is None or pred(n)))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


def file_snapshot(path: str) -> dict:
    snap = {}
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            snap[p] = (st.st_size, st.st_mtime_ns)
    return snap
