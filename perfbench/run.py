"""Benchmark entry point.

    python3 perfbench/run.py --workload search|ingest --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout.  Prints one JSON line of details (seed,
document counts, Spark settings, per-workload figures) and, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--smoke`` runs every workload once at a tiny scale, traced and not,
and checks that every metric named in BENCHMARK.json is reported.
See perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
             "index_bytes_per_text_byte": "B/B"}
_STAGES = ("line_dedup", "gopher_filter", "pii_scrub", "exact_dedup", "near_dedup")
_TABLES = ("doc_map", "doc_stats", "doc_len", "doc_store", "postings", "tags", "term_stats")
_KINDS = ("term", "phrase", "tag", "or", "parity", "key", "not", "prefix")
LAYER_UNITS = {
    "analyzers.analyze_query_us": "us",
    "analyzers.analyze_docs_per_s": "1/s",
    "codec.pack_postings_mb_s": "MB/s",
    "codec.decode_doc_blocks_mb_s": "MB/s",
    "search.construct_ms": "ms",
    "search.construct_jobs": "count",
    "search.catalyst_ms": "ms",
    "search.execute_ms": "ms",
    "search.jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "search.scan_bytes": "B",
    "search.scan_files": "count",
    "search.scan_rows_kept_ratio": "ratio",
    "search.term_stats_scan_bytes": "B",
    "search.exchange_bytes": "B",
    "search.exchange_records": "count",
    "search.kernel_py_init_ms": "ms",
    "search.kernel_py_run_ms": "ms",
    "search.kernel_bytes_in": "B",
    "search.kernel_bytes_out": "B",
    "search.kernel_rows_out": "count",
    "search.topk_records": "count",
    "search.materialize_ms": "ms",
    "search.materialize_rows_per_hit": "ratio",
    "search.msearch_construct_ms": "ms",
    "search.msearch_execute_ms": "ms",
    "search.query_p90_ms": "ms",
    **{f"search.p50_ms.{k}": "ms" for k in _KINDS},
    "index_build.assign_ids_s": "s",
    "index_build.doc_tables_s": "s",
    "index_build.postings_tags_s": "s",
    "index_build.segment_py_init_ms": "ms",
    "index_build.segment_py_run_ms": "ms",
    "index_build.segment_bytes_in": "B",
    "index_build.shuffle_bytes": "B",
    "index_build.tasks": "count",
    "index_build.executor_cpu_s": "s",
    **{f"index_build.bytes_written.{t}": "B" for t in _TABLES},
    **{f"pipeline.stage_s.{s}": "s" for s in _STAGES},
    **{f"pipeline.docs_kept.{s}": "count" for s in _STAGES},
    "dedup.pairs_verified": "count",
    "dedup.shuffle_bytes": "B",
    "trace.overhead_ms": "ms",
    "process.peak_rss_mb": "MB",
}
WORKLOADS = ("search", "ingest")


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every descendant process to end (kill stragglers)."""
    import signal

    from sparkenv import descendants

    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import watertower_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import sparkenv
    import workloads
    from tracing import SparkWindow, Tracer, install_shims

    run_dir = sparkenv.prepare_work_dir()
    sampler = sparkenv.RssSampler().start()
    settings = sparkenv.session_settings(run_dir)
    t0 = sparkenv.now()
    spark = sparkenv.start_spark(settings)
    session_s = sparkenv.now() - t0
    tracer = Tracer() if args.trace else None
    uninstall = install_shims(tracer) if tracer else None
    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
              tracer=tracer, window=SparkWindow(spark) if args.trace else None,
              run_dir=run_dir, scale=args.scale)
    if ctx.window:
        ctx.window.mark()
    fn = {"search": workloads.run_search, "ingest": workloads.run_ingest}[args.workload]
    try:
        res = fn(ctx)
    finally:
        if uninstall:
            uninstall()
        conf = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.ui.showConsoleProgress", "spark.sql.adaptive.enabled",
            "spark.sql.execution.arrow.pyspark.enabled")}
        stop_spark(spark)
        reap_children()
        peak_mb = sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    res.layers["process.peak_rss_mb"] = peak_mb
    if tracer:
        os.makedirs(os.path.join(sparkenv.WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(sparkenv.WORK, "traces",
                                 f"{args.workload}-seed{args.seed}.json"))
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "session_start_s": session_s,
        "settings": {"cpus": settings["cpus"], **settings["conf"], **conf},
        "error_rate": res.failed / max(res.attempted, 1), "peak_rss_mb": peak_mb,
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()},
        **res.info,
    }
    print(json.dumps(detail, default=float))
    if args.trace:
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def smoke() -> int:
    """Each workload once at tiny scale, untraced and traced; every
    metric named in BENCHMARK.json must be reported, and correct."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    bad = 0
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "1",
                 "--seconds", "4", "--trace", str(trace), "--scale", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                last = json.loads(out.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"smoke {w} trace={trace}: no result (exit {out.returncode})\n{out.stderr[-2000:]}")
                bad += 1
                continue
            missing = want[trace] - set(last["metrics"])
            ok = out.returncode == 0 and not missing and last["correct"]
            bad += not ok
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAIL'} "
                  f"attempted={last['attempted']} failed={last['failed']} missing={sorted(missing)}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
