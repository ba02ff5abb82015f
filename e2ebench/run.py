"""End-to-end benchmark of doc_agent_spark.

    python3 e2ebench/run.py --workload extract_job --seed 1 --seconds 20 --trace 0

Workloads (see e2ebench/NOTES.md for why each was chosen):

- ``extract_job``: ``jobs.extract.run_extract`` fresh, then resumed over the
  finished tree, on a seeded ``corpus.make_doc`` spans corpus.
- ``serve_search``: one closed-loop HTTP client against
  ``python -m doc_agent_spark.serve --port 0``, five request types, each
  sent once as a cache miss and once as a hit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced; per-layer metrics
with ``--trace 1``). The line before it carries the host-drift reference
and, when traced, every layer metric of the workload. Exits non-zero when
an output check failed or the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

from common import (ROOT, WORK_ROOT, become_subreaper, geomean, host_ref_ms, make_workdir,
                    median, program_present, run_worker, tail, write_trace)

# Sizes for a 4-core host and a run of about a minute: three extract rounds
# (fresh + resume, ~6 s each) fit a 16 s window, so the median drops the
# slower first round; one serve pass over the five misses takes ~15 s.
EXTRACT_DOCS = 12_000
EXTRACT_WARM_DOCS = 1_000
EXTRACT_BUCKETS = 8
SERVE_DOCS = 4_000
SERVE_WARM_DOCS = 500
# a seed's derived inputs: warm-up corpora and queries never share a seed
# with the measured ones
WARM_SEED_OFFSET = 1_000_003


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def common_layers(session_start_s, warmup_s, gc_share, rss_mb, overhead_ms, host_ms,
                  f: dict, ops: int, items: int) -> dict:
    """The per-layer metrics every workload reports: set-up layers, JVM,
    tracing cost, and the event-log fold per operation / per item."""
    import eventlog

    return {
        "session.start_s": metric(session_start_s, "s"),
        "warmup.first_op_s": metric(warmup_s, "s"),
        "jvm.gc_share": metric(gc_share, "share"),
        "jvm.rss_peak_mb": metric(rss_mb, "MB"),
        "trace.overhead_ms": metric(overhead_ms, "ms"),
        "host.ref_ms": metric(host_ms, "ms"),
        "spark.jobs_per_op": metric(f["jobs"] / ops, "count"),
        "spark.tasks_per_op": metric(f["tasks"] / ops, "count"),
        "spark.python_share": metric(eventlog.share(f["python_ms"], f["task_ms"]), "share"),
        "spark.arrow_bytes_per_item": metric(
            (f["to_python_bytes"] + f["from_python_bytes"]) / items, "B"),
        "spark.shuffle_bytes_per_item": metric(f["shuffle_write_bytes"] / items, "B"),
        "spark.input_bytes_per_item": metric(f["input_bytes"] / items, "B"),
        "sinks.bytes_written_per_item": metric(f["output_bytes"] / items, "B"),
        "sinks.files_written_per_op": metric(f["files_written"] / ops, "count"),
    }


def summary(fresh_or_miss: float, warm: list[float], setup_s: float, throughput: float,
            attempted: int, failed: int) -> tuple[dict, dict]:
    """End-to-end metrics of one window, and the tail's percentile/count."""
    tail_v, tail_p, tail_n = tail(warm)
    return {
        "setup_s": metric(setup_s, "s"),
        "throughput": metric(throughput, "1/s"),
        "cold_ms": metric(fresh_or_miss, "ms"),
        "warm_ms": metric(median(warm), "ms"),
        "warm_tail_ms": metric(tail_v, "ms"),
        "ok_frac": metric((attempted - failed) / attempted, "share"),
    }, {"percentile": tail_p, "samples": tail_n}


def extract_job(args, work: str) -> dict:
    from inputs import write_spans_corpus

    corpus = os.path.join(work, "corpus.parquet")
    warm = os.path.join(work, "warm.parquet")
    warm_seed = args.seed + WARM_SEED_OFFSET
    write_spans_corpus(corpus, EXTRACT_DOCS, args.seed)
    write_spans_corpus(warm, EXTRACT_WARM_DOCS, warm_seed)

    def phase(name: str, traced: bool) -> dict:
        res = run_worker("extract_worker.py", {
            "phase": name, "work": work, "seed": args.seed, "corpus": corpus,
            "n_docs": EXTRACT_DOCS, "warm_corpus": warm, "warm_docs": EXTRACT_WARM_DOCS,
            "warm_seed": warm_seed, "buckets": EXTRACT_BUCKETS, "seconds": args.window_s,
            "traced": traced,
        }, work, timeout=170)
        win = res["window"]
        cold = median(win["fresh_ms"])
        res["e2e"], res["tail"] = summary(
            cold, win["resume_ms"], res["setup"]["setup_s"], EXTRACT_DOCS / (cold / 1000.0),
            win["attempted"], win["failed"])
        return res

    plain = phase("plain", traced=False)
    win = plain["window"]
    out = {
        "attempted": win["attempted"], "failed": win["failed"], "errors": win["errors"],
        "checks_ok": True, "e2e": plain["e2e"],
        "report": {"warm_tail": plain["tail"], "fresh_ms": win["fresh_ms"],
                   "resume_ms": win["resume_ms"]},
        "spans": plain["spans"],
    }
    if not args.trace:
        return out
    traced = phase("traced", traced=True)
    twin = traced["window"]
    layers = traced["layers"]
    layers["traced.cold_ms"] = traced["e2e"]["cold_ms"]["value"]
    layers["trace.overhead_ms"] = layers["traced.cold_ms"] - plain["e2e"]["cold_ms"]["value"]
    layers["jvm.rss_peak_mb"] = max(plain["jvm_rss_peak_mb"], traced["jvm_rss_peak_mb"])
    runs = len(twin["fresh_ms"])
    out.update({
        "attempted": win["attempted"] + twin["attempted"],
        "failed": win["failed"] + twin["failed"],
        "errors": win["errors"] + twin["errors"],
        "layers": layers,
        "per_layer": common_layers(
            plain["setup"]["session_start_s"], plain["setup"]["warmup_first_op_s"],
            layers["jvm.gc_share"], layers["jvm.rss_peak_mb"], layers["trace.overhead_ms"],
            args.host_ref_ms, traced["fold"], runs, runs * EXTRACT_DOCS),
        "spans": plain["spans"] + traced["spans"],
    })
    return out


def serve_window(a: dict) -> dict:
    """Checks and end-to-end metrics of one serve phase's window."""
    from inputs import REQUEST_TYPES, type_name

    pairs = a["pairs"]
    attempted = 2 * len(pairs)
    failed = sum(not p["miss_ok"] for p in pairs) + sum(not p["hit_ok"] for p in pairs)
    by_type = {type_name(p, m): [] for p, m in REQUEST_TYPES}
    for p in pairs:
        by_type[p["type"]].append(p)
    miss_median = {t: median(p["miss_ms"] for p in v) for t, v in by_type.items()}
    # requests completed per second of window, counted in whole passes (one
    # miss and one hit of each type): a window that ends after a cheap media
    # pair rather than a slow rag pair does not move it
    pass_ms = sum(miss_median[t] + median(p["hit_ms"] for p in v) for t, v in by_type.items())
    hits = [p["hit_ms"] for p in pairs]
    e2e, tail_info = summary(geomean(miss_median.values()), hits, a["setup"]["setup_s"],
                             2 * len(by_type) / (pass_ms / 1000.0), attempted, failed)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "tail": tail_info,
            "miss_median_ms": miss_median,
            "hit_ratio": sum(sum(p["hit_flags"]) for p in pairs) / attempted,
            "errors": [p["error"] for p in pairs if p["error"]]}


def serve_search(args, work: str) -> dict:
    from inputs import queries, write_documents
    from serve_bench import run_phase

    corpus = os.path.join(work, "documents.parquet")
    warm = os.path.join(work, "warm_documents.parquet")
    write_documents(corpus, SERVE_DOCS, args.seed)
    write_documents(warm, SERVE_WARM_DOCS, args.seed + WARM_SEED_OFFSET)
    cfg = {"work": work, "corpus": corpus, "warm_corpus": warm,
           "warm_query": queries(args.seed + WARM_SEED_OFFSET, 1)[0]}
    qs = queries(args.seed, 64)
    a = run_phase(cfg, qs, "plain", args.window_s)
    s = serve_window(a)
    out = {
        "attempted": s["attempted"], "failed": s["failed"], "errors": s["errors"],
        # every miss is repeated once, so the planned hit share is exactly 0.5
        "checks_ok": s["hit_ratio"] == 0.5, "e2e": s["e2e"],
        "report": {"warm_tail": s["tail"], "miss_median_ms": s["miss_median_ms"],
                   "pairs": len(a["pairs"]), "cache_hit_ratio": s["hit_ratio"]},
        "spans": a["spans"],
    }
    if args.trace:
        out.update(serve_traced(args, work, cfg, qs, a, s))
    return out


def serve_traced(args, work, cfg, qs, a, s) -> dict:
    """Traced serve phase: the same client window against the serve entry
    hosted with the event log on, then the same requests in process in that
    JVM (serve_worker.py)."""
    import eventlog
    from inputs import REQUEST_TYPES
    from serve_bench import run_phase

    event_dir = os.path.join(work, "events-server")
    host = {"work": work, "corpus": cfg["corpus"]}
    b = run_phase(cfg, qs, "traced", args.window_s, event_dir, host)
    sb = serve_window(b)
    c = b["inproc"]
    events = eventlog.load(event_dir)
    miss_w = [(x["start"], x["end"]) for x in b["spans"]
              if x["name"].startswith("serve.miss.") and x["op"] != "warmup"]
    hit_w = [(x["start"], x["end"]) for x in b["spans"]
             if x["name"].startswith("serve.hit.") and x["op"] != "warmup"]
    fm, fh, whole = (eventlog.fold(events, miss_w), eventlog.fold(events, hit_w),
                     eventlog.fold(events))
    probes = c["probes"]
    cold_traced = sb["e2e"]["cold_ms"]["value"]
    layers = {f"search.{r['type']}_ms": r["ms"] for r in c["requests"]}
    layers.update(probes)
    layers.update({
        "api.plan_ms": median(r["plan_ms"] for r in c["requests"]),
        "search.spark_jobs_per_request": fm["jobs"] / len(miss_w),
        "search.tasks_per_request": fm["tasks"] / len(miss_w),
        "search.bytes_read_per_request": fm["input_bytes"] / len(miss_w),
        "search.python_share": eventlog.share(fm["python_ms"], fm["task_ms"]),
        "cache.hit_spark_jobs_per_request": fh["jobs"] / len(hit_w),
        "cache.hit_ratio": s["hit_ratio"],
        # client hit latency minus the in-process cost of a hit, same JVM
        "serve.transport_ms": sb["e2e"]["warm_ms"]["value"] - (
            probes["cache.fingerprint_ms"] + probes["cache.hit_read_ms"]),
        "jvm.gc_share": eventlog.share(whole["gc_ms"], whole["task_ms"]),
        "jvm.rss_peak_mb": max(a["jvm_rss_peak_mb"], c["jvm_rss_peak_mb"]),
        "traced.cold_ms": cold_traced,
        "trace.overhead_ms": cold_traced - s["e2e"]["cold_ms"]["value"],
    })
    inproc_ok = len(c["requests"]) == len(REQUEST_TYPES) and all(
        r["rows_equal"] for r in c["requests"])
    return {
        "attempted": s["attempted"] + sb["attempted"] + len(c["requests"]),
        "failed": s["failed"] + sb["failed"] + sum(not r["rows_equal"] for r in c["requests"]),
        "errors": s["errors"] + sb["errors"],
        "checks_ok": s["hit_ratio"] == 0.5 and sb["hit_ratio"] == 0.5 and inproc_ok,
        "layers": layers,
        "per_layer": common_layers(
            a["setup"]["session_start_s"], a["setup"]["warmup_first_op_s"],
            layers["jvm.gc_share"], layers["jvm.rss_peak_mb"], layers["trace.overhead_ms"],
            args.host_ref_ms, fm, len(miss_w), len(miss_w)),
        "spans": a["spans"] + b["spans"] + c["spans"],
    }


WORKLOADS = {"extract_job": extract_job, "serve_search": serve_search}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a traced run measures an untraced and a traced phase, each half as long
    args.window_s = args.seconds / 2 if args.trace else args.seconds
    if not program_present():
        print(f"doc_agent_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    become_subreaper()
    # a terminated run still unwinds through the finally blocks that reap
    # its children and remove its work tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ref_start = host_ref_ms()
    args.host_ref_ms = ref_start
    work = make_workdir(args.workload)
    try:
        out = WORKLOADS[args.workload](args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    ref_end = host_ref_ms()

    correct = out["checks_ok"] and out["failed"] == 0
    if args.trace:
        trace_path = write_trace(args.workload, args.seed,
                                 {"spans": out["spans"], "layers": out["layers"]})
    side = {"host.ref_ms": {"start": ref_start, "end": ref_end}, **out["report"],
            "errors": out["errors"][:5]}
    if args.trace:
        side.update({"layers": out["layers"], "trace_file": os.path.relpath(trace_path, ROOT)})
    print(json.dumps(side))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": out["per_layer"] if args.trace else out["e2e"],
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
