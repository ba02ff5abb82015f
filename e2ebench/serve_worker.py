"""serve_search traced phase: one process hosts a Spark session of the
benchmark's own (event log on) and, in a thread, the public serve entry
``doc_agent_spark.serve.main(["--port", "0", ...])`` on that same session.

The HTTP client drives the server's warm-up and window from outside. It
then sends one JSON line on stdin naming the requests of the first cycle
with the rows the server returned; this process re-executes each of them
through ``api.execute`` (same JVM, so equally warm), checks that the rows
are equal, and times the result cache's public calls one by one."""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from common import ROOT, MASTER, Spans, jvm_peak_rss_mb, median, spark_conf

sys.path.insert(0, ROOT)

ROW_LIMIT = 100  # serve's default row_limit


def op_and_params(path: str, mode: str | None, corpus: str, query: str):
    params = {"input_path": corpus, "query": query}
    if mode:
        params["mode"] = mode
    return ("rag_search" if path == "rag" else path), params


def in_process(spark, cfg: dict, spans: Spans) -> dict:
    from doc_agent_spark import api
    from doc_agent_spark.cache import ResultCache, input_fingerprint

    out: dict = {"requests": []}
    for r in cfg["requests"]:
        op, params = op_and_params(r["path"], r["mode"], cfg["corpus"], r["query"])
        with spans.span(f"api.execute.{r['type']}", op=r["type"]):
            t = time.perf_counter()
            with spans.span("api.plan", op=r["type"]):
                df = api.execute(spark, op, **params)
            plan_ms = (time.perf_counter() - t) * 1000.0
            rows = [json.loads(s) for s in df.limit(ROW_LIMIT).toJSON().collect()]
            total_ms = (time.perf_counter() - t) * 1000.0
        out["requests"].append({"type": r["type"], "plan_ms": plan_ms, "ms": total_ms,
                                "rows_equal": rows == r["rows"]})

    cache = ResultCache(os.path.join(cfg["work"], "cache-inproc"))
    first = cfg["requests"][0]
    op, params = op_and_params(first["path"], first["mode"], cfg["corpus"], first["query"])
    canon = {**api.OPERATIONS[op].defaults, **params}
    src = api.execute(spark, op, **params).limit(ROW_LIMIT)
    local = spark.createDataFrame(src.collect(), src.schema)
    key = cache.key(op, canon, ROW_LIMIT, {"input_path": input_fingerprint(cfg["corpus"])})

    def timed(name, fn, reps=5):
        walls = []
        for k in range(reps):
            t = time.perf_counter()
            with spans.span(name, op=f"probe{k}"):
                fn(k)
            walls.append((time.perf_counter() - t) * 1000.0)
        return median(walls)

    out["probes"] = {
        "cache.fingerprint_ms": timed(
            "cache.fingerprint", lambda k: input_fingerprint(cfg["corpus"])),
        "cache.lookup_ms": timed("cache.lookup", lambda k: cache.lookup(spark, key)),
        "cache.store_ms": timed(
            "cache.store", lambda k: cache.store(local, ROW_LIMIT, f"{key}{k}"), reps=3),
        "cache.hit_read_ms": timed(
            "cache.hit_read",
            lambda k: cache.lookup(spark, f"{key}0").limit(ROW_LIMIT).toJSON().collect(),
            reps=9),
    }
    return out


def main() -> None:
    from doc_agent_spark import serve
    from doc_agent_spark.session import get_spark

    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    spark = get_spark(app="e2ebench-serve", master=MASTER,
                      extra=spark_conf(cfg["work"], cfg["event_dir"]))
    try:
        # serve.main finds this session (getOrCreate) and prints its port
        threading.Thread(
            target=serve.main, daemon=True,
            args=(["--port", "0", "--cache-dir", cfg["cache_dir"], "--master", MASTER],),
        ).start()
        line = sys.stdin.readline()
        if not line:
            return
        cfg.update(json.loads(line))
        spans = Spans()
        out = in_process(spark, cfg, spans)
        out["spans"] = spans.spans
        out["jvm_rss_peak_mb"] = jvm_peak_rss_mb(os.getsid(0))
        with open(cfg["result_path"], "w") as f:
            json.dump(out, f)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
