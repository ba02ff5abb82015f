"""serve_search: one closed-loop HTTP client against
``python -m doc_agent_spark.serve --port 0 --cache-dir ... --master local[N]``.

The client stands in for an agent that waits for each reply. Every cycle
takes a new two-word query and sends each of the five request types
(search_documents keyword / vector / hybrid / media, and /rag) once as a
cache miss and at once again as a hit, so the planned repeat share is 0.5.
Set-up is server start to first reply plus one warm-up pass (each type as
miss and hit) over a small corpus."""

from __future__ import annotations

import json
import os
import selectors
import subprocess
import sys
import time
import urllib.error
import urllib.request

from common import BENCH_DIR, MASTER, Spans, child_env, jvm_peak_rss_mb, reap, spark_conf, spawn
from inputs import REQUEST_TYPES, type_name


class Server:
    """``python -m doc_agent_spark.serve`` in a session of its own, or, when
    ``host`` names a worker config, serve_worker.py hosting the same entry
    next to the benchmark's in-process calls."""

    def __init__(self, work: str, tag: str, event_dir: str | None, host: dict | None = None):
        self.work = work
        self.tag = tag
        self.host = host
        env = child_env(work)
        # serve builds its own session; session settings reach it through
        # spark-submit's arguments
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}" for k, v in spark_conf(work, event_dir).items()) + " pyspark-shell"
        self.cache_dir = os.path.join(work, f"cache-{tag}")
        self.event_dir = event_dir
        self.proc = None
        self.env = env

    def start(self, timeout: float = 120.0) -> float:
        """Seconds from launch to the first reply (GET /operations)."""
        cmd = [sys.executable, "-m", "doc_agent_spark.serve", "--port", "0",
               "--cache-dir", self.cache_dir, "--master", MASTER]
        if self.host is not None:
            self.host.update({"cache_dir": self.cache_dir, "event_dir": self.event_dir,
                              "result_path": os.path.join(self.work, f"{self.tag}.result.json")})
            cfg_path = os.path.join(self.work, f"{self.tag}.config.json")
            with open(cfg_path, "w") as f:
                json.dump(self.host, f)
            cmd = [sys.executable, os.path.join(BENCH_DIR, "serve_worker.py"), cfg_path]
        t = time.perf_counter()
        self.proc = spawn(cmd, self.env, os.path.join(self.work, f"server-{self.tag}.log"),
                          stdout=subprocess.PIPE, stdin=subprocess.PIPE)
        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        if not sel.select(timeout):
            raise RuntimeError("serve did not report its port")
        sel.close()
        line = self.proc.stdout.readline()
        self.port = json.loads(line)["listening"]
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/operations",
                                    timeout=timeout) as r:
            json.loads(r.read())
        return time.perf_counter() - t

    def post(self, path: str, body: dict) -> tuple[float, dict]:
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}/{path}", data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
        t = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=150) as r:
                resp = json.loads(r.read())
        except urllib.error.HTTPError as e:
            resp = json.loads(e.read() or b"{}")
        return (time.perf_counter() - t) * 1000.0, resp

    def in_process(self, requests: list[dict], timeout: float = 120.0) -> dict:
        """Hand the hosting worker its in-process requests; wait for its result."""
        self.proc.stdin.write((json.dumps({"requests": requests}) + "\n").encode())
        self.proc.stdin.flush()
        path = self.host["result_path"]
        deadline = time.monotonic() + timeout
        while not os.path.exists(path) and self.proc.poll() is None \
                and time.monotonic() < deadline:
            time.sleep(0.1)
        self.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        with open(path) as f:
            return json.load(f)

    def stop(self) -> float:
        """Peak JVM RSS (MB) read before the server's session is reaped."""
        if self.proc is None:
            return 0.0
        rss = jvm_peak_rss_mb(self.proc.pid)
        self.proc.stdout.close()
        self.proc.stdin.close()
        reap(self.proc)
        self.proc = None
        return rss


def body_of(corpus: str, query: str, mode: str | None) -> dict:
    body = {"input_path": corpus, "query": query}
    if mode:
        body["mode"] = mode
    return body


def pair(server: Server, spans: Spans, corpus: str, query: str, path: str,
         mode: str | None, op: str) -> dict:
    """One request type sent as a miss, then at once as a hit. Checks: both
    succeed, the cache flags are as planned, the miss returned rows, and
    the hit's rows equal the miss's."""
    name = type_name(path, mode)
    body = body_of(corpus, query, mode)
    with spans.span(f"serve.miss.{name}", op=op):
        miss_ms, miss = server.post(path, body)
    with spans.span(f"serve.hit.{name}", op=op):
        hit_ms, hit = server.post(path, body)
    miss_ok = bool(miss.get("ok")) and miss.get("cache", {}).get("hit") is False \
        and len(miss.get("rows", [])) > 0
    hit_ok = bool(hit.get("ok")) and hit.get("cache", {}).get("hit") is True \
        and hit.get("rows") == miss.get("rows")
    return {"type": name, "path": path, "mode": mode, "query": query,
            "miss_ms": miss_ms, "hit_ms": hit_ms,
            "miss_ok": miss_ok, "hit_ok": hit_ok,
            "hit_flags": [bool(miss.get("cache", {}).get("hit")),
                          bool(hit.get("cache", {}).get("hit"))],
            "rows": miss.get("rows"),
            "error": None if miss_ok and hit_ok else
            (miss.get("error") or hit.get("error") or "check failed")}


def run_phase(cfg: dict, queries: list[str], tag: str, seconds: float,
              event_dir: str | None = None, host: dict | None = None) -> dict:
    """Server set-up, then the measured window, then (hosted server only)
    the in-process step; the server is reaped before returning."""
    spans = Spans()
    server = Server(cfg["work"], tag, event_dir, host)
    out = {"pairs": [], "spans": spans.spans}
    try:
        with spans.span("serve.start"):
            start_s = server.start()
        t = time.perf_counter()
        with spans.span("serve.warmup"):
            warm = [pair(server, spans, cfg["warm_corpus"], cfg["warm_query"], p, m, "warmup")
                    for p, m in REQUEST_TYPES]
        out["setup"] = {"session_start_s": start_s,
                        "warmup_first_op_s": warm[0]["miss_ms"] / 1000.0,
                        "setup_s": start_s + time.perf_counter() - t}
        t0 = time.perf_counter()
        cycle = 0
        while True:
            for p, m in REQUEST_TYPES:
                out["pairs"].append(pair(server, spans, cfg["corpus"], queries[cycle], p, m,
                                         f"c{cycle}"))
                if cycle > 0 and time.perf_counter() - t0 >= seconds:
                    break
            else:
                cycle += 1
                if time.perf_counter() - t0 < seconds:
                    continue
            break
        out["window_s"] = time.perf_counter() - t0
        if host is not None:
            first = [{"type": p["type"], "path": p["path"], "mode": p["mode"],
                      "query": p["query"], "rows": p["rows"]}
                     for p in out["pairs"][:len(REQUEST_TYPES)]]
            out["inproc"] = server.in_process(first)
    finally:
        out["jvm_rss_peak_mb"] = server.stop()
    return out
