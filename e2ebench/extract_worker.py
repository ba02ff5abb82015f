"""extract_job worker: one process, one Spark session at a time.

Builds the session the way ``jobs/extract.py main()`` does (udf_heavy,
shipped package), but with an explicit ``local[NPROC]`` master. Set-up is
session start plus one fresh+resume round on a small warm-up corpus. The
window then repeats rounds of ``run_extract`` fresh over the seeded corpus
followed by a resume over the finished tree, one call at a time, and checks
each call's output. A traced worker turns the event log on and, after the
window, times single layers from outside."""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

from common import ROOT, MASTER, Spans, jvm_peak_rss_mb, median, spark_conf

sys.path.insert(0, ROOT)

SAMPLE_DOCS = 40


def expected_spans(doc_index: int, seed: int) -> tuple[bool, list[tuple]]:
    from doc_agent_spark import corpus, spec

    doc = corpus.make_doc(doc_index, seed)
    r = spec.extract_document(doc["doc_id"], doc["spans"])
    return bool(r["parse_failure"]), [
        (s["order"], s["kind"], s["text"], s["media_ref"]) for s in r["out_spans"]
    ]


def sample_matches_spec(out_path: str, sample: list[int], seed: int) -> bool:
    """The written span rows of a seeded doc sample equal ``spec`` output
    span for span (order, kind, text, media_ref) and parse_failure."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    ids = [f"doc-{i:08d}" for i in sample]
    table = ds.dataset(out_path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "parse_failure", "order", "kind", "text", "media_ref"],
        filter=pc.field("doc_id").isin(ids),
    )
    got: dict[str, list] = {}
    for row in table.to_pylist():
        got.setdefault(row["doc_id"], []).append(row)
    for i, doc_id in zip(sample, ids):
        rows = sorted(got.get(doc_id, []), key=lambda r: r["order"])
        failure, spans = expected_spans(i, seed)
        if [(r["order"], r["kind"], r["text"], r["media_ref"]) for r in rows] != spans:
            return False
        if any(r["parse_failure"] != failure for r in rows):
            return False
    return True


class Phase:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.traced = cfg["traced"]
        self.work = os.path.join(cfg["work"], cfg["phase"])
        os.makedirs(self.work, exist_ok=True)
        self.event_dir = os.path.join(self.work, "events") if self.traced else None
        self.spans = Spans()
        self.spark = None

    def start(self) -> float:
        from doc_agent_spark.session import get_spark
        from jobs.extract import ship_package

        t = time.perf_counter()
        with self.spans.span("session.start"):
            self.spark = get_spark(app="e2ebench-extract", master=MASTER, udf_heavy=True,
                                   extra=spark_conf(self.cfg["work"], self.event_dir))
            ship_package(self.spark)
        return time.perf_counter() - t

    def round(self, corpus: str, n_docs: int, seed: int, tag: str, check: bool) -> dict:
        """One fresh run and one resume over its finished tree."""
        from jobs.extract import run_extract

        tree = os.path.join(self.work, tag)
        args = (self.spark, corpus, f"{tree}/out", f"{tree}/lineage", f"{tree}/metrics", tag)
        buckets = self.cfg["buckets"]
        t = time.perf_counter()
        with self.spans.span("jobs.extract.fresh", op=tag):
            fresh = run_extract(*args, buckets=buckets)
        fresh_ms = (time.perf_counter() - t) * 1000.0
        t = time.perf_counter()
        with self.spans.span("jobs.extract.resume", op=tag):
            resume = run_extract(*args, buckets=buckets)
        resume_ms = (time.perf_counter() - t) * 1000.0
        fresh_ok = fresh["docs_processed"] == n_docs and fresh["resumed_buckets_skipped"] == 0
        resume_ok = resume["docs_processed"] == 0 and resume["resumed_buckets_skipped"] == buckets
        if check:
            sample = random.Random(f"{seed}:{tag}").sample(range(n_docs), SAMPLE_DOCS)
            intact = sample_matches_spec(f"{tree}/out", sample, seed)
            fresh_ok, resume_ok = fresh_ok and intact, resume_ok and intact
        return {"tree": tree, "fresh_ms": fresh_ms, "resume_ms": resume_ms,
                "fresh_ok": fresh_ok, "resume_ok": resume_ok}

    def setup(self) -> dict:
        start_s = self.start()
        r = self.round(self.cfg["warm_corpus"], self.cfg["warm_docs"], self.cfg["warm_seed"],
                       "warmup", check=False)
        shutil.rmtree(r["tree"], ignore_errors=True)
        warm_s = (r["fresh_ms"] + r["resume_ms"]) / 1000.0
        return {"session_start_s": start_s, "warmup_first_op_s": r["fresh_ms"] / 1000.0,
                "setup_s": start_s + warm_s}

    def window(self, keep_last: bool = False) -> dict:
        cfg = self.cfg
        res = {"fresh_ms": [], "resume_ms": [], "attempted": 0, "failed": 0, "errors": []}
        t0 = time.perf_counter()
        i, last = 0, None
        while i == 0 or time.perf_counter() - t0 < cfg["seconds"]:
            res["attempted"] += 2
            try:
                r = self.round(cfg["corpus"], cfg["n_docs"], cfg["seed"], f"r{i}", check=True)
            except Exception as e:  # a failed operation is counted, not fatal
                res["failed"] += 2
                res["errors"].append(f"{type(e).__name__}: {e}"[:500])
                i += 1
                continue
            res["fresh_ms"].append(r["fresh_ms"])
            res["resume_ms"].append(r["resume_ms"])
            res["failed"] += (not r["fresh_ok"]) + (not r["resume_ok"])
            if last:
                shutil.rmtree(last, ignore_errors=True)
            last = r["tree"]
            i += 1
        if last and not keep_last:
            shutil.rmtree(last, ignore_errors=True)
        res["last_tree"] = last
        return res

    def probes(self, tree: str) -> dict:
        """Single layers timed from outside, median of three calls each."""
        from doc_agent_spark.operators import extractor
        from doc_agent_spark.sinks.metrics import completed_partitions
        from jobs.extract import lineage_from_written

        spark, corpus, kdocs = self.spark, self.cfg["corpus"], self.cfg["n_docs"] / 1000.0

        def timed(name, fn):
            walls = []
            for k in range(3):
                t = time.perf_counter()
                with self.spans.span(name, op=f"probe{k}"):
                    fn()
                walls.append((time.perf_counter() - t) * 1000.0)
            return median(walls)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        run_id = os.path.basename(tree)
        return {
            "sources.scan_ms_per_kdoc": timed(
                "sources.scan", lambda: noop(spark.read.parquet(corpus))) / kdocs,
            "extractor.kernel_ms_per_kdoc": timed(
                "operators.extractor", lambda: noop(extractor.extract(spark.read.parquet(corpus))))
            / kdocs,
            "sinks.completed_partitions_ms": timed(
                "sinks.completed_partitions",
                lambda: completed_partitions(spark, f"{tree}/lineage", run_id, "extract")),
            "sinks.lineage_ms": timed(
                "sinks.lineage",
                lambda: lineage_from_written(spark, f"{tree}/out", set(), run_id, 0).collect()),
        }

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def layer_metrics(phase: Phase, win: dict, probes: dict) -> tuple[dict, dict]:
    """Layer metrics of a traced phase, and the event-log fold over the time
    windows of its measured fresh runs."""
    import eventlog

    n = phase.cfg["n_docs"]
    events = eventlog.load(phase.event_dir)
    fresh = [(s["start"], s["end"]) for s in phase.spans.spans
             if s["name"] == "jobs.extract.fresh" and s["op"] != "warmup"]
    runs = len(fresh)
    f = eventlog.fold(events, fresh)
    whole = eventlog.fold(events)
    cold = median(win["fresh_ms"])
    layers = dict(probes)
    layers.update({
        "jobs.extract.tasks": f["tasks"] / runs,
        "jobs.extract.spark_jobs": f["jobs"] / runs,
        "plans.shuffle_bytes_per_doc": f["shuffle_write_bytes"] / runs / n,
        "extractor.python_share": eventlog.share(f["python_ms"], f["task_ms"]),
        "extractor.arrow_bytes_per_doc":
            (f["to_python_bytes"] + f["from_python_bytes"]) / runs / n,
        "sinks.files_written": f["files_written"] / runs,
        "sinks.bytes_written_per_doc": f["output_bytes"] / runs / n,
        "jvm.gc_share": eventlog.share(whole["gc_ms"], whole["task_ms"]),
        "jobs.extract.unattributed_ms": cold - (
            probes["extractor.kernel_ms_per_kdoc"] * n / 1000.0
            + probes["sinks.lineage_ms"] + probes["sinks.completed_partitions_ms"]),
    })
    return layers, f


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    phase = Phase(cfg)
    out: dict = {}
    try:
        out["setup"] = phase.setup()
        out["window"] = phase.window(keep_last=phase.traced)
        if phase.traced:
            probes = phase.probes(out["window"]["last_tree"])
    finally:
        phase.stop()
    if phase.traced:
        out["layers"], out["fold"] = layer_metrics(phase, out["window"], probes)
    out["jvm_rss_peak_mb"] = jvm_peak_rss_mb(os.getsid(0))
    out["spans"] = phase.spans.spans
    with open(cfg["result_path"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
