"""Shared plumbing for the end-to-end benchmark: the checkout layout, child
process groups and their reaping, the span recorder, the host-drift
reference loop and the summary statistics every workload reports."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# one closed-loop client drives a host of this many cores; every Spark
# session and server the benchmark starts gets exactly local[NPROC]
NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
WORK_ROOT = os.path.join(ROOT, ".e2ebench_work")
OUT_ROOT = os.path.join(ROOT, ".e2ebench_out")


def program_present() -> bool:
    """The benchmark builds nothing: the program is the source tree next to
    it. A checkout without it must fail fast instead of measuring nothing."""
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("doc_agent_spark/__init__.py", "doc_agent_spark/serve.py",
                  "jobs/extract.py")
    )


def make_workdir(tag: str) -> str:
    path = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def child_env(work: str) -> dict:
    """Environment for every Spark-hosting child: scratch space inside the
    work tree (Spark local dirs, Python temp files), the checkout on the
    import path, and the core count pinned to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(NPROC),
        "PYTHONHASHSEED": "0",
    })
    return env


def spark_conf(work: str, event_dir: str | None) -> dict:
    """Session settings the benchmark adds: quiet progress, local dirs in the
    work tree and, for a traced phase, one uncompressed event-log file."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ---------------------------------------------------------------- processes

def become_subreaper() -> None:
    """Make orphaned descendants (a JVM outliving its Python parent) re-parent
    to this process instead of init, so that reap() can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def spawn(cmd: list[str], env: dict, log_path: str, **kw) -> subprocess.Popen:
    """Start a child in a session of its own, so that it and everything it
    forks (the JVM, PySpark's worker daemon, which re-groups itself) can be
    found by session id and reaped."""
    log = open(log_path, "ab")
    try:
        return subprocess.Popen(cmd, env=env, cwd=ROOT, stderr=log,
                                start_new_session=True, **kw)
    finally:
        log.close()


def _session_members(sid: int) -> list[tuple[int, int, str]]:
    """(pid, parent pid, state) of every process in session ``sid``,
    zombies included: a JVM whose main thread has exited shows state Z while
    its other threads still run."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields: state, ppid, pgrp, session
        if int(fields[3]) == sid:
            out.append((int(d), int(fields[1]), fields[0]))
    return out


def reap(proc: subprocess.Popen, grace: float = 10.0) -> None:
    """Stop a child's whole session (TERM, then KILL after ``grace``), wait
    for the child and for every orphan of its session (re-parented here, see
    become_subreaper), and verify that no member of the session is left."""
    sid = proc.pid
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        for pid, _, state in _session_members(sid):
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            proc.poll()
            for pid, ppid, state in _session_members(sid):
                if state == "Z" and ppid == os.getpid() and pid != proc.pid:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
            if proc.returncode is not None and not _session_members(sid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} still running: {_session_members(sid)}")


def jvm_peak_rss_mb(sid: int) -> float:
    """Peak resident set (VmHWM) of the java process in a child's session."""
    best = 0.0
    for pid, _, _ in _session_members(sid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return best


def run_worker(script: str, config: dict, work: str, timeout: float) -> dict:
    """Run a Spark-hosting worker script to completion in its own session
    and return the JSON object it writes; its stderr goes to the work tree
    and is echoed on failure."""
    cfg_path = os.path.join(work, f"{config['phase']}.config.json")
    res_path = os.path.join(work, f"{config['phase']}.result.json")
    log_path = os.path.join(work, f"{config['phase']}.log")
    with open(cfg_path, "w") as f:
        json.dump({**config, "result_path": res_path}, f)
    proc = spawn([sys.executable, os.path.join(BENCH_DIR, script), cfg_path],
                 child_env(work), log_path, stdout=subprocess.DEVNULL)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        reap(proc)
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"{script} ({config['phase']}) failed: exit {proc.returncode}")
    with open(res_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- tracing

class Spans:
    """In-memory span log for the benchmark's own calls into the program:
    (name, start, end, parent, op). Written out once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        rec = {"name": name, "parent": parent, "op": op, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)


def write_trace(workload: str, seed: int, payload: dict) -> str:
    os.makedirs(OUT_ROOT, exist_ok=True)
    path = os.path.join(OUT_ROOT, f"trace-{workload}-{seed}.json")
    with open(path, "w") as f:
        json.dump(payload, f)
    return path


# ---------------------------------------------------------------- statistics

def host_ref_ms(reps: int = 5) -> float:
    """A fixed single-thread Python loop, median of ``reps`` timings: shows
    whether the host itself ran slower, never used to scale a metric."""
    def once():
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        return (time.perf_counter() - t) * 1000.0
    return statistics.median(once() for _ in range(reps))


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, int, int]:
    """(value, percentile, n): the highest of p99/p95/p90/p75 that still has
    at least ten samples beyond it, else the median (p50)."""
    vals = sorted(values)
    n = len(vals)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= 10:
            return float(statistics.quantiles(vals, n=100)[p - 1]), p, n
    return median(vals), 50, n


def geomean(values) -> float:
    return float(statistics.geometric_mean(values))
