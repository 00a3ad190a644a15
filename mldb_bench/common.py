"""Shared pieces of the benchmark: statistics, process facts, the
Spark session lifecycle and a small HTTP client."""

from __future__ import annotations

import http.client
import json
import math
import os
import statistics
import subprocess
import time
from urllib.parse import urlencode

CORES = 4  # every workload runs on local[4] from one process


def pct(values, q: float) -> float:
    """q-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> int | None:
    """Highest of 99/95/90/75 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


# ---------------------------------------------------------------- /proc


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """High-water RSS (VmHWM) of this process plus every descendant
    (the Spark driver JVM and any Python workers it forked)."""
    me = os.getpid()
    kb = sum(_status_kb(p, "VmHWM") for p in [me] + descendants(me))
    return kb / 1024.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def git_commit(root: str) -> str:
    """Commit of the checkout, or 'unknown' outside a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---------------------------------------------------------------- spark


def start_spark():
    """The program's own session factory at local[CORES]."""
    from mldb_spark.session import get_spark

    spark = get_spark("mldb_bench", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for it, then wait
    for the Python workers it forked, which outlive it briefly."""
    from pyspark import SparkContext

    spark.stop()
    started = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:  # ended meanwhile
                pass


def _alive(pid: int) -> bool:
    """True while pid runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def kill_descendants() -> None:
    for pid in reversed(descendants(os.getpid())):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ---------------------------------------------------------------- http


class Client:
    """Keep-alive-free JSON client for the in-process REST server; one
    per client thread."""

    def __init__(self, port: int):
        self.port = port

    def call(self, method: str, path: str, params: dict | None = None, body=None, headers=None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            url = path + ("?" + urlencode(params) if params else "")
            data = None if body is None else json.dumps(body).encode()
            hdrs = {"Content-Type": "application/json", **(headers or {})}
            conn.request(method, url, body=data, headers=hdrs)
            resp = conn.getresponse()
            payload = resp.read()
            return resp.status, json.loads(payload) if payload else None
        finally:
            conn.close()


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t
