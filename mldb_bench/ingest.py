"""record_and_read: the write path as one action of the interactive mix.

One action creates a new `sparse.mutable` dataset (PUT), records a
seeded batch of timestamped cells (POST .../multirows), commits it
(POST .../commit) and sends one temporal read over the fresh data:
temporal_count/temporal_max, the latest-value view, or a WHEN cut.
Every action uses a new dataset, so no query cache can answer its read.
The expected answer comes from a Python model of the cells written.
"""

from __future__ import annotations

import math
import time
from datetime import datetime, timezone

import gen
from common import timed

ROWS = 500  # rows per action, 4-8 columns, 1-3 timestamps per cell
PROBE_ROWS = 25  # the read is restricted to the first rows so answers stay tiny
KINDS = ("temporal", "latest", "when")


def read_sql(kind: str, ds: str, rnd: dict) -> str:
    a, b = rnd["probe_cols"]
    where = f"WHERE rowName() < 'r{PROBE_ROWS:05d}'"
    if kind == "temporal":
        return (f"SELECT rowName() AS rn, temporal_count({a}) AS n, temporal_max({a}) AS mx "
                f"FROM {ds} {where}")
    if kind == "latest":
        return f"SELECT rowName() AS rn, {a}, {b} FROM {ds} {where}"
    cut = datetime.fromtimestamp(rnd["when_cut"], timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return f"SELECT rowName() AS rn, {a}, {b} FROM {ds} WHEN value_timestamp() < '{cut}' {where}"


def expected(kind: str, rnd: dict) -> dict:
    """rowName -> expected answer row, from the recorded cells."""
    a, b = rnd["probe_cols"]
    cells: dict[str, dict[str, list]] = {}
    for batch in rnd["batches"]:
        for row, cols in batch:
            if row < f"r{PROBE_ROWS:05d}":
                for col, val, ts in cols:
                    cells.setdefault(row, {}).setdefault(col, []).append((ts, float(val)))

    def latest(vals, cut=None):
        vals = [v for v in vals if cut is None or v[0] < cut]
        return max(vals)[1] if vals else None

    out = {}
    for row, cols in cells.items():
        if kind == "temporal":
            va = cols.get(a, [])
            out[row] = {"n": len(va) or None, "mx": max(v for _, v in va) if va else None}
        else:
            cut = rnd["when_cut"] if kind == "when" else None
            out[row] = {c: latest(cols.get(c, []), cut) for c in (a, b)}
    return out


def matches(body, want: dict) -> bool:
    if not isinstance(body, list) or len(body) != len(want):
        return False
    for r in body:
        exp = want.get(r.get("rn"))
        if exp is None:
            return False
        for k, v in exp.items():
            got = r.get(k)
            if (got is None) != (v is None):
                return False
            if v is not None and not math.isclose(float(got), v, rel_tol=1e-12):
                return False
    return True


def record_and_read(client, tracer, seed: int, n: int, rows: int = ROWS) -> dict:
    """Run action number n; returns its statuses, read answer, the
    seconds from PUT to commit done and the cells recorded."""
    rnd = gen.ingest_round(seed, n, rows)
    ds = f"fresh_{n}"
    kind = KINDS[n % len(KINDS)]
    statuses = []

    def call(span, method, path, **kw):
        with tracer.span(span) as sp:
            hdr = {"X-Bench-Span": str(sp.id)} if sp is not None else None
            status, body = client.call(method, path, headers=hdr, **kw)
        statuses.append(status)
        return body

    t0 = time.perf_counter()
    call("client.create", "PUT", f"/v1/datasets/{ds}", body={"type": "sparse.mutable"})
    for batch in rnd["batches"]:
        call("client.record", "POST", f"/v1/datasets/{ds}/multirows", body=batch)
    call("client.commit", "POST", f"/v1/datasets/{ds}/commit", body={})
    ingest_s = time.perf_counter() - t0
    body, read_s = timed(call, "client.query", "GET", "/v1/query",
                         params={"q": read_sql(kind, ds, rnd), "format": "aos"})
    return {"statuses": statuses, "body": body, "kind": kind, "ingest_s": ingest_s,
            "read_s": read_s, "cells": rnd["cells"]}


def check(seed: int, n: int, result: dict, rows: int = ROWS) -> bool:
    """Validate action n's statuses and read answer (after the window)."""
    rnd = gen.ingest_round(seed, n, rows)
    return (all(s in (200, 201) for s in result["statuses"])
            and matches(result["body"], expected(result["kind"], rnd)))
