"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files: `Tracer.patch`
replaces a function where its caller looks it up (a class attribute
or a module attribute) with a wrapper that opens a span around the
call. Several program modules import their collaborators lazily
inside function bodies (`from mldb_spark.ml.procedures import
kmeans_train`), so patching the defining module's attribute is what
makes those inner calls visible too.

Each span holds (id, name, start, end, parent, request id, thread,
py4j calls made by its thread while it was open). Spans flagged as a
job group set `spark.jobGroup.id` to their id, so Spark's event log
attributes jobs and tasks to them. Nothing is written until `dump`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "rid", "thread", "jvm_calls", "tags", "phase")

    def __init__(self, sid, name, parent, rid, tags, phase):
        self.id = sid
        self.name = name
        self.start = time.perf_counter()
        self.end = None
        self.parent = parent
        self.rid = rid
        self.thread = threading.get_ident()
        self.jvm_calls = 0
        self.tags = tags
        self.phase = phase

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start_ms": round((self.start - t0) * 1e3, 3),
            "end_ms": round((self.end - t0) * 1e3, 3),
            "parent": self.parent,
            "rid": self.rid,
            "jvm_calls": self.jvm_calls,
            "phase": self.phase,
            **({"tags": self.tags} if self.tags else {}),
        }


class Tracer:
    """Records spans while `enabled`; a disabled tracer's wrappers call
    straight through, so untraced windows of a traced run pay one
    attribute test per wrapped call."""

    def __init__(self):
        self.enabled = False
        self.phase = "setup"  # or "window": which part of the run spans belong to
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        self.t0 = time.perf_counter()

    # -- span stack ----------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid, parent=None) -> None:
        """Bind this thread's next root spans to a request id and to a
        parent span recorded on another thread (the HTTP client)."""
        self._local.rid = rid
        self._local.remote_parent = parent

    def open(self, name: str, group: bool = False, **tags) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        if st:
            parent, rid = st[-1].id, st[-1].rid
        else:
            parent = getattr(self._local, "remote_parent", None)
            rid = getattr(self._local, "rid", None)
        sp = Span(next(self._ids), name, parent, rid, tags or None, self.phase)
        st.append(sp)
        if group and self._sc is not None:
            sp.tags = {**(sp.tags or {}), "group": f"span-{sp.id}"}
            self._sc.setLocalProperty("spark.jobGroup.id", f"span-{sp.id}")
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        if sp.tags and "group" in sp.tags and self._sc is not None:
            outer = next((s for s in reversed(st) if s.tags and "group" in s.tags), None)
            self._sc.setLocalProperty("spark.jobGroup.id", outer.tags["group"] if outer else None)
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **tags):
        """A span around a block; yields None while disabled."""
        sp = self.open(name, group, **tags)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- patching ------------------------------------------------------

    def patch(self, owner, attr: str, name: str, group: bool = False) -> None:
        """Wrap `owner.attr` (class or module attribute) in a span."""
        orig = getattr(owner, attr)
        tr = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tr.enabled:
                return orig(*a, **kw)
            sp = tr.open(name, group)
            try:
                return orig(*a, **kw)
            finally:
                tr.close(sp)

        setattr(owner, attr, wrapper)

    def count_py4j(self, sc) -> None:
        """Count py4j round trips per span by wrapping the gateway
        client's send_command (looked up on the instance by every
        JavaMember call)."""
        self._sc = sc
        client = sc._gateway._gateway_client
        orig = client.send_command
        tr = self

        def send_command(*a, **kw):
            if tr.enabled:
                for sp in getattr(tr._local, "stack", ()):
                    sp.jvm_calls += 1
            return orig(*a, **kw)

        client.send_command = send_command

    # -- reporting -----------------------------------------------------

    def by_name(self, name: str, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and phase in (None, s.phase)]

    def self_times(self) -> dict[str, tuple[float, int]]:
        """Per span name: (total self time in s, span count). A span's
        self time is its duration minus the union of its children's
        intervals (children on other threads included)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(kids.get(s.id, ())):
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name][0] += s.dur - covered
            out[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict(self.t0)) + "\n")


def read_event_log(path: str) -> dict:
    """Per job group: jobs, tasks, failed tasks, executor run time (ms),
    GC time (ms) and shuffle bytes written, from a Spark event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "failed": 0, "run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0}
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                groups[g]["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    stage_group.setdefault(st["Stage ID"], g)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev.get("Stage ID"), "-")]
                g["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["failed"] += 1
                m = ev.get("Task Metrics") or {}
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return dict(groups)


def trace_rest_server(server, tracer: Tracer) -> None:
    """Server-side request spans on a running MldbRestServer. The
    handler class is built inside the server's constructor, so it is
    patched on the instance's RequestHandlerClass. The client's span id
    rides in the X-Bench-Span header and becomes the parent of every
    span the handler thread records."""
    handler = server._server.RequestHandlerClass

    def route(path: str) -> str:
        tail = path.split("?", 1)[0].rstrip("/").rsplit("/", 1)[-1]
        return {"multirows": "rest.record", "commit": "rest.commit"}.get(tail, "rest.handle")

    for verb in ("do_GET", "do_POST", "do_PUT"):
        orig = getattr(handler, verb)

        def wrapped(h, _orig=orig):
            if not tracer.enabled:
                return _orig(h)
            parent = h.headers.get("X-Bench-Span")
            tracer.set_request(parent, int(parent) if parent else None)
            with tracer.span(route(h.path)):
                return _orig(h)

        setattr(handler, verb, wrapped)
