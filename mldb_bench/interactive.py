"""interactive_sql: closed-loop REST query mix over the sf0.1 tables.

Four client threads each send `GET /v1/query?format=aos` to an
in-process `rest.MldbRestServer` and wait for the answer before the
next request. The mix draws eight MLDB-dialect templates; parameters
are Zipf-drawn over small domains, so part of the SQL texts repeat.
Every template has a DuckDB twin over the same parquet files; answers
are compared after the timed window. The warm-up also runs the write
path (ingest.py) through the same server.
"""

from __future__ import annotations

import math
import os
import threading
import time
from datetime import timedelta

import numpy as np

import gen
import ingest
from common import Client, median, pct, tail_pct, timed
from spans import trace_rest_server

# name, weight, domain size, MLDB-dialect SQL, DuckDB twin, columns, rowNames
TEMPLATES = [
    (
        "point_lookup", 4, 200,
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderkey = {key}",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE o_orderkey = {key}",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"], False,
    ),
    (
        "filtered_groupby", 3, 100,
        "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders WHERE o_custkey <= {cust} GROUP BY o_orderpriority "
        "ORDER BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders WHERE o_custkey <= {cust} GROUP BY o_orderpriority "
        "ORDER BY o_orderpriority",
        ["o_orderpriority", "n", "total"], False,
    ),
    (
        "two_table_join", 2, 25,
        "SELECT c.c_mktsegment AS seg, count(*) AS n, round(sum(o.o_totalprice), 2) AS total "
        "FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_nationkey = {nation} GROUP BY c.c_mktsegment ORDER BY seg",
        "SELECT c.c_mktsegment AS seg, count(*) AS n, round(sum(o.o_totalprice), 2) AS total "
        "FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_nationkey = {nation} GROUP BY c.c_mktsegment ORDER BY seg",
        ["seg", "n", "total"], False,
    ),
    (
        "lineitem_scan_agg", 1, 50,
        "SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem "
        "WHERE l_quantity <= {qty} GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem "
        "WHERE l_quantity <= {qty} GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        ["l_returnflag", "l_linestatus", "n", "qty", "revenue"], False,
    ),
    (
        "named_order_limit", 3, 25,
        "SELECT c_acctbal, c_mktsegment NAMED c_name FROM customer "
        "WHERE c_nationkey = {nation} ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
        "SELECT c_name AS _rowName, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_nationkey = {nation} ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
        ["_rowName", "c_acctbal", "c_mktsegment"], True,
    ),
    (
        "column_expr", 1, 200,
        "SELECT l_orderkey, l_linenumber, COLUMN EXPR (WHERE columnName() LIKE 'l_%price' "
        "OR columnName() = 'l_quantity' ORDER BY columnName() LIMIT 2) FROM lineitem "
        "WHERE l_orderkey = {key} ORDER BY l_orderkey, l_linenumber",
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem "
        "WHERE l_orderkey = {key}",
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"], False,
    ),
    (
        "keys_of_tokenize", 1, len(gen.PART_WORDS),
        "SELECT p_brand AS brand, count(*) AS n FROM part "
        "WHERE '{word}' IN (KEYS OF tokenize_counts(p_name)) GROUP BY p_brand ORDER BY brand",
        "SELECT p_brand AS brand, count(*) AS n FROM part WHERE list_contains("
        "list_filter(string_split_regex(p_name, '[^a-z0-9]+'), t -> t <> ''), '{word}') "
        "GROUP BY p_brand ORDER BY brand",
        ["brand", "n"], False,
    ),
    (
        "when_distinct_on", 2, 60,
        "SELECT DISTINCT ON (user_id) user_id, event_type, value, event_id FROM events "
        "WHEN value_timestamp() >= '{day}' WHERE user_id <= 20 "
        "ORDER BY user_id, value DESC, event_id",
        "SELECT user_id, event_type, \"value\", event_id FROM (SELECT *, row_number() OVER "
        "(PARTITION BY user_id ORDER BY \"value\" DESC, event_id) AS rn FROM events "
        "WHERE ts >= TIMESTAMP '{day}' AND user_id <= 20) WHERE rn = 1",
        ["user_id", "event_type", "value", "event_id"], False,
    ),
]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _params(name: str, rank: int, word_order: np.ndarray) -> dict:
    if name in ("point_lookup", "column_expr"):
        return {"key": 1 + (rank * 7_919) % gen.SF01_ROWS["orders"]}
    if name == "filtered_groupby":
        return {"cust": 100 * (rank + 1)}
    if name in ("two_table_join", "named_order_limit"):
        return {"nation": rank}
    if name == "lineitem_scan_agg":
        return {"qty": 1 + rank}
    if name == "keys_of_tokenize":
        return {"word": gen.PART_WORDS[word_order[rank]]}
    return {"day": (gen.EPOCH + timedelta(days=rank)).strftime("%Y-%m-%d")}


def query_mix(seed: int, n: int, stream: int = 0) -> list[tuple[int, str, str]]:
    """n seeded (template index, MLDB SQL, DuckDB SQL) draws.

    Templates come in shuffled blocks that hold each template as often
    as its weight, so every prefix of the mix has nearly the same
    composition whatever the seed; the parameters are Zipf draws."""
    rng = np.random.default_rng([seed, 4, stream])
    block = [i for i, t in enumerate(TEMPLATES) for _ in range(t[1])]
    picks = np.concatenate([rng.permutation(block) for _ in range(n // len(block) + 1)])[:n]
    word_order = rng.permutation(len(gen.PART_WORDS))
    ranks = {i: iter(gen.zipf_ranks(rng, t[2], n).tolist()) for i, t in enumerate(TEMPLATES)}
    out = []
    for i in picks.tolist():
        p = _params(TEMPLATES[i][0], next(ranks[i]), word_order)
        out.append((i, TEMPLATES[i][3].format(**p), TEMPLATES[i][4].format(**p)))
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=0.011)
    if hasattr(b, "isoformat"):
        b = b.isoformat()
    return a == b


def _rows_match(got: list[dict], want: list[tuple], cols: list[str]) -> bool:
    if not isinstance(got, list) or len(got) != len(want):
        return False
    def key(r):
        return tuple(
            (0, round(float(v), 1), "") if isinstance(v, (int, float)) else (1, 0.0, str(v))
            for v in r
        )

    g = sorted((tuple(r.get(c) for c in cols) for r in got), key=key)
    w = sorted(want, key=key)
    return all(_same(x, y) for gr, wr in zip(g, w) for x, y in zip(gr, wr))


class InteractiveSql:
    name = "interactive_sql"
    clients = 4
    write_actions = len(ingest.KINDS)  # record-and-read actions during warm-up, one per read kind
    # A-B-B-A: warm-up drift cancels out of the tracing overhead
    trace_plan = [(False, 0.25), (True, 0.25), (True, 0.25), (False, 0.25)]

    def __init__(self, seed: int, out_dir: str, tracer):
        self.seed = seed
        self.input_path = os.path.join(out_dir, f"tables-{seed}")
        self.tracer = tracer
        self.mix = query_mix(seed, 20_000)
        self._next = iter(range(len(self.mix)))
        self._lock = threading.Lock()
        self.samples: list[dict] = []
        self.actions: list[tuple[int, dict]] = []  # (action number, result)
        self.server = None
        self.rest_traced = False
        self.facts: dict = {}

    def prepare(self) -> None:
        self.facts["tables"] = gen.write_star_schema(self.input_path, self.seed)
        self.facts["templates"] = [t[0] for t in TEMPLATES]
        self.facts["mix_weights"] = [t[1] for t in TEMPLATES]
        self.facts["clients"] = self.clients
        self.facts["write_actions"] = {"n": self.write_actions, "rows": ingest.ROWS}

    def setup(self, spark) -> None:
        """Facade, table registration and server start."""
        from mldb_spark.api import Mldb
        from mldb_spark.catalog import load
        from mldb_spark.rest import MldbRestServer

        mldb = Mldb(spark)
        for t in TABLES:
            mldb.create_dataset(t, load(spark, self.input_path, t), ts_col="ts" if t == "events" else None)
        self.server = MldbRestServer(mldb).start()
        if self.rest_traced:
            trace_rest_server(self.server, self.tracer)

    def warmup(self) -> None:
        """Every template twice (distinct warm-up draws) and the
        record-and-read actions, from four clients, so lazy set-up and
        first-use compilation are paid before the timed window."""
        per_tpl: dict[int, list] = {}
        for tpl, sql, _ in query_mix(self.seed, 200, stream=1):
            if len(per_tpl.setdefault(tpl, [])) < 2:
                per_tpl[tpl].append(("query", sql))
        todo = iter([("write", k) for k in range(self.write_actions)]
                    + [w for v in per_tpl.values() for w in v])
        lock = threading.Lock()

        def worker():
            c = Client(self.server.port)
            while True:
                with lock:
                    kind, arg = next(todo, (None, None))
                if kind is None:
                    return
                if kind == "write":
                    res = ingest.record_and_read(c, self.tracer, self.seed, arg)
                    with lock:
                        self.actions.append((arg, res))
                else:
                    c.call("GET", "/v1/query", {"q": arg, "format": "aos", "rowNames": 1})

        ts = [threading.Thread(target=worker) for _ in range(self.clients)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    def window(self, seconds: float, traced: bool) -> list[dict]:
        """Closed loop: `clients` threads for `seconds`; returns the
        samples of requests sent in the window."""
        deadline = time.perf_counter() + seconds
        out: list[dict] = []
        tr = self.tracer

        def client():
            c = Client(self.server.port)
            while time.perf_counter() < deadline:
                with self._lock:
                    i = next(self._next)
                tpl, sql, _ = self.mix[i]
                params = {"q": sql, "format": "aos"}
                if TEMPLATES[tpl][6]:
                    params["rowNames"] = 1
                with tr.span("client.query", tpl=TEMPLATES[tpl][0]) as sp:
                    hdr = {"X-Bench-Span": str(sp.id)} if sp is not None else None
                    try:
                        (status, body), lat = timed(c.call, "GET", "/v1/query", params, headers=hdr)
                    except OSError as e:
                        status, body, lat = 0, {"error": str(e)}, float("nan")
                with self._lock:
                    out.append({"i": i, "status": status, "body": body, "lat": lat})

        ts = [threading.Thread(target=client) for _ in range(self.clients)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        wall = time.perf_counter() - t0
        self.samples.extend(out)
        return [{"wall": wall, "n": len(out), "lat": [s["lat"] for s in out],
                 "tpl": [self.mix[s["i"]][0] for s in out]}]

    def install_trace(self, tracer) -> None:
        from mldb_spark import rest

        self.rest_traced = True
        tracer.patch(rest.MldbRestServer, "run_query", "rest.query", group=True)
        tracer.patch(rest, "render_rows", "rest.render")

    def validate(self) -> tuple[int, int, dict]:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.input_path, t)}.parquet')")
        want: dict[str, list] = {}
        failed = 0
        errors: dict[str, int] = {}
        for s in self.samples:
            tpl, sql, duck = self.mix[s["i"]]
            if duck not in want:
                want[duck] = con.execute(duck).fetchall()
            ok = s["status"] == 200 and _rows_match(s["body"], want[duck], TEMPLATES[tpl][5])
            if not ok:
                failed += 1
                errors[TEMPLATES[tpl][0]] = errors.get(TEMPLATES[tpl][0], 0) + 1
        con.close()
        for n, res in self.actions:
            if not ingest.check(self.seed, n, res):
                failed += 1
                errors["record_and_read"] = errors.get("record_and_read", 0) + 1
        attempted = len(self.samples) + len(self.actions)
        return attempted, failed, {"wrong_by_template": errors, "distinct_sql": len(want)}

    def end_to_end(self, windows: list[dict]) -> dict:
        lat = [x for w in windows for x in w["lat"] if x == x]
        n = sum(w["n"] for w in windows)
        wall = sum(w["wall"] for w in windows)
        q = tail_pct(len(lat))
        out = {
            "latency_p50_ms": median(lat) * 1e3,
            "throughput_per_s": n / wall,
            "detail": {
                "query_p50_ms": round(median(lat) * 1e3, 3),
                "query_qps": round(n / wall, 4),
                "queries": n,
            },
        }
        if q is not None:
            out["detail"][f"query_p{q}_ms"] = round(pct(lat, q) * 1e3, 3)
        if len(lat) < 200:
            out["detail"]["query_p95_ms"] = f"n/a: {len(lat)} queries < 200"
        by_tpl: dict[str, list] = {}
        for w in windows:
            for t, x in zip(w["tpl"], w["lat"]):
                by_tpl.setdefault(TEMPLATES[t][0], []).append(x)
        out["detail"]["template_p50_ms"] = {k: round(median(v) * 1e3, 1) for k, v in by_tpl.items()}
        out["detail"]["template_n"] = {k: len(v) for k, v in by_tpl.items()}
        acts = [a for _, a in self.actions]
        if acts:  # measured during warm-up, so part of setup_s
            out["detail"]["ingest_cells_per_s"] = round(
                sum(a["cells"] for a in acts) / sum(a["ingest_s"] for a in acts), 2)
            out["detail"]["temporal_query_p50_ms"] = round(median([a["read_s"] for a in acts]) * 1e3, 3)
        return out

    @staticmethod
    def traced_units(windows: list[dict]) -> int:
        return sum(w["n"] for w in windows)

    def per_layer(self, tracer, groups: dict) -> dict:
        """Query-path means per request over the traced windows; the
        write path (rest.record) from the warm-up's actions."""
        q = tracer.by_name("rest.query", "window")
        n = max(len(q), 1)
        by_id = {s.id: s for s in tracer.spans}
        binds = tracer.by_name("dialect.bind", "window")
        render = tracer.by_name("rest.render", "window")
        client = tracer.by_name("client.query", "window")
        # server time per request: the rest.query span under each client span
        srv = {}
        for s in q:
            p = by_id.get(s.parent)
            while p is not None and p.name != "client.query":
                p = by_id.get(p.parent)
            if p is not None:
                srv[p.id] = s.dur
        waits = [c.dur - srv[c.id] for c in client if c.id in srv]
        g = [groups.get(s.tags["group"], {}) for s in q if s.tags and "group" in s.tags]
        rec = tracer.by_name("rest.record")
        q_ms = sum(s.dur for s in q)
        return {
            "rest.query_ms": (q_ms / n * 1e3, len(q)),
            "rest.render_ms": (sum(s.dur for s in render) / max(len(render), 1) * 1e3, len(render)),
            "rest.wait_ms": (sum(waits) / max(len(waits), 1) * 1e3, len(waits)),
            "rest.record_ms": (sum(s.dur for s in rec) / max(len(rec), 1) * 1e3, len(rec)),
            "session.exec_ms": ((q_ms - sum(b.dur for b in binds) - sum(s.dur for s in render)) / n * 1e3, len(q)),
            "session.jobs_per_query": (sum(x.get("jobs", 0) for x in g) / n, len(g)),
            "session.tasks_per_query": (sum(x.get("tasks", 0) for x in g) / n, len(g)),
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
