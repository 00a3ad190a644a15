"""Thin REST façade over api.Mldb mirroring the reference's /v1
surface (server/mldb_server.cc:209-283; formats
engine/dataset_collection.cc:60-238). stdlib http.server only.

Routes: `MldbRestServer.ROUTES` is the single listing — a table of
(verb, path pattern) → handler served by one dispatcher, which reads
and parses the JSON body once and turns every error into a status
code in one place (a malformed body is a 400).

Formats follow dataset_collection.cc: `full` (per-row sparse
[column, value, timestamp] triples; timestamp comes from a `ts`
column when the result carries one, else null — this engine stores
per-cell time as row metadata, see STATUS 'Known semantic
divergences'), `aos` (array of objects), `soa` (object of arrays),
`table` (header row + value rows).

The REST layer collect()s results onto the driver — that is the
reference's behavior too (its REST returns the whole result; RAM-
bound by design, doc/builtin/Scaling.md). A row cap (default 10k,
`?limit=` to lower it) guards the façade; batch-scale outputs go
through transform + parquet sinks, not HTTP.

Result cache: `run_query` — behind `GET /v1/query`, `POST /v1/query`
and `POST /v1/redirect/get` — keeps the rendered answers in one LRU
per server, bounded by RESULT_CACHE_ROWS rows in total. The key is
the request's `q`, `limit`, `format`, `rowNames` and `headers` plus
the version of every dataset the statement names
(`MldbContext.cache_key`), so a hit skips bind, the Spark jobs and
render. Registering a dataset again, committing a mutable one, or
dropping it moves its version on: every entry over the old version
becomes unreachable and ages out of the LRU. Never cached: errors,
and statements whose answer can change with no dataset write — a
table function in FROM, a call to `now`, `random` or `pyeval`, or a
call to a registered function.
"""

from __future__ import annotations

import json
import threading
from collections import OrderedDict
from dataclasses import dataclass
from datetime import date, datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from types import SimpleNamespace
from typing import Callable, NamedTuple
from urllib.parse import parse_qs, urlparse

from mldb_spark.api import Mldb

DEFAULT_ROW_CAP = 10_000
# total rows (an answer counts at least one) the result cache holds
RESULT_CACHE_ROWS = 50_000


def _jsonable(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode()
    if hasattr(v, "asDict"):  # Row — a tuple subclass, so check FIRST
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def _flatten_cell(prefix: str, v, out: dict) -> None:
    if isinstance(v, dict):
        for k, x in v.items():
            _flatten_cell(f"{prefix}.{k}", x, out)
    else:
        out[prefix] = v


def render_rows(rows, columns, fmt="full", row_names=False, headers=True):
    """Render collected rows per dataset_collection.cc formats.

    Structured (struct/map) cells flatten to dotted-path columns on
    the wire (MLDB-668-object-column-name.py: `SELECT {1 AS x} AS y`
    surfaces as column `y.x`): the reference's rowsets are always
    flat — row values exist only inside expressions — while this
    engine keeps Spark structs internally, so the flattening happens
    at the REST render boundary. Leaves of an expanded column slot in
    at its position, name-sorted; rows where the struct is NULL just
    lack the leaves (sparse rows render as NULL cells in dense
    formats)."""
    raw = [{c: _jsonable(r[c]) for c in columns} for r in rows]
    data = []
    expanded: dict[str, set] = {}
    for row in raw:
        fr = {}
        for c in columns:
            v = row[c]
            if isinstance(v, dict) and c not in ("rowName", "ts"):
                leaves: dict = {}
                _flatten_cell(c, v, leaves)
                fr.update(leaves)
                expanded.setdefault(c, set()).update(leaves)
            else:
                fr[c] = v
        data.append(fr)
    if expanded:
        new_cols = []
        for c in columns:
            if c in expanded:
                new_cols.extend(sorted(expanded[c]))
            else:
                new_cols.append(c)
        columns = new_cols
        data = [{c: row.get(c) for c in columns} for row in data]
    if fmt in ("full", ""):
        out = []
        for i, row in enumerate(data):
            ts = row.get("ts")
            name = row.get("rowName", str(i))
            out.append(
                {
                    "rowName": name,
                    "columns": [[c, row[c], ts] for c in columns],
                }
            )
        return out
    if fmt == "aos":
        if row_names:
            return [
                {"_rowName": row.get("rowName", str(i)), **row}
                for i, row in enumerate(data)
            ]
        return data
    if fmt == "soa":
        out = {c: [row[c] for row in data] for c in columns}
        if row_names:
            out["_rowName"] = [
                row.get("rowName", str(i)) for i, row in enumerate(data)
            ]
        return out
    if fmt == "table":
        body = [[row[c] for c in columns] for row in data]
        return ([list(columns)] + body) if headers else body
    if fmt == "sparse":
        out = []
        for i, row in enumerate(data):
            pairs = []
            if row_names:
                pairs.append(["_rowName", row.get("rowName", str(i))])
            pairs.extend([c, row[c]] for c in sorted(columns))
            out.append(pairs)
        return out
    if fmt == "atom":
        # exactly one row and one column (dataset_collection.cc:238-259)
        if len(data) > 1:
            raise ValueError(
                "Query with atom format returning multiple rows. Consider using limit."
            )
        if not data:
            raise ValueError("Query with atom format returned no rows.")
        if len(columns) != 1:
            raise ValueError(
                "Query with atom format returned "
                + ("no" if not columns else "multiple")
                + " columns."
            )
        return data[0][columns[0]]
    raise ValueError(f"unknown format {fmt!r}")




class _ResultCache:
    """LRU of rendered query answers bounded by their total row count;
    thread-safe (the server runs a thread per request)."""

    def __init__(self, max_rows: int):
        self.max_rows = max_rows
        self._entries: OrderedDict = OrderedDict()  # key -> (answer, rows)
        self._rows = 0
        self._lock = threading.Lock()

    def get(self, key) -> "tuple[object, int] | None":
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
            return entry

    def put(self, key, answer, rows: int) -> None:
        rows = max(rows, 1)
        if rows > self.max_rows:
            return
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._rows -= old[1]
            self._entries[key] = (answer, rows)
            self._rows += rows
            while self._rows > self.max_rows:
                _, (_, n) = self._entries.popitem(last=False)
                self._rows -= n


class HttpError(Exception):
    """An error answer that carries its own status code."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


@dataclass
class Request:
    verb: str
    args: list[str]  # the path segments matched by `*` (and `**`)
    query: dict  # query-string parameters; JSON values when redirected
    body: object  # the parsed JSON body, {} when there is none
    location: str | None = None  # set when the answer points at a created object


class Route(NamedTuple):
    verb: str
    path: tuple[str, ...]  # `*` matches one segment, a trailing `**` the rest
    handler: Callable[["MldbRestServer", Request], object]
    ok: int  # status of a successful answer
    missing: int  # status of a KeyError (an unknown entity)


def _route(verb, path, handler, ok=200, missing=404) -> Route:
    return Route(verb, tuple(path.strip("/").split("/")), handler, ok, missing)


def _match(pattern: tuple[str, ...], parts: list[str]) -> list[str] | None:
    """The arguments `parts` binds to `pattern`, or None when it does not
    match; a trailing `**` binds the rest of the path as one "/…" string."""
    args = []
    for i, p in enumerate(pattern):
        if p == "**":
            return args + ["/" + "/".join(parts[i:])]
        if i == len(parts) or p not in ("*", parts[i]):
            return None
        if p == "*":
            args.append(parts[i])
    return args if len(parts) == len(pattern) else None


def _record(write):
    """A handler for the mutable-dataset record path (the reference's
    recordRow/commit lifecycle; MLDB-1267 et al.; column-wise and
    batched variants per MLDB-541): `write(mldb, dataset id, body)`."""

    def handler(app, req):
        write(app.mldb, req.args[0], req.body)
        return {}

    return handler


class _Handler(BaseHTTPRequestHandler):
    """Every verb goes through `_dispatch`. Each server subclasses this
    with its own `app`, so patching one server's do_GET/do_POST/do_PUT
    leaves the others alone."""

    app: "MldbRestServer"

    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_PUT(self):
        self._dispatch("PUT")

    def _dispatch(self, verb: str) -> None:
        url = urlparse(self.path)
        req = Request(verb, [], {k: v[0] for k, v in parse_qs(url.query).items()}, {})
        missing = 404
        try:
            n = int(self.headers.get("Content-Length") or 0)
            if n < 0:
                raise ValueError(f"invalid Content-Length {n}")
            req.body = json.loads(self.rfile.read(n)) if n else {}
            route, req.args = self.app.match(verb, url.path)
            if route is None:
                raise HttpError(404, f"no route {verb} {url.path}")
            missing = route.missing
            code, payload = route.ok, route.handler(self.app, req)
        except Exception as e:
            code = e.code if isinstance(e, HttpError) else missing if isinstance(e, KeyError) else 400
            # every error answer carries BOTH 'error' and 'httpCode'
            # (MLDB-1260's uniform error format)
            payload = {"error": str(e), "httpCode": code}
        self._send(code, payload, req.location)

    def _send(self, code: int, payload, location: str | None) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        if location:
            # creation responses point at the created object
            # (MLDB-951's Location check; MLDB-299/305's sync flavor)
            self.send_header("Location", location)
        self.end_headers()
        self.wfile.write(body)


class MldbRestServer:
    """In-process REST server bound to an Mldb facade. start() binds
    an ephemeral (or given) port on a daemon thread; stop() shuts it
    down. Single-facade, thread-per-request (Spark driver calls are
    serialized by the GIL around py4j — fine for a façade)."""

    def __init__(self, mldb: Mldb, port: int = 0, row_cap: int = DEFAULT_ROW_CAP):
        self.mldb = mldb
        self.row_cap = row_cap
        self._results = _ResultCache(RESULT_CACHE_ROWS)
        # python plugins with custom routes (MLDB-444): id -> {routes
        # source, config}
        self.plugins: dict[str, dict] = {}
        handler = type("Handler", (_Handler,), {"app": self})
        self._server = ThreadingHTTPServer(("127.0.0.1", port), handler)
        self._thread: threading.Thread | None = None

    def match(self, verb: str, path: str) -> tuple[Route | None, list[str]]:
        parts = [p for p in path.split("/") if p]
        for route in self.ROUTES:
            if route.verb == verb:
                args = _match(route.path, parts)
                if args is not None:
                    return route, args
        return None, []

    # -- route handlers: (server, Request) → answer payload -----------------

    def _create(self, req: Request, kind: str):
        """createEntity from a {type, params} body: PUT at an id, or POST
        with an optional one (MLDB-348/983; an id-less config gets an
        auto_ id)."""
        cfg = req.body
        if not cfg:
            raise HttpError(400, "empty payload")  # MLDB-1010
        if req.args:
            # a body id that CONTRADICTS the path id is a 400 (MLDB-348)
            eid = req.args[0]
            if cfg.get("id") not in (None, eid):
                raise HttpError(
                    400, f"config id {cfg['id']!r} does not match the URI id {eid!r}"
                )
            cfg["id"] = eid
        return self.mldb.create_entity(kind, cfg)

    def _put_procedure(self, req: Request):
        """Store the config, and run it when params.runOnCreation is set
        (MLDB-951)."""
        if not req.body:
            raise HttpError(400, "empty payload")
        return self.mldb.put_procedure(req.args[0], req.body)

    def _put_run(self, req: Request):
        """A named run (MLDB-326's /runs/<id>); a body id contradicting
        the URI id is a 400 (the MLDB-348 rule)."""
        if req.body.get("id") not in (None, req.args[1]):
            raise HttpError(400, "run config id does not match URI")
        return self.mldb.run_procedure(req.args[0], req.body.get("params"))

    def _post_run(self, req: Request):
        """Run a stored procedure (MLDB-951); run params override the
        stored config (MLDBFB-208)."""
        status = self.mldb.run_procedure(req.args[0], req.body.get("params"))
        req.location = f"/v1/procedures/{req.args[0]}/latestrun"
        return status

    def _get_query(self, req: Request):
        return self.run_query(req.query)

    def _get_application(self, req: Request):
        """?input=<JSON>; through the redirect the input is a JSON value
        already."""
        inp = req.query.get("input", {})
        return self.apply_function_json(
            req.args[0], json.loads(inp) if isinstance(inp, str) else inp
        )

    def _redirect_get(self, req: Request):
        """POST /v1/redirect/get {target, body}: serve a GET whose
        parameters ride in a body (MLDB-1717's and MLDB-2163's
        test_as_POST_body); only query and function-application targets."""
        route, args = self.match("GET", req.body.get("target", ""))
        if route is None or route.handler not in (
            MldbRestServer._get_query, MldbRestServer._get_application
        ):
            raise HttpError(
                400, "redirect target must be /v1/query or a function application"
            )
        return route.handler(self, Request("GET", args, req.body.get("body", {}), {}))

    def _put_plugin(self, req: Request):
        """A python plugin with custom ROUTES
        (MLDB-444_python_perform_default_args.py): store the routes
        source and run its main."""
        if req.body.get("type") != "python":
            raise HttpError(400, "only python plugins supported")
        src = req.body.get("params", {}).get("source", {}) or {}
        self.plugins[req.args[0]] = {"routes": src.get("routes", ""), "config": req.body}
        if src.get("main"):
            self._exec(src["main"])
        return {"config": req.body}

    def _plugin_route(self, req: Request):
        """Run the plugin's routes source: request.rest_params carries the
        query args as [k, v] pairs, request.payload the JSON body
        (MLDB-444); a route on an unknown plugin is a 404 (MLDB-2114)."""
        plugin_id, remaining = req.args
        if plugin_id not in self.plugins:
            raise HttpError(404, f"unknown plugin {plugin_id!r}")
        return self._exec(
            self.plugins[plugin_id]["routes"],
            verb=req.verb,
            remaining=remaining,
            rest_params=[[k, v] for k, v in req.query.items()],
            payload=req.body,
        )

    def _exec(self, src: str, **request):
        """Run a python source with the facade as `mldb` and a fresh
        `request` in scope (no state leaks between runs, MLDB-153). A
        single expression answers its value (MLDB-255's one-liners);
        otherwise the answer is what the source passed to
        request.set_return()."""
        req = SimpleNamespace(value=None, **request)
        req.set_return = lambda v: setattr(req, "value", v)
        try:
            code = compile(src, "<script>", "eval")
        except SyntaxError:
            code = compile(src, "<script>", "exec")
        result = eval(code, {"mldb": self.mldb, "request": req})  # noqa: S307 — local script route
        return req.value if result is None else result

    # (verb, path, handler, success status, KeyError status); the first
    # matching row serves the request, anything else is a 404
    ROUTES = [
        _route("GET", "/v1/query", _get_query),
        # query params in the body as well (MLDB-1717_query_select_in_body.py)
        _route("POST", "/v1/query", lambda s, r: s.run_query(r.body)),
        _route("POST", "/v1/redirect/get", _redirect_get, 200, 400),
        _route("GET", "/v1/datasets", lambda s, r: s.mldb.datasets()),
        _route("POST", "/v1/datasets", lambda s, r: s._create(r, "dataset"), 201, 400),
        _route("GET", "/v1/datasets/*", lambda s, r: s.mldb.dataset_info(r.args[0])),
        _route("PUT", "/v1/datasets/*", lambda s, r: s._create(r, "dataset"), 201, 400),
        _route("POST", "/v1/datasets/*/rows", _record(lambda m, ds, b: m.record_rows(ds, [b]))),
        # [[rowName, [[col, v, ts], ...]], ...]
        _route("POST", "/v1/datasets/*/multirows", _record(
            lambda m, ds, b: m.record_rows(ds, [{"rowName": r[0], "columns": r[1]} for r in b])
        )),
        _route("POST", "/v1/datasets/*/columns", _record(
            lambda m, ds, b: m.record_column(ds, b["columnName"], b["rows"])
        )),
        _route("POST", "/v1/datasets/*/multicolumns", _record(lambda m, ds, b: m.record_columns(ds, b))),
        _route("POST", "/v1/datasets/*/commit", _record(lambda m, ds, b: m.commit_dataset(ds))),
        _route("GET", "/v1/functions", lambda s, r: s.mldb.functions.names()),
        _route("PUT", "/v1/functions/*", lambda s, r: s._create(r, "function"), 201, 400),
        _route("GET", "/v1/functions/*/application", _get_application),
        _route("POST", "/v1/functions/*/application", lambda s, r: s.apply_function_json(
            r.args[0], r.body.get("input", r.body)
        ), 200, 400),
        # procedures run on POST creation, like the reference's runOnCreation
        _route("POST", "/v1/procedures", lambda s, r: s._create(r, "procedure"), 201, 400),
        _route("GET", "/v1/procedures/*", lambda s, r: s.mldb.procedure(r.args[0])),
        _route("PUT", "/v1/procedures/*", _put_procedure, 201, 400),
        _route("POST", "/v1/procedures/*/runs", _post_run, 201),
        _route("PUT", "/v1/procedures/*/runs/*", _put_run, 201),
        # MLDB-1359; a never-run procedure is a 404 (MLDB-2112)
        _route("GET", "/v1/procedures/*/latestrun", lambda s, r: s.mldb.latest_run(r.args[0])),
        _route("PUT", "/v1/plugins/*", _put_plugin, 201, 400),
        _route("GET", "/v1/plugins/*/routes/**", _plugin_route, 200, 400),
        _route("POST", "/v1/plugins/*/routes/**", _plugin_route, 200, 400),
        # script-run route (MLDB-255's python flavor; the reference's
        # javascript flavor is declared out of scope)
        _route("POST", "/v1/types/plugins/python/routes/run",
               lambda s, r: {"result": s._exec(r.body.get("source", ""))}, 200, 400),
    ]

    # -- function application -----------------------------------------------

    def apply_function_json(self, name: str, input_obj: dict):
        """GET/POST /v1/functions/<name>/application (MLDB-1705/2163):
        apply a registered function to ONE JSON input row and return
        {"output": {...}} — the reference's single-application REST
        surface. Nested input objects become struct columns (json
        read), outputs are the columns the function added."""
        spark = self.mldb.spark
        df = spark.read.json(
            spark.sparkContext.parallelize([json.dumps(input_obj)])
        )
        before = set(df.columns)
        out = self.mldb.functions.apply(name, df)
        new_cols = [c for c in out.columns if c not in before]
        if not new_cols:
            new_cols = [c for c in out.columns if not c.startswith("__")]
        row = out.collect()[0]

        def plain(v):
            return v.asDict(recursive=True) if hasattr(v, "asDict") else _jsonable(v)

        return {"output": {c: plain(row[c]) for c in new_cols}}

    # -- query execution ----------------------------------------------------

    def run_query(self, params: dict[str, str]):
        """Answer a query request from the result cache, or run and
        render it and cache the answer (see the module docstring)."""
        sql = params.get("q")
        if not sql:
            raise ValueError("missing q parameter")
        limit = min(int(params.get("limit", self.row_cap)), self.row_cap)
        fmt = params.get("format", "full")
        row_names = str(params.get("rowNames", "0")).lower() in ("1", "true")
        headers = str(params.get("headers", "1")).lower() not in ("0", "false")
        # the versions are read BEFORE the query runs: a write racing it
        # moves them on, so its answer lands under an unreachable key
        versions = self.mldb.ctx.cache_key(sql)
        key = None if versions is None else (sql, limit, fmt, row_names, headers, versions)
        hit = self._results.get(key)
        if hit is not None:
            return hit[0]
        answer, rows = self._answer(sql, limit, fmt, row_names, headers)
        if key is not None:
            self._results.put(key, answer, rows)
        return answer

    def _answer(self, sql: str, limit: int, fmt: str, row_names: bool, headers: bool):
        """(rendered answer, its row count) of a query."""
        if fmt in ("full", ""):
            # over a cells dataset FULL returns every timestamped tuple
            # of a cell, not just the latest value (MLDB-605/679)
            cells = self.mldb.ctx.cell_tuples(sql, limit)
            if cells is not None:
                return [
                    {
                        "rowName": name,
                        "columns": [
                            [c, _jsonable(v), ts.isoformat() + "Z" if ts is not None else None]
                            for c, v, ts in tuples
                        ],
                    }
                    for name, tuples in cells
                ], len(cells)
        df = self.mldb.query(sql).limit(limit)
        rows = df.collect()
        return render_rows(
            rows, df.columns, fmt=fmt, row_names=row_names, headers=headers
        ), len(rows)

    # -- lifecycle ----------------------------------------------------------

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "MldbRestServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
