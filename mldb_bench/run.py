"""Benchmark entry point.

    python3 mldb_bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Inputs are
generated from --seed under .bench_out/ in the checkout; the program
(`mldb_spark`) sees only those files and the requests sent to it.

--trace 0 prints the end-to-end metrics; --trace 1 prints the
per-layer metrics from in-memory spans, the Spark event log and py4j
call counts, plus the tracing overhead measured against untraced
windows of the same run. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Lines before it carry
provenance and the per-workload detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import CORES  # noqa: E402
from spans import Tracer, read_event_log  # noqa: E402

HARD_LIMIT_S = 170  # a run that is still going here is killed and fails

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "rest.query_ms": "ms",
    "rest.render_ms": "ms",
    "rest.wait_ms": "ms",
    "rest.record_ms": "ms",
    "dialect.parse_ms": "ms",
    "dialect.bind_ms": "ms",
    "dialect.jvm_calls_per_query": "count",
    "dialect.register_cells_ms": "ms",
    "api.record_rows_ms": "ms",
    "api.commit_ms": "ms",
    "api.commit_jvm_calls": "count",
    "session.jobs_per_query": "count",
    "session.tasks_per_query": "count",
    "session.exec_ms": "ms",
    "session.shuffle_write_mb": "MB",
    "session.executor_busy_ratio": "ratio",
    "session.gc_ms": "ms",
    "session.task_failures": "count",
    "ml.svd_train_s": "s",
    "ml.kmeans_train_s": "s",
    "ml.tsne_train_s": "s",
    "dedup.minhash_s": "s",
    "dedup.components_s": "s",
    "dedup.pairs": "count",
    "dedup.recall": "ratio",
    "similarity.ivf_topk_s": "s",
    "similarity.recall_at_10": "ratio",
    "operators.transpose_s": "s",
    "corpus.repetition_signals_s": "s",
    "caching.persists_released": "count",
    "catalog.load_ms": "ms",
    "trace.latency_overhead_pct": "%",
    "trace.throughput_overhead_pct": "%",
}


def _workload(name: str, seed: int, out_dir: str, tracer: Tracer):
    if name == "interactive_sql":
        from interactive import InteractiveSql

        return InteractiveSql(seed, out_dir, tracer)
    if name == "batch_pipeline":
        from pipeline import BatchPipeline

        return BatchPipeline(seed, out_dir, tracer)
    raise SystemExit(f"unknown workload {name!r}")


def _install_common_trace(tracer: Tracer) -> None:
    """Span wrappers on the program's public entry points, patched
    where their callers look them up."""
    from mldb_spark import api, catalog
    from mldb_spark.dialect import parser, translate

    tracer.patch(parser, "parse_statement", "dialect.parse")
    tracer.patch(translate, "parse_statement", "dialect.parse")
    tracer.patch(translate.MldbContext, "query", "dialect.bind")
    tracer.patch(translate.MldbContext, "register_cells", "dialect.register_cells")
    tracer.patch(api.Mldb, "record_rows", "api.record_rows")
    tracer.patch(api.Mldb, "commit_dataset", "api.commit", group=True)
    tracer.patch(catalog, "load", "catalog.load")


def _common_layers(tracer: Tracer, groups: dict, traced_wall: float, units: int) -> dict:
    """Layer metrics every workload shares. Query-path figures come from
    the traced windows; write-path and catalog figures from set-up,
    where those calls happen."""
    def mean_ms(name, phase=None):
        xs = tracer.by_name(name, phase)
        return (sum(s.dur for s in xs) / max(len(xs), 1) * 1e3, len(xs))

    def mean_calls(name, phase=None):
        xs = tracer.by_name(name, phase)
        return (sum(s.jvm_calls for s in xs) / max(len(xs), 1), len(xs))

    traced_groups = {s.tags["group"] for s in tracer.spans
                     if s.phase == "window" and s.tags and "group" in s.tags}
    g = [v for k, v in groups.items() if k in traced_groups]
    loads = tracer.by_name("catalog.load", "setup")
    return {
        "dialect.parse_ms": mean_ms("dialect.parse", "window"),
        "dialect.bind_ms": mean_ms("dialect.bind", "window"),
        "dialect.jvm_calls_per_query": mean_calls("dialect.bind", "window"),
        "dialect.register_cells_ms": mean_ms("dialect.register_cells"),
        "api.record_rows_ms": mean_ms("api.record_rows"),
        "api.commit_ms": mean_ms("api.commit"),
        "api.commit_jvm_calls": mean_calls("api.commit"),
        "session.shuffle_write_mb": (sum(x["shuffle_bytes"] for x in g) / 2**20 / max(units, 1), units),
        "session.executor_busy_ratio": (sum(x["run_ms"] for x in g) / 1e3 / max(traced_wall * CORES, 1e-9), len(g)),
        "session.gc_ms": (sum(x["gc_ms"] for x in g) / max(units, 1), units),
        "session.task_failures": (sum(x["failed"] for x in groups.values()), sum(x["tasks"] for x in groups.values())),
        "catalog.load_ms": (sum(s.dur for s in loads) * 1e3, len(loads)),
    }


def _watchdog() -> None:
    def fire():
        print(f"run exceeded {HARD_LIMIT_S}s; stopping", file=sys.stderr)
        common.kill_descendants()
        os._exit(3)

    t = threading.Timer(HARD_LIMIT_S, fire)
    t.daemon = True
    t.start()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive_sql", "batch_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    _watchdog()
    sys.path.insert(0, ROOT)
    try:
        import mldb_spark  # noqa: F401 — the JVM starts later, in start_spark
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    out_dir = os.path.join(os.getcwd(), ".bench_out")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prov = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": common.git_commit(os.getcwd()),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores_used": CORES,
        "loadavg_before": common.loadavg(),
    }
    # everything Spark, the JVM and Python write stays in the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    event_dir = None
    if args.trace:
        event_dir = os.path.join(out_dir, f"eventlog-{os.getpid()}")
        os.makedirs(event_dir, exist_ok=True)
        for conf in ("spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_dir}",
                     "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"):
            submit += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    tracer = Tracer()
    wl = _workload(args.workload, args.seed, out_dir, tracer)
    _, prov["prepare_s"] = common.timed(wl.prepare)

    t = time.perf_counter()
    spark = common.start_spark()
    session_s = time.perf_counter() - t
    try:
        if args.trace:
            tracer.count_py4j(spark.sparkContext)
            _install_common_trace(tracer)
            wl.install_trace(tracer)
        # set-up, done once as a user starts the program, is traced too
        # (phase "setup"): catalog loads and the warm-up's writes are
        # measured there
        tracer.enabled = bool(args.trace)
        tracer.set_request("setup")
        with tracer.span("setup"):
            _, register_s = common.timed(wl.setup, spark)
        tracer.set_request(None)
        _, warm_s = common.timed(wl.warmup)
        tracer.enabled = False
        tracer.phase = "window"
        setup = {"session_s": session_s, "register_s": register_s, "warmup_s": warm_s}

        # untraced run: one window. Traced run: the workload's plan of
        # (traced, share of --seconds) windows; traced windows give the
        # per-layer metrics, and traced against untraced the overhead.
        plan = [(False, 1.0)] if not args.trace else wl.trace_plan
        windows = {False: [], True: []}
        for traced, share in plan:
            tracer.enabled = traced
            windows[traced].extend(wl.window(args.seconds * share, traced))
            tracer.enabled = False
        prov["peak_rss_mb"] = round(common.peak_rss_mb(), 1)
        (attempted, failed, check), prov["validate_s"] = common.timed(wl.validate)
    finally:
        wl.close()
        common.stop_spark(spark)
        groups = {}  # job group -> Spark counters, complete once the session stopped
        if event_dir:
            for d, _, files in os.walk(event_dir):
                for f in files:
                    if not f.startswith((".", "appstatus")):
                        groups.update(read_event_log(os.path.join(d, f)))
            shutil.rmtree(event_dir)
        if os.path.isdir(wl.input_path):
            shutil.rmtree(wl.input_path)
        elif os.path.exists(wl.input_path):
            os.remove(wl.input_path)
    prov["loadavg_after"] = common.loadavg()
    prov["run_s"] = time.perf_counter() - t_start
    prov.update(wl.facts)

    untraced = wl.end_to_end(windows[False])
    detail = untraced.pop("detail")
    print("provenance " + json.dumps(prov, default=str))
    print("checks " + json.dumps(check, default=str))
    setup_s = session_s + register_s + warm_s
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "latency_p50_ms": untraced["latency_p50_ms"],
            "throughput_per_s": untraced["throughput_per_s"],
        }
        detail.update({
            "setup_s": round(setup_s, 4),
            "setup_parts": {k: round(v, 4) for k, v in setup.items()},
            "peak_rss_mb": prov["peak_rss_mb"],
            "error_rate": failed / max(attempted, 1),
        })
        units = {k: END_TO_END[k] for k in metrics}
    else:
        traced = wl.end_to_end(windows[True])
        traced.pop("detail")
        traced_wall = sum(w["wall"] for w in windows[True])
        layers = _common_layers(tracer, groups, traced_wall, wl.traced_units(windows[True]))
        layers.update(wl.per_layer(tracer, groups))
        layers["trace.latency_overhead_pct"] = (
            (traced["latency_p50_ms"] / untraced["latency_p50_ms"] - 1) * 100, 1)
        layers["trace.throughput_overhead_pct"] = (
            (1 - traced["throughput_per_s"] / untraced["throughput_per_s"]) * 100, 1)
        metrics = {k: layers.get(k, (0.0, 0))[0] for k in PER_LAYER}
        units = PER_LAYER
        self_t = tracer.self_times()
        detail = {
            "samples": {k: layers.get(k, (0.0, 0))[1] for k in PER_LAYER},
            "self_time_s": {k: round(v[0], 4) for k, v in sorted(self_t.items())},
            "span_counts": {k: v[1] for k, v in sorted(self_t.items())},
        }
        span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(span_file)
        detail["span_file"] = os.path.relpath(span_file, os.getcwd())
        for k in PER_LAYER:
            print(f"layer {k} = {metrics[k]:.6g} {PER_LAYER[k]} (n={detail['samples'][k]})")
    print("detail " + json.dumps(detail, default=str))
    correct = failed == 0 and attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code)
