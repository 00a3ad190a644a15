"""Steadiness self-check: run each workload with several seeds and
report, per end-to-end metric, the spread of the runs (interquartile
range over the median, as statistics.quantiles gives the quartiles)
against the metric's bound in BENCHMARK.json.

    python3 mldb_bench/steady.py [--runs 10] [--workloads a,b] [--first-seed 1]

Run from the checkout root. Each run's result line, provenance and
detail go to .bench_out/steady.jsonl; the summary goes to stdout. Exits
1 when a spread exceeds its bound or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = [n for n in names if n in args.workloads.split(",")]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(".bench_out", exist_ok=True)
    log = open(os.path.join(".bench_out", "steady.jsonl"), "a")
    ok = True
    for wl in names:
        values: dict[str, list[float]] = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=200)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{wl} seed {seed}: no result (exit {proc.returncode})\n{proc.stderr[-2000:]}")
                ok = False
                continue
            extra = {
                key: json.loads(next((ln[len(key) + 1:] for ln in lines if ln.startswith(key + " ")), "{}"))
                for key in ("provenance", "detail")
            }
            log.write(json.dumps({"workload": wl, "seed": seed, "exit": proc.returncode, "wall_s": wall,
                                  "result": res, **extra}) + "\n")
            log.flush()
            if not res["correct"] or proc.returncode:
                ok = False
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {wall:.0f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            s = spread(vs)
            b = bounds.get(k)
            flag = ""
            if b is not None:
                flag = "ok" if s <= b / 3 else ("within bound" if s <= b else "OVER BOUND")
                if s > b:
                    ok = False
            print(f"  {wl:16s} {k:22s} median={statistics.median(vs):12.4f} spread={s:7.2%}"
                  + (f" bound={b:.0%} {flag}" if b is not None else ""))
    log.close()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
