"""Steadiness check: run one workload N times, each with another seed,
and print every end-to-end metric's median, quartiles and spread
(quartile distance over median) next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload docstore_serve --runs 10
    python3 perfbench/steady.py --workload stream_ingest --runs 5 --trace

Run from the root of a checkout. With ``--trace`` one more run is made
with tracing on, and its end-to-end figures (kept in its diagnostics
line) are compared with the untraced medians: that difference is the
tracing overhead. Raw result lines go to
``.perfbench_out/steady-<workload>.jsonl``.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed (exit {proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"], wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    raw = open(os.path.join(out_dir, f"steady-{args.workload}.jsonl"), "a")
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, diag, wall = run_once(args.workload, seed, bench["run_seconds"], 0)
        raw.write(json.dumps({"seed": seed, "wall_s": wall, "result": res, "diagnostics": diag}) + "\n")
        raw.flush()
        results.append((res, diag, wall))
        m = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} steal={diag['host']['steal_pct']:.1f}% {m}", flush=True)
    print(f"\n{args.workload}: {len(results)} runs, wall median {statistics.median(w for *_, w in results):.1f}s")
    print(f"{'metric':14s} {'q1':>10s} {'median':>10s} {'q3':>10s} {'spread':>8s} {'bound':>6s}")
    medians = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r, _, _ in results]
        q1, med, q3, sp = spread(vals)
        medians[name] = med
        flag = "" if name == "setup_s" or sp < bound / 3 else "  <- above a third of the bound"
        print(f"{name:14s} {q1:10.3f} {med:10.3f} {q3:10.3f} {sp:8.3f} {bound:6.2f}{flag}")
    shares = {r["failed"] / r["attempted"] for r, _, _ in results}
    print(f"failed share per run: {sorted(shares)}")
    if args.trace:
        res, diag, wall = run_once(args.workload, args.first_seed, bench["run_seconds"], 1)
        raw.write(json.dumps({"seed": args.first_seed, "trace": 1, "wall_s": wall, "result": res, "diagnostics": diag}) + "\n")
        print("\ntraced run (overhead = traced / untraced median - 1):")
        for name, med in medians.items():
            traced = diag["e2e"][name]
            print(f"{name:14s} traced {traced:10.3f} untraced median {med:10.3f} overhead {traced / med - 1:+.3f}")
        print(f"spans {res['metrics']['trace.spans']['value']:.0f}, "
              f"bookkeeping {res['metrics']['trace.bookkeeping_ms']['value']:.1f} ms, trace file {diag.get('trace_file')}")
    raw.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
