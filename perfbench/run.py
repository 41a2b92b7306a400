"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload docstore_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the engine (``dataworks_spark``) is
imported from the working directory. Each run is a fresh process with
one client and Spark ``local[nproc]``: it sets up the workload (session
start, input load, one warm-up operation of each type), runs a fixed
number of whole rounds sized from ``--seconds``, checks every output
against an oracle computed apart from the engine, and prints one
diagnostics line followed by the result object as the last line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records one
span per call into the engine (its id is the Spark job group of the
jobs the call runs), writes the spans to
``.perfbench_out/trace-<workload>-<seed>.json`` and prints the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

#: end-to-end metrics, every workload reports each of them
E2E = {"setup_s": "s", "op_mean_ms": "ms", "docs_per_s": "1/s"}

#: per-layer metrics of the workloads in BENCHMARK.json; a workload
#: that makes no call into a layer reports 0 for it. A workload left out
#: of BENCHMARK.json (corpus_prep) adds its own after these.
PER_LAYER = {
    "session.start_s": "s",
    "proc.cpu_s": "s",
    "host.floor_ms": "ms",
    "host.steal_pct": "%",
    "jvm.gc_ms": "ms",
    "trace.spans": "count",
    "trace.bookkeeping_ms": "ms",
    "store.write.plan_ms": "ms",
    "store.write.exec_ms": "ms",
    "store.write.jobs": "count",
    "store.write.stages": "count",
    "store.write.tasks": "count",
    "store.lookup.plan_ms": "ms",
    "store.lookup.exec_ms": "ms",
    "store.lookup.jobs": "count",
    "store.lookup.stages": "count",
    "store.lookup.tasks": "count",
    "store.asof.plan_ms": "ms",
    "store.asof.exec_ms": "ms",
    "store.asof.jobs": "count",
    "store.asof.stages": "count",
    "store.asof.tasks": "count",
    "store.read_jobs_after_odd": "count",
    "store.read_jobs_after_even": "count",
    "store.versions_rows": "count",
    "datalog.query.compile_ms": "ms",
    "datalog.query.exec_ms": "ms",
    "datalog.query.jobs": "count",
    "datalog.query.tasks": "count",
    "datalog.rule.ms": "ms",
    "datalog.rule.jobs": "count",
    "datalog.rule.tasks": "count",
    "datalog.rule.max_stage_tasks": "count",
    "datalog.rule.first_job_tasks": "count",
    "datalog.rule.last_job_tasks": "count",
    "collector.post_p50_ms": "ms",
    "collector.post_p90_ms": "ms",
    "collector.files": "count",
    "sink.batch_ms": "ms",
    "sink.batches": "count",
    "sink.rows_per_batch": "count",
    "sink.jobs_per_batch": "count",
    "stream.latest_offset_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.trigger_ms": "ms",
    "sink.durable_bytes": "bytes",
    "sink.durable_files": "count",
    "sink.bytes_per_doc": "bytes",
}

#: nominal seconds per round: a run makes round(seconds / nominal)
#: rounds (at least one), so a given --seconds always gives the same
#: operation sequence whatever the host's speed. corpus_prep is not in
#: BENCHMARK.json (see README.md) but runs the same way by hand.
WORKLOADS = {
    "docstore_serve": ("docstore", "DocstoreServe", 30.0),
    "stream_ingest": ("ingest", "StreamIngest", 2.5),
    "corpus_prep": ("corpus", "CorpusPrep", 8.0),
}

LOADS = 3  # input loads per run; setup_s takes their median


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import dataworks_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {root}: {e}", file=sys.stderr)
        return 2
    import importlib

    from common import Checker, HostProbe, Tracer, emit, pin_host, remove_dir, start_spark, stop_spark

    mod_name, cls_name, nominal = WORKLOADS[args.workload]
    cls = getattr(importlib.import_module(mod_name), cls_name)
    rounds = max(1, round(args.seconds / nominal))
    run_dir = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = wl = None
    checker = Checker()
    try:
        pinned = pin_host(run_dir)
        spark, start_s = start_spark()
        tracer = Tracer(spark, enabled=bool(args.trace))
        probe = HostProbe(spark)
        wl = cls(spark, tracer, checker, args.seed, run_dir)
        loads = []
        for _ in range(LOADS):
            t0 = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(loads) + warm_s
        floor_ms = probe.floor_ms()

        probe.begin()
        wl.timing = True
        t0 = time.perf_counter()
        for r in range(rounds):
            wl.round(r)
        window_s = time.perf_counter() - t0
        wl.timing = False
        host = probe.end()
        wl.finish()

        e2e, diag = wl.results(window_s)
        values = {"setup_s": setup_s, **e2e}
        diagnostics = {
            "workload": args.workload,
            "seed": args.seed,
            "rounds": rounds,
            "window_s": window_s,
            "setup": {"session_start_s": start_s, "load_s": loads, "warm_up_s": warm_s},
            "host": {**pinned, **host, "floor_ms": floor_ms},
            "e2e": values,
            "ops": diag,
        }
        if args.trace:
            tracer.attribute()
            units = dict(PER_LAYER)
            layer = {k: 0.0 for k in PER_LAYER}
            for k, (v, u) in wl.layer_metrics().items():
                layer[k] = v
                units.setdefault(k, u)
            layer.update({
                "session.start_s": start_s,
                "proc.cpu_s": host["cpu_s"],
                "host.floor_ms": floor_ms,
                "host.steal_pct": host["steal_pct"],
                "jvm.gc_ms": host["gc_ms"],
                "trace.spans": float(len(tracer.spans)),
                "trace.bookkeeping_ms": tracer.bookkeeping_s * 1000,
            })
            out = os.path.join(root, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
            tracer.write(out)
            diagnostics["trace_file"] = os.path.relpath(out, root)
            metrics = {k: (layer[k], u) for k, u in units.items()}
        else:
            metrics = {k: (values[k], u) for k, u in E2E.items()}
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        remove_dir(run_dir)
    emit(checker, metrics, diagnostics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
