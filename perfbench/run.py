"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.  The line
before it is the run's context record (host steal, load, versions, warm-up),
also kept under ``.perfbench/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _batch(b: int, wl, submit=None) -> dict:
    """Prepare (untimed) and submit (timed) batch ``b``; the CPU time is that
    of this process and all its descendants (JVM, workers)."""
    import probe
    t = time.perf_counter()
    item = wl.prepare(b)
    prep = time.perf_counter() - t
    before = probe.process_tree(os.getpid())
    t = time.perf_counter()
    docs = (submit or wl.submit)(item)
    wall = time.perf_counter() - t
    cpu = probe.cpu_delta(before, probe.process_tree(os.getpid()))
    return {"item": item, "prep": prep, "wall": wall, "docs": docs, "cpu": cpu}


def measure(args, spec: dict, root: str) -> tuple[dict, dict]:
    import probe
    import workloads
    nproc = _nproc()
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    cache = os.path.join(root, ".perfbench", "cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, load0 = probe.host_sample()
    t0 = time.perf_counter()
    spark = probe.start_spark(root, work, nproc)
    try:
        wl = workloads.WORKLOADS[args.workload](spark, cache, args.seed, work)
        warm = [_batch(b, wl) for b in range(wl.warm_batches)]
        # input preparation is not set-up work of the program
        setup_s = time.perf_counter() - t0 - sum(w["prep"] for w in warm)
        first = wl.warm_batches
        timed, rss = [], 0.0
        if args.trace:
            # traced batch between two untraced ones: the overhead is taken
            # against both, so leftover warm-up in the first cancels out
            timed.append(_batch(first, wl))
            from tracing import Tracer, stage_metrics
            tr = Tracer(spark.sparkContext)
            traced = _batch(first + 1, wl, lambda item: wl.traced_submit(item, tr))
            timed.append(_batch(first + 2, wl))
            wl.traced_wall = traced["wall"]
            metrics, stages = stage_metrics(spark.sparkContext, tr.groups(),
                                            traced["wall"], nproc)
            metrics.update(wl.layer_metrics(tr, traced["item"]))
            untraced = statistics.mean(u["wall"] / u["docs"] for u in timed)
            metrics["trace.overhead_frac"] = (traced["wall"] / traced["docs"]
                                              / untraced - 1)
            tr.write(os.path.join(root, ".perfbench", "results",
                                  f"trace-{args.workload}-s{args.seed}.json"),
                     {"stages": stages, "metrics": metrics})
        else:
            while True:
                timed.append(_batch(first + len(timed), wl))
                rss = max(rss, probe.python_worker_peak_rss_mb(os.getpid()))
                if sum(u["wall"] for u in timed) >= args.seconds:
                    break
            med = statistics.median
            metrics = {"docs_per_s": med(u["docs"] / u["wall"] for u in timed),
                       "core_s_per_kdoc": med(1000 * u["cpu"] / u["docs"]
                                              for u in timed),
                       "setup_s": setup_s,
                       "worker_peak_rss_mb": rss}
        attempted, failed = wl.check()
    finally:
        probe.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1, load1 = probe.host_sample()
    metrics["ok_frac"] = (attempted - failed) / attempted
    ctx = {**probe.context(nproc), "workload": args.workload,
           "seed": args.seed, "trace": args.trace,
           "host_steal_s": steal1 - steal0, "loadavg_1m": [load0, load1],
           "setup_s": setup_s, "warmup_batch_s": [w["wall"] for w in warm],
           "timed_batch_s": [u["wall"] for u in timed],
           "timed_docs": [u["docs"] for u in timed]}
    # every listed metric, 0 for a layer this workload does not run
    kind = "per_layer" if args.trace else "end_to_end"
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in spec[kind]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}, ctx


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nmalign_spark", "__init__.py")):
        print("perfbench: nmalign_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".perfbench", "results"), exist_ok=True)
    result, ctx = measure(args, spec, root)
    with open(os.path.join(root, ".perfbench", "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({"context": ctx, "result": result}, f, indent=1)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
