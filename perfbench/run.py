"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 15 --trace 0

One process per run, a closed loop with one client. Set-up (session start,
warm-up, table loads) is measured separately from the loop; the loads run
``SETUP_REPS`` times into fresh warehouses and the median counts. After the
loop every result is checked outside the timed region. With ``--trace 1``
engine entry points are wrapped in spans, Spark jobs are attributed to
spans, the spans are written as JSONL into ``.perfbench-traces/`` and the
per-layer metrics are printed instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_ingest", "lake_query")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(run, wl):
    """Set-up, warm-up, the timed loop and the checks."""
    run.isolate_env()
    run.start_session()
    loads, state = [], None
    for rep in range(wl.SETUP_REPS):
        t0 = time.perf_counter()
        with run.tracer.span(f"setup.{rep}"):
            state = wl.setup(run, rep)
        loads.append(time.perf_counter() - t0)
        if rep == 0:
            t0 = time.perf_counter()
            with run.tracer.span("setup.warmup"):
                wl.warmup(run, state)
            run.setup_parts["warmup_s"] = time.perf_counter() - t0
            run.ops.clear()  # warm-up operations are not timed samples
            run.probe_s.clear()
    run.setup_parts["loads_s"] = loads
    run.tracer.mark_loop()
    t0 = time.perf_counter()
    while True:
        wl.step(run, state)
        run.loop_s = time.perf_counter() - t0
        if run.loop_s >= run.seconds and getattr(wl, "at_boundary", lambda s: True)(state):
            break
    t0 = time.perf_counter()
    with run.tracer.paused():
        wl.check(run, state)
    run.setup_parts["check_s"] = time.perf_counter() - t0
    return state


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "paimon_presto_spark")):
        print(f"engine package paimon_presto_spark not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _load_spec()
    sys.path.insert(0, ROOT)
    import importlib

    import harness
    import layers

    wl = importlib.import_module(args.workload)
    run = harness.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.trace:
            layers.instrument(run)
        state = _run(run, wl)
        if args.trace:
            with run.tracer.paused():
                metrics = layers.per_layer(run, wl, state)
            wanted = [m["name"] for m in spec["per_layer"]]
        else:
            metrics = run.end_to_end()
            wanted = [m["name"] for m in spec["end_to_end"]]
    finally:
        run.tracer.unwrap_all()
        run.cleanup()

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    _report(run, metrics, wanted, units, bounds)
    out = {
        "correct": run.failed == 0,  # a failed check also counts in failed
        "attempted": run.attempted + len(run.checks),
        "failed": run.failed,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": units[n]} for n in wanted},
    }
    print(json.dumps(out))
    return 0


def _report(run, metrics, wanted, units, bounds) -> None:
    by_class: dict[str, list[float]] = {}
    for cls, dt in run.ops:
        by_class.setdefault(cls, []).append(dt)
    print(f"# {run.workload} seed={run.seed} loop={run.loop_s:.2f}s ops={len(run.ops)} "
          f"checks={len(run.checks)} failed={run.failed}")
    sp = run.setup_parts
    print(f"#   op_gmean {run.op_gmean_ms():.1f} ms, reference job median {run.probe_ms():.1f} ms "
          f"over {len(run.probe_s)} probes")
    print(f"#   setup: session {sp['session_s']:.2f}s warm-up {sp.get('warmup_s', 0.0):.2f}s "
          f"loads {' '.join(f'{x:.2f}s' for x in sp['loads_s'])}; checks {sp['check_s']:.2f}s")
    for cls, xs in sorted(by_class.items()):
        print(f"#   {cls:<36} n={len(xs):<4} p50={statistics.median(xs) * 1000:9.1f} ms")
    if run.trace:
        print("#   layer self time (traced run):")
        for layer, n, self_s in run.tracer.layer_table():
            print(f"#     {layer:<34} spans={n:<5} self={self_s:8.3f} s")
    for n in wanted:
        if metrics.get(n, 0.0) == 0.0 and run.trace:
            continue
        b = bounds.get(n)
        print(f"#   {n:<40} {metrics.get(n, 0.0):14.4f} {units[n]}"
              + (f"  (bound {b:.0%})" if b is not None else ""))


if __name__ == "__main__":
    sys.exit(main())
