"""Steadiness check: two sets of runs per workload, one seed per run.

For every end-to-end metric it prints each set's median and quartiles, the
spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) and whether the
two sets agree within the metric's bound from ``BENCHMARK.json``: the
spread of each set stays within the bound (``setup_s`` exempt) and the
second set's median is not worse than the first's by more than the bound.
With ``--traced N`` it also makes N traced runs per workload and reports
the tracing overhead as the traced minus the untraced median op latency
(both relative to the reference job).

Usage (from the root of a checkout):

    python3 perfbench/steady.py --runs 10 [--sets 2] [--traced 1] [--workload lake_query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise RuntimeError(f"{' '.join(cmd)} reported incorrect results:\n{p.stdout}")
    res["wall_s"] = wall
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok_all = True
    for wl in workloads:
        sets = []
        for k in range(args.sets):
            vals: dict[str, list[float]] = {}
            for i in range(args.runs):
                seed = args.first_seed + 1000 * k + i
                res = run_once(wl, seed, spec["run_seconds"], 0)
                for name, m in res["metrics"].items():
                    vals.setdefault(name, []).append(m["value"])
                print(f"{wl} set {k + 1} seed {seed}: wall {res['wall_s']:.1f}s "
                      + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                      flush=True)
            sets.append(vals)
        print(f"\n== {wl}: {args.runs} runs per set ==")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            line, ok = [], True
            for vals in sets:
                med, q1, q3, sp = spread(vals[name])
                line.append(f"median {med:.4g} [q1 {q1:.4g}, q3 {q3:.4g}] spread {sp:.1%}")
                if name != "setup_s" and sp > bound:
                    ok = False
            if len(sets) > 1:
                w = worse_by(statistics.median(sets[0][name]), statistics.median(sets[1][name]),
                             m["better"])
                line.append(f"set 2 worse by {w:+.1%}")
                ok = ok and w <= bound
            ok_all = ok_all and ok
            print(f"  {name:<14} bound {bound:.0%}  " + " | ".join(line)
                  + f"  -> {'agree' if ok else 'DISAGREE'}")
        if args.traced:
            traced = [run_once(wl, args.first_seed + 5000 + i, spec["run_seconds"], 1)
                      for i in range(args.traced)]
            t = statistics.median(r["metrics"]["trace.op_gmean_ms"]["value"]
                                  / r["metrics"]["trace.probe_ms"]["value"] for r in traced)
            u = statistics.median(sets[0]["op_gmean_rel"])
            book = statistics.median(
                r["metrics"]["trace.overhead_ms_per_op"]["value"] for r in traced)
            print(f"  tracing overhead: op_gmean_rel traced {t:.3f} - untraced {u:.3f} = "
                  f"{t - u:+.3f} ({(t - u) / u:+.1%}); span bookkeeping {book:.2f} ms/op")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
