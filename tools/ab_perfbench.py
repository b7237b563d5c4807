"""Interleaved A/B of a perfbench workload: this checkout against a parent rev.

Usage, from anywhere in the checkout:

    python3 tools/ab_perfbench.py <parent-rev> --workload lake_ingest --seeds 1-6
    python3 tools/ab_perfbench.py <parent-rev> --workload lake_query --seeds 1-3 --trace 1

The parent's committed files are extracted (``git archive``) into a temp
directory. For each seed the two trees run ``python3 perfbench/run.py
--workload W --seed S --seconds N --trace 0`` back to back (N is
``run_seconds`` of ``BENCHMARK.json``), alternating
which side goes first, so drift on the machine hits both sides alike.
The last JSON line of each run is parsed. For each end-to-end metric of
``BENCHMARK.json`` the report gives each side's median and quartiles, the
change/parent ratio of the medians, the pairs the change won, and the
failed/attempted operations of each side.

A metric whose median moved past its ``BENCHMARK.json`` bound is measured
once more with a second set of pairs (Blink Twice: one sample of a noisy
machine is not a finding). It is labelled ``confirmed`` when the second
set moves past the bound the same way, else ``noise``.

With ``--trace 1`` both sides run traced, and the report gives the
per-layer metrics of ``BENCHMARK.json`` instead: each side's median, the
change/parent ratio and the pairs the change won (per-layer metrics have
no bound, so nothing is re-measured). A layer claim then comes from the
same command as the end-to-end one.

Reads perfbench and ``BENCHMARK.json``; edits neither.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _export(rev: str, dst: str) -> None:
    """The committed files of `rev` in `dst` (no worktree registration)."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=archive, check=True)


def _run(tree: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    tail = (proc.stdout + proc.stderr)[-2000:]
    raise RuntimeError(f"no JSON result from {tree} seed {seed}:\n{tail}")


def _pairs(trees: dict[str, str], workload: str, seeds: list[int],
           seconds: int, trace: int) -> list[dict[str, dict]]:
    out = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = _run(trees[side], workload, seed, seconds, trace)
            m = {k: round(v["value"], 4) for k, v in pair[side]["metrics"].items()}
            print(f"# seed {seed} {side:<6} correct={pair[side]['correct']} {m}",
                  flush=True)
        out.append(pair)
    return out


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _moved(metric: dict, pairs: list[dict[str, dict]]) -> tuple[float, int]:
    """(change/parent ratio of the medians, the pairs the change won)."""
    name, lower = metric["name"], metric["better"] == "lower"
    vals = {side: [p[side]["metrics"][name]["value"] for p in pairs]
            for side in ("parent", "change")}
    ratio = statistics.median(vals["change"]) / statistics.median(vals["parent"])
    won = sum(
        (c < p) if lower else (c > p)
        for p, c in zip(vals["parent"], vals["change"])
    )
    return ratio, won


def _past_bound(metric: dict, ratio: float) -> int:
    """+1 when the change is worse than the parent by more than the
    bound, -1 when better by more than it, 0 inside it."""
    bound = metric.get("bound")
    if bound is None:
        return 0
    worse = ratio - 1 if metric["better"] == "lower" else 1 - ratio
    return 1 if worse > bound else (-1 if worse < -bound else 0)


def _report_ops(pairs: list[dict[str, dict]]) -> None:
    n = len(pairs)
    for side in ("parent", "change"):
        att = sum(p[side]["attempted"] for p in pairs)
        fail = sum(p[side]["failed"] for p in pairs)
        bad = sum(not p[side]["correct"] for p in pairs)
        print(f"{side:<7} failed/attempted ops {fail}/{att}, incorrect runs {bad}/{n}")


def _report_layers(spec: dict, pairs: list[dict[str, dict]]) -> None:
    """Per-layer medians of traced pairs; a metric both sides read 0 on
    (a layer the workload does not touch) is left out."""
    _report_ops(pairs)
    print(f"{'metric':<28} {'parent med':>14} {'change med':>14} {'ratio':>7} {'won':>6}")
    for metric in spec["per_layer"]:
        name = metric["name"]
        med = [statistics.median(p[side]["metrics"][name]["value"] for p in pairs)
               for side in ("parent", "change")]
        if med == [0, 0]:
            continue
        ratio, won = _moved(metric, pairs) if med[0] else (float("inf"), 0)
        print(f"{name:<28} {med[0]:14.4f} {med[1]:14.4f} {ratio:7.3f} "
              f"{won:>2}/{len(pairs):<3}")


def _report(spec: dict, pairs: list[dict[str, dict]], recheck: dict) -> None:
    n = len(pairs)
    _report_ops(pairs)
    print(f"{'metric':<14} {'parent q1/med/q3':>26} {'change q1/med/q3':>26}"
          f" {'ratio':>7} {'won':>6}  verdict")
    for metric in spec["end_to_end"]:
        name = metric["name"]
        cells = []
        for side in ("parent", "change"):
            q1, q2, q3 = _quartiles([p[side]["metrics"][name]["value"] for p in pairs])
            cells.append(f"{q1:8.3f}/{q2:8.3f}/{q3:8.3f}")
        ratio, won = _moved(metric, pairs)
        verdict = recheck.get(name, "within bound")
        print(f"{name:<14} {cells[0]:>26} {cells[1]:>26} {ratio:7.3f} "
              f"{won:>2}/{n:<3}  {verdict}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="git rev of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a-b, inclusive")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced pairs, per-layer report")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    seeds = _seeds(args.seeds)
    tmp = tempfile.mkdtemp(prefix="ab-perfbench-")
    try:
        _export(args.parent, tmp)
        trees = {"parent": tmp, "change": ROOT}
        pairs = _pairs(trees, args.workload, seeds, seconds, args.trace)
        if args.trace:
            _report_layers(spec, pairs)
            return 0
        recheck = {}
        moved = {m["name"]: _past_bound(m, _moved(m, pairs)[0])
                 for m in spec["end_to_end"]}
        if any(moved.values()):
            print("# a median moved past its bound: measuring once more", flush=True)
            again = _pairs(trees, args.workload, seeds, seconds, 0)
            for m in spec["end_to_end"]:
                if moved[m["name"]]:
                    same = _past_bound(m, _moved(m, again)[0]) == moved[m["name"]]
                    recheck[m["name"]] = "confirmed" if same else "noise"
            pairs += again
        _report(spec, pairs, recheck)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
