#!/usr/bin/env python3
"""A/B two graft checkouts on the repo benchmark, alternating seed by seed.

    python3 tools/perfbench_ab.py --base ../graft-parent --change . \\
        --workload catalog_distributed --seeds 21-30 [--trace 0] [--out ab.json]

Each checkout runs `python3 perfbench/run.py --workload W --seed S --trace T`
from its own root: run.py builds into perfbench/target and writes
.bench_build/ inside the checkout it runs from, so the two sides need two
checkouts (for example the parent commit in a `git worktree add` or an
unpacked `git archive`, and the working tree). For every seed and workload
both sides run once, the first side alternating from seed to seed.

Prints, per workload and end-to-end metric (as BENCHMARK.json of the change
lists them), each side's median and quartiles, the change's wins over the
pairs (ties count for neither side), and whether a gain would meet the
claim rule: wins in at least nine tenths of the pairs, and medians apart by
more than the base's interquartile range. Next to it, an end-to-end metric
whose change median is worse than the base median by more than its
BENCHMARK.json `bound` (a fraction of the base median) is marked
`WORSE`: the rule that rejects a change. With --trace 1 the per-layer
metrics are printed too. Every run's `failed` count is reported.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    """'21-30' or '3,5,8' -> [ints]."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"[ab] {checkout} {workload} seed {seed} exit {p.returncode}:\n"
                 f"{p.stderr[-3000:]}{p.stdout[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"[ab] {os.path.basename(os.path.abspath(checkout))} {workload} seed {seed}: "
          f"{time.time() - t0:.0f} s, failed {result['failed']}/{result['attempted']}",
          file=sys.stderr, flush=True)
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def bound_mark(metric, bmed, cmed):
    """'WORSE' when the change median is worse than the base median by more
    than the metric's bound, '' when it is not or the metric has none."""
    bound = metric.get("bound")
    if bound is None:
        return ""
    worse = cmed - bmed if metric.get("better", "lower") == "lower" else bmed - cmed
    return "WORSE" if worse > bound * abs(bmed) else "ok"


def report(spec, workload, pairs, trace):
    metrics = [m for m in spec["end_to_end"]]
    if trace:
        metrics += spec.get("per_layer", [])
    print(f"== {workload}: {len(pairs)} pairs "
          f"(failed: base {sum(b['failed'] for b, _ in pairs)}, "
          f"change {sum(c['failed'] for _, c in pairs)})")
    print(f"   {'metric':32s} {'base median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
          f" {'delta':>8s} {'wins':>6s}  claim  bound")
    for m in metrics:
        name = m["name"]
        got = [(b["metrics"].get(name, {}).get("value"), c["metrics"].get(name, {}).get("value"))
               for b, c in pairs]
        got = [(b, c) for b, c in got if b is not None and c is not None]
        if not got:
            continue
        base = [b for b, _ in got]
        change = [c for _, c in got]
        lower = m.get("better", "lower") == "lower"
        wins = sum(1 for b, c in got if (c < b if lower else c > b))
        bq1, bmed, bq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(change)
        delta = f"{(cmed - bmed) / bmed:+.1%}" if bmed else "n/a"
        gain = (cmed < bmed) if lower else (cmed > bmed)
        claim = gain and wins >= 0.9 * len(got) and abs(cmed - bmed) > (bq3 - bq1)
        print(f"   {name:32s} {bmed:>12.4g} [{bq1:.4g}, {bq3:.4g}]".ljust(70)
              + f" {cmed:>12.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(31)
              + f" {delta:>7s} {wins:>3d}/{len(got):<2d}  {'met' if claim else '-':5s}"
              + f"  {bound_mark(m, bmed, cmed)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the commit compared against")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True,
                    help="a workload of BENCHMARK.json; repeat for several")
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="write every run's result line here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = {w: [] for w in a.workload}
    for i, seed in enumerate(seeds_of(a.seeds)):
        for w in a.workload:
            sides = [("base", a.base), ("change", a.change)]
            if i % 2:
                sides.reverse()
            got = {side: run(path, w, seed, a.trace) for side, path in sides}
            runs[w].append((got["base"], got["change"]))
        if a.out:
            with open(a.out, "w") as f:
                json.dump({w: [{"base": b, "change": c} for b, c in ps]
                           for w, ps in runs.items()}, f, indent=1)
    for w in a.workload:
        report(spec, w, runs[w], a.trace)


if __name__ == "__main__":
    main()
