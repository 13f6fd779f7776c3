"""Interleaved A/B of the benchmark between two checkouts.

    python tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --workload live_tail \\
        --pairs 10 [--seed 4 --seed 5] [--seconds 10] [--trace 0] [--out ab.json]

Runs ``perfbench/run.py`` from each tree (working directory = the tree,
so each side builds what it runs from its own source), one pair per
iteration, alternating which side goes first; seeds rotate over the
pairs. For every metric the runs report it prints each side's median
and quartiles, per-seed medians, the change's win fraction (ties count
for neither side) and a verdict:

- ``gain``: the change wins >= 9/10 of at least 10 pairs and the
  medians differ by more than the parent's interquartile range;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound in BENCHMARK.json (end-to-end metrics);
- ``unresolved``: the parent's own IQR is wider than that bound and not
  every change run beats every parent run;
- ``within bound`` otherwise (``no gain`` for metrics without a bound).

Every run's correctness and failed/attempted counts are printed too;
``--out`` keeps the raw results as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_bench(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run in `tree`: its result line, plus the metadata."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        tail = (proc.stderr or proc.stdout)[-2000:]
        raise RuntimeError(f"perfbench failed in {tree} (exit {proc.returncode}):\n{tail}")
    result = json.loads(lines[-1])
    result["meta"] = json.loads(lines[-2])["meta"]
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], lower_is_better: bool,
            bound: float | None) -> dict:
    """The per-metric comparison described in the module docstring."""
    sign = 1 if lower_is_better else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (pm - cm)  # > 0: change better
    iqr = p3 - p1
    if wins >= 0.9 * len(parent) and gap > iqr:
        call = "gain" if len(parent) >= 10 else "gain? (< 10 pairs)"
    elif bound is not None and -gap > bound * abs(pm):
        call = "regression"
    elif bound is not None and iqr > bound * abs(pm) and not (
        max(change) < min(parent) if lower_is_better else min(change) > max(parent)
    ):
        call = "unresolved"
    else:
        call = "within bound" if bound is not None else "no gain"
    return {
        "parent": [p1, pm, p3], "change": [c1, cm, c3], "wins": wins,
        "pairs": len(parent), "change_vs_parent": cm / pm - 1 if pm else None,
        "verdict": call,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, action="append",
                    help="repeatable; rotated over the pairs (default 1)")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result here (JSON)")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    seeds = args.seed or [1]
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sides = {"parent": args.parent_dir, "change": args.change_dir}

    runs: list[dict] = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_bench(sides[side], args.workload, seed, seconds, args.trace)
            runs.append({"pair": i, "side": side, "seed": seed, **res})
            lat = {k: round(v["value"], 3) for k, v in res["metrics"].items()
                   if k in ("latency_s_p50", "setup_s", "memory_mb")}
            print(f"pair {i} seed {seed} {side:6s} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} box_ok={res['meta']['box_ok']} {lat}",
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)

    def values(side: str, metric: str, seed: int | None = None) -> list[float]:
        by_pair = {r["pair"]: r for r in runs if r["side"] == side}
        return [by_pair[i]["metrics"][metric]["value"] for i in sorted(by_pair)
                if seed is None or by_pair[i]["seed"] == seed]

    print(f"\n{args.workload}: {args.pairs} pairs, seeds {seeds}, {seconds:g} s runs, "
          f"trace {args.trace}; all correct: {all(r['correct'] for r in runs)}")
    print(f"{'metric':34s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s} "
          f"{'wins':>6s} {'delta':>7s}  verdict")
    for metric in runs[0]["metrics"]:
        m = spec.get(metric, {})
        v = verdict(values("parent", metric), values("change", metric),
                    m.get("better", "lower") == "lower", m.get("bound"))
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        delta = "" if v["change_vs_parent"] is None else f"{v['change_vs_parent']:+.1%}"
        print(f"{metric:34s} {fmt(v['parent']):>26s} {fmt(v['change']):>26s} "
              f"{v['wins']:>3d}/{v['pairs']:<2d} {delta:>7s}  {v['verdict']}")
        if len(seeds) > 1:
            for seed in seeds:
                p, c = values("parent", metric, seed), values("change", metric, seed)
                print(f"  seed {seed}: parent median {statistics.median(p):.4g}, "
                      f"change median {statistics.median(c):.4g} ({len(p)} pairs)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
