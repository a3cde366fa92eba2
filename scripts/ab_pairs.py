#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, with the gain verdict.

    python3 scripts/ab_pairs.py --parent <checkout> --change <checkout> \\
        --workload curation [--workload card_pipeline] --pairs 10 \\
        [--seeds 7,8,...]

Each pair runs `python3 pipebench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout, with T the run_seconds of the change's
BENCHMARK.json and the same seed on both sides; the side that runs first
alternates from pair to pair. The parent checkout
can be any copy of the parent commit, for example
`git worktree add ../parent HEAD~` or `git archive HEAD~ | tar -x -C ../parent`.

For every workload and every end-to-end metric named in the change's
BENCHMARK.json it prints each side's median and quartiles, how many
pairs the change won (ties count for neither side), and two verdicts:

  gain        at least 10 pairs, the change won at least 9 of every 10
              AND its median beats the parent's by more than the
              parent's IQR;
  within bound the change's median is no worse than the parent's by more
              than the metric's bound (a fraction of the parent median).

Failed or incorrect runs are counted and reported; their metrics are left
out. The script itself writes nothing inside either checkout;
pipebench/run.py keeps its build under `.bench_build/` and
`pipebench/target/` there.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# Seconds one pipebench run may take before it counts as failed.
RUN_TIMEOUT_S = 600


def quartiles(xs):
    """(Q1, median, Q3); the quartiles interpolate between samples."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"ok": False, "error": "timeout", "wall_s": time.time() - t0}
    lines = p.stdout.strip().splitlines()
    res = None
    if p.returncode == 0 and lines:
        try:
            res = json.loads(lines[-1])
        except ValueError:
            res = None
    if res is None:
        return {"ok": False, "error": f"exit {p.returncode}: {p.stderr[-500:]}",
                "wall_s": time.time() - t0}
    metrics = {k: v.get("value") for k, v in res.get("metrics", {}).items()}
    return {"ok": bool(res.get("correct")) and res.get("failed", 1) == 0,
            "metrics": metrics, "wall_s": time.time() - t0}


def verdicts(better, bound, pairs):
    """pairs: list of (parent value, change value) from correct runs."""
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    iqr = pq3 - pq1
    gap = sign * (pmed - cmed)  # > 0 when the change is better
    gain = len(pairs) >= 10 and wins * 10 >= 9 * len(pairs) and gap > iqr
    worse = -gap / pmed if pmed else 0.0
    return {"n": len(pairs), "parent": (pmed, pq1, pq3),
            "change": (cmed, cq1, cq3), "wins": wins,
            "parent_iqr": iqr, "median_gap": gap, "gain": gain,
            "worse_frac": worse, "within_bound": worse <= bound}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default=None,
                    help="comma-separated seeds, one per pair (default 1..pairs)")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    seeds = ([int(s) for s in a.seeds.split(",")] if a.seeds
             else list(range(1, a.pairs + 1)))
    if len(seeds) < a.pairs:
        sys.exit(f"ab_pairs: {a.pairs} pairs need {a.pairs} seeds, got {len(seeds)}")
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    results = {w: [] for w in a.workload}
    for w in a.workload:
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {}
            for side in order:
                r = run_once(sides[side], w, seeds[i], seconds)
                pair[side] = r
                print(f"ab_pairs {w} pair {i + 1}/{a.pairs} seed {seeds[i]} {side}: "
                      f"{'ok' if r['ok'] else 'FAILED ' + r.get('error', 'incorrect')} "
                      f"({r['wall_s']:.0f} s)", file=sys.stderr, flush=True)
            results[w].append((seeds[i], order[0], pair))
    for w in a.workload:
        rows = results[w]
        print(f"\n== {w}: {len(rows)} pairs, {seconds:g} s runs")
        print("pair seed first  " + "  ".join(
            f"{m['name']:>22}" for m in bench["end_to_end"]))
        for i, (seed, first, pair) in enumerate(rows):
            cells = []
            for m in bench["end_to_end"]:
                pv = pair["parent"].get("metrics", {}).get(m["name"])
                cv = pair["change"].get("metrics", {}).get(m["name"])
                cells.append(f"{_fmt(pv):>10} {_fmt(cv):>11}")
            print(f"{i + 1:>4} {seed:>4} {first:<6} " + "  ".join(cells))
        fails = {s: sum(1 for _, _, p in rows if not p[s]["ok"]) for s in sides}
        print(f"failed or incorrect runs: parent {fails['parent']}, change {fails['change']}")
        print(f"{'metric':<14} {'n':>3} {'parent med [Q1, Q3]':>28} "
              f"{'change med [Q1, Q3]':>28} {'wins':>5} {'gap':>9} {'IQR':>9}  verdict")
        for m in bench["end_to_end"]:
            vals = [(p["parent"]["metrics"][m["name"]], p["change"]["metrics"][m["name"]])
                    for _, _, p in rows
                    if p["parent"]["ok"] and p["change"]["ok"]
                    and p["parent"]["metrics"].get(m["name"]) is not None
                    and p["change"]["metrics"].get(m["name"]) is not None]
            if not vals:
                print(f"{m['name']:<14} no pair with both runs correct")
                continue
            v = verdicts(m["better"], m["bound"], vals)
            verdict = ("GAIN" if v["gain"] else "no gain") + ", " + (
                "within bound" if v["within_bound"]
                else f"WORSE by {v['worse_frac']:.1%} > bound {m['bound']:.0%}")
            print(f"{m['name']:<14} {v['n']:>3} {_trio(v['parent']):>28} "
                  f"{_trio(v['change']):>28} {v['wins']:>2}/{v['n']:<2} "
                  f"{v['median_gap']:>9.3f} {v['parent_iqr']:>9.3f}  {verdict}")


def _fmt(x):
    return "-" if x is None else f"{x:.3f}"


def _trio(t):
    med, q1, q3 = t
    return f"{med:.3f} [{q1:.3f}, {q3:.3f}]"


if __name__ == "__main__":
    main()
