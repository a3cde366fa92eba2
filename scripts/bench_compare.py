#!/usr/bin/env python3
"""Compare two bench full-json captures (and BASELINE.md anchors).

Usage: python3 scripts/bench_compare.py <after.json> [before.json]

Prints per-query after/before/anchor seconds with ratios, sorted by
after-seconds descending, plus family rollups. When both files carry
graft.Bench's per-query `profile`, it also prints the per-query jobs,
tasks and one-task-stage-seconds deltas. The before file defaults
to target/bench_r19_before.json; anchors parse from BASELINE.md.
"""
import json, re, sys, os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def anchors():
    out = {}
    for line in open(os.path.join(REPO, "BASELINE.md")):
        m = re.match(r"\| (\S+) \| 0\.1 \| ([\d.]+) \|", line)
        if m:
            out[m.group(1)] = float(m.group(2))
    return out

def family(name):
    return name.split("_", 1)[0]

PROFILE_KEYS = ("jobs", "tasks", "one_task_stage_s")

def profile_deltas(after, before):
    """Per-query after-minus-before of PROFILE_KEYS, changed rows only."""
    both = sorted(set(after) & set(before))
    print("\nprofile deltas (after - before), queries that moved:")
    print(f"{'d_jobs':>7} {'d_tasks':>8} {'d_1task_s':>10}  query")
    totals = [0, 0, 0.0]
    for k in both:
        d = [after[k][m] - before[k][m] for m in PROFILE_KEYS]
        totals = [t + x for t, x in zip(totals, d)]
        if any(d):
            print(f"{d[0]:7d} {d[1]:8d} {d[2]:10.3f}  {k}")
    print(f"{totals[0]:7d} {totals[1]:8d} {totals[2]:10.3f}  "
          f"TOTAL over {len(both)} queries in both")

def main(after_path, before_path):
    after_doc = json.load(open(after_path))
    before_doc = json.load(open(before_path)) if before_path else {}
    after = after_doc["queries"]
    before = before_doc.get("queries", {})
    anc = anchors()
    rows = []
    for k, v in after.items():
        rows.append((v, before.get(k), anc.get(k), k))
    rows.sort(key=lambda r: -r[0])
    print(f"{'after':>8} {'before':>8} {'a/b':>6} {'anchor':>7} {'a/anc':>6}  query")
    for v, b, a, k in rows:
        rb = f"{v/b:6.2f}" if b else "     -"
        ra = f"{v/a:6.2f}" if a else "     -"
        print(f"{v:8.2f} {b if b is not None else float('nan'):8.2f} {rb} "
              f"{a if a is not None else float('nan'):7.2f} {ra}  {k}")
    # family rollup
    fams = {}
    for v, b, a, k in rows:
        f = fams.setdefault(family(k), [0.0, 0.0, 0.0])
        f[0] += v
        f[1] += b or 0.0
        f[2] += a or 0.0
    print("\nfamily rollup (after / before / anchor):")
    for name, (va, vb, vc) in sorted(fams.items(), key=lambda x: -x[1][0]):
        print(f"  {name:12s} {va:8.2f} {vb:8.2f} {vc:8.2f}")
    ta = sum(r[0] for r in rows)
    tb = sum(r[1] or 0.0 for r in rows)
    tc = sum(r[2] or 0.0 for r in rows)
    print(f"\nTOTAL after={ta:.2f} before={tb:.2f} anchors={tc:.2f}")
    if "profile" in after_doc and "profile" in before_doc:
        profile_deltas(after_doc["profile"], before_doc["profile"])

if __name__ == "__main__":
    ap = sys.argv[1]
    bp = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "target", "bench_r19_before.json")
    if not os.path.exists(bp):
        bp = None
    main(ap, bp)
