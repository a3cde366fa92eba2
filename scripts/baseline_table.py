#!/usr/bin/env python3
"""Render the BASELINE.md per-query table from a graft.Bench full JSON.

Usage: python3 scripts/baseline_table.py /tmp/graft_bench_full.json
Prints the markdown rows (sorted by query name) plus the total line.
sf and config come from the bench JSON itself; a query's status is
"green" only when it produced a timing and no error was recorded.
When the JSON carries Bench's per-query `profile`, the layer totals and
the top 10 queries by jobs and by wall follow.
"""
import sys, json

doc = json.load(open(sys.argv[1]))
qs = doc["queries"]
errors = doc.get("errors", {})
sf = doc.get("sf", "?")
if isinstance(sf, str) and "sf" in sf:
    sf = sf.rstrip("/").split("sf")[-1]
config = doc.get("config", "local[32], shuffle=32, UTC")
print("| Query | sf | sec | Config | Status |")
print("|---|---|---|---|---|")
for name in sorted(set(qs) | set(errors)):
    if name in errors:
        print(f"| {name} | {sf} | — | {config} | ERROR: {errors[name][:60]} |")
    else:
        print(f"| {name} | {sf} | {qs[name]:.2f} | {config} | green |")
total_status = "errors: none" if not errors else f"errors: {errors}"
cal = doc.get("calibration_sec")
cal_txt = f", calibration {cal:.2f} s" if cal is not None else ""
samples = doc.get("calibration_samples")
if samples:
    cal_txt += " (samples [" + ",".join(f"{s:.2f}" for s in samples) + "])"
norm = doc.get("value_canary_norm")
norm_txt = f", canary-normalized {norm:.2f} s" if norm is not None else ""
print(f"\ntotal: {doc['value']:.2f} s over {len(qs)} queries "
      f"(median of {doc['runs']} runs){cal_txt}{norm_txt}, {total_status}")

prof = doc.get("profile")
if prof:
    def tot(k):
        return sum(p[k] for p in prof.values())
    mb = 1048576.0
    print(f"\n| layer ({len(prof)} profiled queries, {config}) | total |")
    print("|---|---|")
    for label, v in [
            ("jobs", f"{tot('jobs'):,}"), ("stages", f"{tot('stages'):,}"),
            ("tasks", f"{tot('tasks'):,}"),
            ("tasks per stage", f"{tot('tasks') / max(tot('stages'), 1):.2f}"),
            ("wall s per job", f"{sum(qs[n] for n in prof) / max(tot('jobs'), 1):.3f}"),
            ("one-task-stage s", f"{tot('one_task_stage_s'):.1f}"),
            ("construct_s", f"{tot('construct_s'):.1f}"),
            ("plan_s", f"{sum(p['plan_s'] or 0 for p in prof.values()):.1f}"),
            ("exec_s", f"{tot('exec_s'):.1f}"),
            ("shuffle read MB", f"{tot('shuffle_read_bytes') / mb:.1f}"),
            ("shuffle write MB", f"{tot('shuffle_write_bytes') / mb:.1f}"),
            ("spill MB", f"{tot('spill_bytes') / mb:.1f}")]:
        print(f"| {label} | {v} |")
    for title, key in [("jobs", lambda n: (-prof[n]["jobs"], n)),
                       ("wall", lambda n: (-qs[n], n))]:
        print(f"\nTop 10 by {title}:\n")
        print("| query | wall s | construct s | plan s | exec s | jobs | stages "
              "| tasks | one-task-stage s |")
        print("|---|---|---|---|---|---|---|---|---|")
        for n in sorted(prof, key=key)[:10]:
            p = prof[n]
            print(f"| {n} | {qs[n]:.2f} | {p['construct_s']:.2f} | "
                  f"{p['plan_s'] or 0:.3f} | {p['exec_s']:.2f} | {p['jobs']} | "
                  f"{p['stages']} | {p['tasks']} | {p['one_task_stage_s']:.2f} |")
