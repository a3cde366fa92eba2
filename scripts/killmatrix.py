#!/usr/bin/env python3
"""Reusable harness kill matrix (VERDICT r16 #3, r17 #1 + optional #8).

Seeds deliberate defects ONE AT A TIME into the source (literal string
patches — they fail loudly if the code drifted), rebuilds via sbt,
runs the filtered Verify + scripts/check.py, restores the tree, and
prints a caught/blind matrix. A harness that can't catch a seeded
defect is a harness whose green means nothing — this is the negative
control for the rows/schema/value channels AND the sampled-pred
channel.

Suites:
  exact    the 5 r17 defects (value ×3 / rows ×1 / schema ×1) plus a
           query that throws (missing ×1) at sf0.01 with full-output
           compares. Expect: all CAUGHT. Plus a patch that does not
           compile (build ×1). Expect: VERIFY-ERROR, and no check.py
           run.
  sampled  2 sf10 defects whose wrong rows fall OUTSIDE the default
           sampled pred slice (id_a % 10 = 0 / = 1). Each runs the
           check TWICE: GRAFT_PRED_ROT=0 (default slice — expect
           BLIND: the blind spot honestly measured) and with the
           rotation that lands on the corrupted slice (expect
           CAUGHT) — proving the per-round pred-rotation protocol
           closes the sampled-channel blind spot within ≤10 rounds.

Usage:
  python3 scripts/killmatrix.py exact   [sf_dir] [--defect NAME]
  python3 scripts/killmatrix.py sampled [sf_dir] [--defect NAME]

sf_dir defaults: exact → /root/testdata/sf0.01, sampled → /tmp/sf10
(build with: sbt "runMain graft.DecadeCheck /root/testdata/sf0.1
/tmp/sf10 100 sharded disjoint").

Requires a CLEAN git tree (it edits source and `git checkout`-restores
after each defect). Exit 0 iff every defect matched its expectation.
"""
import os, re, shutil, subprocess, sys, tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a defect: patch (file, old, new), the Verify name-filter that covers
# the affected queries, and per-(rot) expectations: True = check.py
# must FAIL (caught), False = check.py must PASS (documented blindness);
# or VERIFY_ERROR: the patched tree must fail to build
VERIFY_ERROR = "VERIFY-ERROR"
EXACT = [
    dict(
        name="off_by_one_threshold",
        channel="value",
        file="src/main/scala/graft/queries/TpchQueries.scala",
        old='               col("l_quantity") < 24)',
        new='               col("l_quantity") <= 24)'
            '  // SEEDED DEFECT: off-by-one',
        filter="tpch_q6",
        expect={0: True},
    ),
    dict(
        name="dropped_having",
        channel="rows",
        file="src/main/scala/graft/stream/Fraud.scala",
        old='      .where(col("total_value") > lit(threshold))\n',
        new='      // SEEDED DEFECT: dropped HAVING\n',
        filter="fraud",
        expect={0: True},
    ),
    dict(
        name="swapped_aliases",
        channel="value",
        file="src/main/scala/graft/queries/TpchQueries.scala",
        old='      s.sql(q12Sql("orders_sq_v", "lineitem_sq_v"))\n    },',
        new='      s.sql(q12Sql("orders_sq_v", "lineitem_sq_v"))\n'
            '        .withColumnRenamed("high_line_count", "__t")\n'
            '        .withColumnRenamed("low_line_count", "high_line_count")\n'
            '        .withColumnRenamed("__t", "low_line_count")'
            '  // SEEDED DEFECT\n    },',
        filter="tpch_q12",
        expect={0: True},
    ),
    dict(
        name="double_rounding",
        channel="value",
        file="src/main/scala/graft/dedup/Dedup.scala",
        old="  def jaccard6(inter: Column, uni: Column): Column =\n"
            "    TextAnalysis.exactRound6Ratio(inter, uni)",
        new="  def jaccard6(inter: Column, uni: Column): Column =\n"
            "    round(round(TextAnalysis.exactRound6Ratio(inter, uni)"
            ", 2), 6)  // SEEDED DEFECT",
        filter="dedup_jaccard_inverted",
        expect={0: True},
    ),
    dict(
        name="alias_typo",
        channel="schema",
        file="src/main/scala/graft/queries/TpchQueries.scala",
        old='      s.sql(q4Sql("orders_sq_v", "lineitem_sq_v"))\n    },',
        new='      s.sql(q4Sql("orders_sq_v", "lineitem_sq_v"))\n'
            '        .withColumnRenamed("order_count", "order_cnt")'
            '  // SEEDED DEFECT\n    },',
        filter="tpch_q4",
        expect={0: True},
    ),
    dict(
        # Verify must fail closed: a query that throws leaves no output
        # dir, and check.py FAILs its oracle name as "no output"
        name="throwing_query",
        channel="missing",
        file="src/main/scala/graft/queries/TpchQueries.scala",
        old='      s.sql(q11Sql("lineitem_sq_v"))\n    },',
        new='      throw new IllegalStateException("SEEDED DEFECT: throws")\n'
            '    },',
        filter="tpch_q11",
        expect={0: True},
    ),
    dict(
        # a patch that does not compile must stop the leg before
        # check.py: it reports VERIFY-ERROR, never a verdict read off
        # output dirs the patched build did not write
        name="compile_error",
        channel="build",
        file="src/main/scala/graft/queries/TpchQueries.scala",
        old='      s.sql(q11Sql("lineitem_sq_v"))\n    },',
        new='      s.sql(q11Sql(lineitem_sq_v))  // SEEDED DEFECT: no such name\n'
            '    },',
        filter="tpch_q11",
        expect=VERIFY_ERROR,
    ),
]

SAMPLED = [
    dict(
        name="row_drop_outside_pred",
        channel="sampled-rows",
        file="src/main/scala/graft/queries/DedupQueries.scala",
        old='    Query("dedup_containment", (s, dir) =>\n'
            '      Dedup.containmentPairsAuto(Tables.documents(s, dir),'
            ' "doc_id",\n'
            '        "text", shingleSize = 3, threshold = 0.5),',
        new='    Query("dedup_containment", (s, dir) =>\n'
            '      Dedup.containmentPairsAuto(Tables.documents(s, dir),'
            ' "doc_id",\n'
            '        "text", shingleSize = 3, threshold = 0.5)\n'
            '        // SEEDED DEFECT: silently drop one output slice\n'
            '        .where(col("id_a") % 10 =!= 3),',
        # substring filter also runs the batch/sketch siblings — they
        # stay green and audit as extra negative controls
        filter="dedup_containment",
        expect={0: False, 3: True},
    ),
    dict(
        name="value_corrupt_outside_pred",
        channel="sampled-value",
        file="src/main/scala/graft/queries/DedupQueries.scala",
        old='    Query("dedup_containment_batch", (s, dir) =>\n'
            '      Dedup.containmentPairsAuto(Tables.documents(s, dir),'
            ' "doc_id",\n'
            '        "text", shingleSize = 3, threshold = 0.5,\n'
            '        aFilter = col("doc_id") % 2 === 1),',
        new='    Query("dedup_containment_batch", (s, dir) =>\n'
            '      Dedup.containmentPairsAuto(Tables.documents(s, dir),'
            ' "doc_id",\n'
            '        "text", shingleSize = 3, threshold = 0.5,\n'
            '        aFilter = col("doc_id") % 2 === 1)\n'
            '        // SEEDED DEFECT: corrupt containment on one slice\n'
            '        .withColumn("containment",\n'
            '          when(col("id_a") % 10 === 7,'
            ' col("containment") + 1e-6)\n'
            '            .otherwise(col("containment"))),',
        filter="dedup_containment_batch",
        expect={0: False, 3: True},
    ),
]


def sh(cmd, env=None, cwd=REPO):
    e = dict(os.environ)
    if env:
        e.update(env)
    return subprocess.run(cmd, shell=True, cwd=cwd, env=e,
                          capture_output=True, text=True)


def run_defect(d, sf_dir, preds_path):
    path = os.path.join(REPO, d["file"])
    src = open(path).read()
    if d["old"] not in src:
        return [(d["name"], None, "PATCH-STALE",
                 f"anchor text not found in {d['file']}")]
    open(path, "w").write(src.replace(d["old"], d["new"], 1))
    results = []
    out_dir = os.path.join(tempfile.gettempdir(),
                           f"killmatrix_out_{d['name']}")
    # an earlier matrix run's outputs must never reach this leg's check
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        r = sh(f'sbt -batch "runMain graft.Verify {sf_dir} {out_dir} '
               f'{d["filter"]}"')
        vlog = (r.stdout + r.stderr).splitlines()
        # sbt's own status: nonzero when the build failed, and also
        # when Verify ran and exited 1 because a query threw — only the
        # latter prints Verify's "[verify] N failed:" summary, and leaves
        # the thrown queries' dirs absent for check.py to FAIL
        threw = any(re.search(r"\[verify\] \d+ failed: ", l) for l in vlog)
        if r.returncode != 0 and not threw:
            want = d["expect"] == VERIFY_ERROR
            return [(d["name"], None,
                     VERIFY_ERROR + ("" if want else " (UNEXPECTED)"),
                     vlog[-5:])]
        if d["expect"] == VERIFY_ERROR:
            return [(d["name"], None, "BUILT (UNEXPECTED)", vlog[-5:])]
        for rot, want_fail in sorted(d["expect"].items()):
            env = {"GRAFT_PRED_ROT": str(rot)}
            c = sh(f"python3 scripts/check.py {sf_dir} {out_dir} "
                   f"{preds_path}", env=env)
            log = c.stdout + c.stderr
            # real detection = an explicit per-query "FAIL <name>" line
            # from the compare loop; a nonzero exit WITHOUT one is an
            # infrastructure error (missing parquet, duckdb error,
            # traceback) that must not satisfy an expect=True leg — the
            # defect wasn't detected, the check just broke (r18 ADVICE)
            fail_line = any(l.startswith("FAIL ") for l in log.splitlines())
            if c.returncode != 0 and not fail_line:
                results.append((d["name"], rot, "CHECK-ERROR",
                                log.splitlines()[-5:]))
                continue
            caught = fail_line
            verdict = ("CAUGHT" if caught else "BLIND")
            ok = caught == want_fail
            results.append((d["name"], rot,
                            verdict + ("" if ok else " (UNEXPECTED)"),
                            [l for l in log.splitlines()
                             if l.startswith(("PASS", "FAIL", "=="))]))
    finally:
        sh(f"git checkout -- {d['file']}")
    return results


def main():
    suite_name = sys.argv[1] if len(sys.argv) > 1 else "exact"
    suite = EXACT if suite_name == "exact" else SAMPLED
    default_sf = ("/root/testdata/sf0.01" if suite_name == "exact"
                  else "/tmp/sf10")
    args = [a for a in sys.argv[2:] if not a.startswith("--")]
    sf_dir = args[0] if args else default_sf
    only = None
    if "--defect" in sys.argv:
        only = sys.argv[sys.argv.index("--defect") + 1]
        suite = [d for d in suite if d["name"] == only]
    preds = (os.path.join(REPO, "scripts/sf10_preds.json")
             if suite_name == "sampled" else "")
    dirty = sh("git status --porcelain -- src/").stdout.strip()
    if dirty:
        print("REFUSING: src/ tree is dirty (the matrix git-restores "
              "patched files):\n" + dirty)
        return 2
    all_ok = True
    rows = []
    for d in suite:
        for (name, rot, verdict, detail) in run_defect(d, sf_dir, preds):
            rows.append((name, d["channel"], rot, verdict))
            print(f"[{name}] rot={rot} -> {verdict}")
            if isinstance(detail, list):
                for l in detail:
                    print("   ", l)
            else:
                print("   ", detail)
            if "UNEXPECTED" in verdict or verdict in (
                    "PATCH-STALE", "CHECK-ERROR"):
                all_ok = False
    print("\n| defect | channel | rot | verdict |")
    print("|---|---|---|---|")
    for name, ch, rot, v in rows:
        print(f"| {name} | {ch} | {rot if rot is not None else '-'} "
              f"| {v} |")
    print("\nmatrix " + ("OK (every defect matched expectation)"
                         if all_ok else "MISMATCH"))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
