#!/usr/bin/env python3
"""Dev-loop correctness checker: mimics the driver's DuckDB-oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [samplePreds.json]

For each <name>/ parquet dir in verifyOutDir, runs oracle_sql.json[name]
in DuckDB over the sfDir tables and compares (column-name-sorted,
row-sorted) values. Prints PASS/FAIL per query; a name in
oracle_sql.json with no output dir prints "FAIL <name>: no output".
The total counts the union of the output dirs and the oracle names.

samplePreds.json ({query_name: "sql predicate on OUTPUT columns"}):
for the named queries, BOTH sides are filtered by the predicate —
Spark's full output read back WHERE pred, the oracle wrapped as
SELECT * FROM (oracle) WHERE pred (DuckDB pushes the filter into the
oracle's joins, cutting pair-producing oracle cost by the sampling
factor). The compare stays exact on the deterministic subset; the
full-output row count is still printed. This is the sf10-sweep
mechanism for oracles that are linear in output size (VERDICT r13 #1).

Pred ROTATION (VERDICT r17 #1 — the sampled-channel blind spot): a
fixed pred can never see a defect whose wrong rows sit outside its
slice. Preds may therefore carry the placeholders {rot} / {rotodd};
check.py substitutes rot = $GRAFT_PRED_ROT % 10 (default 0) and
rotodd = (2*rot+1) % 10 (always odd — for outputs whose id_a is
odd-only, e.g. dedup_containment_batch's aFilter). Run each round
with GRAFT_PRED_ROT=<round#> so every slice is eventually audited;
a persistent wrong slice is caught within ≤10 rounds.

VACUOUS-compare guard: a sampled compare whose pred matches 0 of a
non-empty output proves nothing (the r16 tpch_q9 trap) — it now
FAILs instead of silently passing.
"""
import sys, os, json, time
import duckdb

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir, preds_path=None):
    preds = json.load(open(preds_path)) if preds_path else {}
    rot = int(os.environ.get("GRAFT_PRED_ROT", "0")) % 10
    preds = {k: v.replace("{rotodd}", str((2 * rot + 1) % 10))
                 .replace("{rot}", str(rot))
             for k, v in preds.items()}
    if preds and rot:
        print(f"[pred-rotation] GRAFT_PRED_ROT={rot}")
    con = duckdb.connect()
    # out-of-core joins for decade-scale oracles: an in-memory DuckDB
    # has no temp spill by default, so the sf10 tpch/tfidf oracles died
    # on OOM mid-census (r15). A temp dir + an explicit memory ceiling
    # makes them spill instead; harmless at sf0.01 (the driver's gate)
    con.sql("SET temp_directory='/tmp/duckdb_check_tmp'")
    # ceiling: env override, else ~70% of physical RAM (a fixed 48GB on
    # a smaller box lets the OS OOM-killer fire before DuckDB spills —
    # the opposite of the intent). 48GB was the sf10 census value.
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if not mem:
        try:
            pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
            mem = f"{max(1, int(pages * 0.7 / (1 << 30)))}GB"
        except (ValueError, OSError):
            mem = "48GB"
    con.sql(f"SET memory_limit='{mem}'")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # sharded fixture (DecadeCheck --sharded): Spark-layout dir
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    dirs = {d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}")}
    # fail closed: every oracle name without an output dir is a FAIL
    # (its query threw or never ran), never a silently shorter total
    names = sorted(dirs | set(oracles))
    n_pass = n_fail = 0
    for name in names:
        if name not in dirs:
            print(f"FAIL {name}: no output")
            n_fail += 1
            continue
        pred = preds.get(name)
        src = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
        n_full = None
        if pred:
            n_full = con.sql(f"SELECT count(*) FROM ({src})").fetchone()[0]
            src = f"{src} WHERE {pred}"
        got = canon(con.sql(src).df())
        # every print path must carry the sampling annotation — a
        # sampled FAIL/rows-only count misreads as a full-output count
        samp = (f", sampled {len(got)}/{n_full} rows by [{pred}]"
                if pred else "")
        # vacuous-compare guard: 0 sampled rows of a non-empty output
        # compares nothing — fail loudly so the pred gets fixed
        # (r16's tpch_q9 pred matched 0 rows for two rounds unnoticed).
        # SCOPED to oracle-compared outputs (r18 ADVICE): a rows-only
        # output has no compare to be vacuous ABOUT, and a rotation can
        # legitimately land on a residue class its ids never cover —
        # that would flap the census FAIL count round to round, so it
        # warns instead.
        if name not in oracles:
            if pred and n_full > 0 and len(got) == 0:
                print(f"[rows-only] {name}: WARN empty sampled slice "
                      f"(0 of {n_full} rows match [{pred}]) — no compare "
                      f"runs for rows-only outputs, so this is a "
                      f"coverage note, not a defect")
            else:
                print(f"[rows-only] {name}: {len(got)} rows{samp}")
            continue
        if pred and n_full > 0 and len(got) == 0:
            print(f"FAIL {name}: vacuous sampled compare (0 of {n_full} "
                  f"rows match [{pred}]) — pick a pred that samples the "
                  f"output")
            n_fail += 1
            continue
        # time ONLY the DuckDB oracle execution+fetch (the next-decade
        # feasibility signal), not the pandas canon/compare — at 14M-row
        # outputs the pandas sort dominates and overstated oracle cost
        osql = oracles[name]
        if pred:
            osql = f"SELECT * FROM ({osql}) WHERE {pred}"
        t0 = time.monotonic()
        try:
            want_raw = con.sql(osql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        oracle_s = time.monotonic() - t0
        want = canon(want_raw)
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        if ok:
            import pandas as pd, numpy as np
            try:
                # driver-faithful: dtype-strict (HUGEINT-vs-BIGINT leaks
                # as object-vs-int64 here) ...
                pd.testing.assert_frame_equal(got, want, check_dtype=True,
                                              check_exact=True)
                # ... and signed-zero/bit-pattern-strict on float columns
                # (assert_frame_equal treats -0.0 == 0.0; the driver's
                # value hash does not)
                for c in got.columns:
                    if got[c].dtype.kind == "f":
                        g = np.asarray(got[c], dtype="f8")
                        w = np.asarray(want[c], dtype="f8")
                        # both-NaN positions are equal regardless of
                        # payload bits (assert_frame_equal already
                        # vouched for NaN placement); everything else
                        # compares bit-exact (catches -0.0 vs 0.0)
                        neq = (g.view("i8") != w.view("i8")) & \
                            ~(np.isnan(g) & np.isnan(w))
                        if neq.any():
                            bad = np.where(neq)[0][:5]
                            raise AssertionError(
                                f"float col {c} bit mismatch at rows "
                                f"{bad.tolist()}: "
                                f"got {[got[c].iloc[i] for i in bad]} "
                                f"want {[want[c].iloc[i] for i in bad]}")
            # broad catch: one odd column (e.g. pd.NA in an object
            # column upsetting np.asarray) must fail ONE query, not
            # abort the whole run
            except Exception as e:
                ok = False
                print(f"FAIL {name}: value mismatch (oracle {oracle_s:.2f}s"
                      f"{samp}): {str(e)[:400]}")
        else:
            print(f"FAIL {name}: shape/cols (oracle {oracle_s:.2f}s{samp}): "
                  f"got {got.shape} {list(got.columns)} "
                  f"want {want.shape} {list(want.columns)}")
        if ok:
            print(f"PASS {name} ({len(got)} rows, oracle {oracle_s:.2f}s{samp})")
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(names)} total")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
