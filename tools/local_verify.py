#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify output
against DuckDB oracles on the same parquet tables and compare
(columns sorted by name, rows sorted, exact value compare).

Scale-sweep mode (--baseline counts.json from a smaller-SF run) adds
the ROW-COUNT-RATIO guard: an entry whose baseline count is N>0 but
whose current count collapsed to 0 (or below --ratio-floor x baseline)
FAILS even if its values match the oracle — both engines running the
same recall-dead pipeline agree on an empty answer, and without this
guard that 0==0 "pass" is vacuous (the round-8 SNM lesson).
Driver-side tooling only — NOT part of the library."""
import sys, json, glob, os, argparse
import duckdb
import pandas as pd

# Entries whose row count legitimately does NOT track the corpus size
# under graft.ScaleUp amplification. Every exemption needs a reason AND
# a BOUNDED expected current/baseline ratio range (a function of the
# amplification factor) — a blanket skip would let a genuine future
# recall collapse in these entries pass unexamined.
RATIO_EXEMPT = {
    "text_heavy_hitters": (
        "ScaleUp prefixes every replica token (r{rep}_), splitting each "
        "token's count `factor` ways; no token keeps share > phi in the "
        "amplified corpus, so 0 heavy hitters IS the true answer there "
        "(phi is already corpus-relative).",
        lambda f: (0.0, 0.5)),
    "hilbert_scan": (
        "fixed literal key range (l_partkey 100-299) under ScaleUp's "
        "multiplicative key remap (key*factor+rep): the range covers "
        "1/factor as many ORIGINAL keys, each with factor replicas of "
        "part of its rows, so ~1/factor..~1 x baseline is the true "
        "answer; values still hash-verified against the oracle.",
        lambda f: (0.3 / f, 3.0)),
    "zorder_scan": (
        "same fixed literal key range + multiplicative key remap as "
        "hilbert_scan (identical predicate over the z-ordered layout); "
        "values still hash-verified against the oracle.",
        lambda f: (0.3 / f, 3.0)),
}

ap = argparse.ArgumentParser()
ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
ap.add_argument("out_dir", nargs="?", default="/tmp/graft_verify")
ap.add_argument("--baseline", help="counts.json from a lower-SF run; "
                "enables the row-count-ratio guard")
ap.add_argument("--ratio-floor", type=float, default=0.3,
                help="FAIL entries whose count falls below floor x baseline")
ap.add_argument("--factor", type=float, default=10.0,
                help="amplification factor of this run vs the baseline; "
                "bounds the RATIO_EXEMPT entries' expected ratio ranges")
args = ap.parse_args()
sf_dir, out_dir = args.sf_dir, args.out_dir

def fresh_con():
    c = duckdb.connect()
    # setup can fail partway (a vanished parquet mid-sweep): close the
    # half-built connection before re-raising — with the per-row lazy
    # reopen a persistent failure would otherwise retry fresh_con() on
    # every remaining oracle row and leak ~250 handles in one sweep
    try:
        # bound DuckDB so a heavy oracle (recursive closures, 128-hash
        # chains at 10x) spills to disk instead of OOM-killing the gate
        c.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '48GB')}'")
        c.execute("SET threads=16")
        # per-process spill dir so parallel sweep segments never collide
        c.execute(f"SET temp_directory='{os.environ.get('GRAFT_DUCKDB_TMP', '/tmp/duckdb_spill')}'")
        for t in ["region","nation","customer","supplier","part","orders",
                  "lineitem","events","documents","embeddings"]:
            # driver testdata is one file per table; graft.ScaleUp output
            # is a Spark-written DIRECTORY named <t>.parquet — glob parts
            path = f"{sf_dir}/{t}.parquet"
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    except Exception:
        try:
            c.close()
        except Exception:
            pass
        raise
    return c

# lazy: (re)opened at first use and after any close — a failed
# reconnect must poison at most its own row, never leave a CLOSED
# handle that every later oracle trips over (the r13 cascade bug)
con = None

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
baseline = json.load(open(args.baseline)) if args.baseline else None

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

fails = 0
counts = {}
for name in sorted(os.listdir(out_dir)):
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        continue
    # a Verify timeout/cancel can leave an empty or partial directory
    # (Spark creates the target dir before committing part files) —
    # that must FAIL this row, not raise out of pd.concat([]) and kill
    # the whole sweep with counts.json never written
    parts = glob.glob(f"{path}/*.parquet")
    if not parts:
        print(f"FAIL {name}: empty/partial dump (no part files)")
        fails += 1
        continue
    try:
        got = pd.concat([pd.read_parquet(p) for p in parts])
    except Exception as ex:
        print(f"FAIL {name}: unreadable dump: {str(ex).splitlines()[0][:160]}")
        fails += 1
        continue
    counts[name] = len(got)
    # ratio guard runs FIRST: a collapsed row count fails even when the
    # oracle agrees (same dead pipeline on both sides == no evidence).
    # Exempt entries check their band UNCONDITIONALLY (not only when the
    # generic floor trips): an exempt count landing ABOVE the floor but
    # outside its declared band is just as anomalous as one below it.
    if baseline is not None and name in baseline:
        base, cur = baseline[name], len(got)
        if base > 0 and name in RATIO_EXEMPT:
            reason, bounds = RATIO_EXEMPT[name]
            lo, hi = bounds(args.factor)
            if lo <= cur / base <= hi:
                print(f"  [ok-exempt] {name}: {cur} rows vs baseline {base} "
                      f"(in expected [{lo:.3g}, {hi:.3g}]x) — {reason}")
            else:
                print(f"FAIL {name}: exempt entry OUTSIDE its expected ratio "
                      f"band — {cur} rows vs baseline {base} "
                      f"(ratio {cur / base:.3g}, expected [{lo:.3g}, {hi:.3g}])")
                fails += 1
                continue
        elif base > 0 and cur < args.ratio_floor * base:
            print(f"FAIL {name}: row-count collapse — {cur} rows vs "
                  f"baseline {base} (floor {args.ratio_floor})")
            fails += 1
            continue
    if name not in oracle:
        # every SparkEntry entry declares its oracle, so a dump without
        # one comes from a stale or foreign oracle_sql.json
        print(f"FAIL {name}: no oracle in oracle_sql.json")
        fails += 1
        continue
    # one oracle blowing past the memory limit (not every DuckDB
    # operator can spill) must fail ITS row, not kill the sweep.
    # A shared connection accumulates buffer-pool memory across the
    # 251-oracle sweep (the r11 embed_dbscan OOM passed in isolation),
    # so an OOM'd oracle retries ONCE on a fresh connection before
    # being declared a failure.
    try:
        if con is None:
            con = fresh_con()
        exp = con.sql(oracle[name]).df()
    except Exception as ex:
        first = str(ex).splitlines()[0][:160]
        # only memory-shaped failures earn the fresh-connection retry —
        # a deterministically failing oracle retried unconditionally
        # would execute its heavy query twice and double real-failure
        # sweep time for zero information
        oomish = any(s in str(ex) for s in
                     ("OutOfMemory", "memory limit", "Out of Memory",
                      "could not allocate", "Allocation failure"))
        exp = None
        if oomish:
            try:
                if con is not None:
                    con.close()
            except Exception:
                pass
            con = None
            try:
                con = fresh_con()
                exp = con.sql(oracle[name]).df()
                print(f"  [retried] {name}: passed on a fresh connection "
                      f"after: {first}")
            except Exception as ex2:
                first = str(ex2).splitlines()[0][:160]
        if exp is None:
            print(f"FAIL {name}: oracle error: {first}")
            fails += 1
            # drop the (possibly poisoned) connection; the next oracle
            # lazily reopens at the top of its own try, so a failed
            # fresh_con() here fails only THIS row, never the sweep
            try:
                if con is not None:
                    con.close()
            except Exception:
                pass
            con = None
            continue
    g, e = canon(got), canon(exp)
    ok = True
    if list(g.columns) != list(e.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}"); ok = False
    elif len(g) != len(e):
        print(f"FAIL {name}: rows {len(g)} vs {len(e)}"); ok = False
    else:
        for c in g.columns:
            gv, ev = g[c].astype(str).values, e[c].astype(str).values
            bad = [(i, gv[i], ev[i]) for i in range(len(gv)) if gv[i] != ev[i]]
            if bad:
                print(f"FAIL {name}.{c}: {len(bad)} diffs, first: {bad[:3]}")
                print(f"  dtypes: got={g[c].dtype} exp={e[c].dtype}")
                ok = False
    if ok:
        print(f"  [ok] {name}: {len(g)} rows")
    else:
        fails += 1
# per-entry row counts become the NEXT decade's ratio baseline
with open(os.path.join(out_dir, "counts.json"), "w") as f:
    json.dump(counts, f, indent=1, sort_keys=True)
# an entry whose Spark dump FAILED leaves no directory — without this
# check a crashed query silently vanishes from the report (the driver's
# gate records err per queries key; mimic that)
dumped = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
attempted_path = os.path.join(out_dir, "attempted.json")
attempted = set(json.load(open(attempted_path))) if os.path.exists(attempted_path) \
    else set(oracle)
for name in sorted(attempted - dumped):
    print(f"FAIL {name}: no Spark dump (query failed at Verify time?)")
    fails += 1
print(f"{'ALL OK' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
