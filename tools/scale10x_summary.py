#!/usr/bin/env python3
"""Assemble SCALE10X.json from the decade-up sweep's pieces:
verify outcomes (one or more tools/local_verify.py logs — the sweep
may run in segments), per-query seconds at 10x (SCALE10X_BENCH.json)
and at 1x (BENCH_full.json), with the wall-time ratio per query.
Driver-side tooling only.

Usage: scale10x_summary.py [--bench1 F] [--bench10 F] [--out F]
                           [verify_log ...]

With --bench1/--bench10 it reads that pair of graft.Bench artifacts
(for example two SPARK_GRAFT_ONLY runs, one per scale) and writes the
per-entry ratios to --out; the full sweep's optional sections
(byte-neutral text, SNM) are read only without those two flags.
With no verify log named and none at the default path, every entry's
verify reads "not-compared".
"""
import argparse, glob, json, os, re

ap = argparse.ArgumentParser()
ap.add_argument("--bench1")
ap.add_argument("--bench10")
ap.add_argument("--out", default="SCALE10X.json")
ap.add_argument("logs", nargs="*")
args = ap.parse_args()
sweep = args.bench1 is None and args.bench10 is None
bench1_path = args.bench1 or "BENCH_full.json"
logs = args.logs or [lg for lg in ["/tmp/scale10x_verify.log"] if os.path.exists(lg)]
bench10 = json.load(open(args.bench10 or "SCALE10X_BENCH.json"))
try:
    bench1_art = json.load(open(bench1_path))
    bench1 = bench1_art["queries"]
except FileNotFoundError:
    bench1_art, bench1 = {}, {}

# later logs win: a rerun after a fix supersedes the original row
status = {}
exempt_set = set()  # sticky: the value-verify [ok] that follows an
                    # [ok-exempt] line must not erase the exemption
for lg in logs:
    for line in open(lg):
        m = re.match(r"  \[ok\] (\S+):", line)
        if m:
            status[m.group(1)] = "ok"
            continue
        m = re.match(r"  \[rows-only\] (\S+):", line)
        if m:
            status[m.group(1)] = "rows-only"
            continue
        m = re.match(r"  \[ok-exempt\] (\S+):", line)
        if m:
            status[m.group(1)] = "ok-exempt"
            exempt_set.add(m.group(1))
            continue
        m = re.match(r"FAIL (\S+?)[.:]", line)
        if m:
            status[m.group(1)] = "FAIL"
ok = sum(1 for v in status.values() if v in ("ok", "ok-exempt"))
exempt = sorted(exempt_set)
fails = sorted(k for k, v in status.items() if v == "FAIL")

queries = {}
for name, sec10 in bench10["queries"].items():
    q = {"sec_10x": sec10, "verify": status.get(name, "not-compared")}
    if name in bench1 and bench1[name] > 0 and sec10 > 0:
        q["sec_1x"] = bench1[name]
        q["ratio"] = round(sec10 / bench1[name], 2)
    queries[name] = q

ratios = sorted((v["ratio"], k) for k, v in queries.items() if "ratio" in v)
summary = {
    "factor": 10,
    "base": f"{bench1_path} ({bench1_art.get('sf')})" if bench1 else None,
    "cpus_10x": bench10.get("cpus"),
    "cpus_1x": bench1_art.get("cpus"),
    "verify": {"ok": ok, "ratio_exempt": exempt, "failed": fails,
               "compared": len(status), "total": len(queries)},
    "bench_total_sec_10x": bench10["value"],
    "bench_failed_10x": bench10.get("failed", []),
    "worst_ratios": [{"query": k, "ratio": r} for r, k in ratios[-10:]][::-1],
    "median_ratio": ratios[len(ratios) // 2][0] if ratios else None,
    "queries": queries,
}

# byte-neutral text sweep (optional): 10x rows at ~1x bytes/row, so the
# ratio measures ROW scaling without the prefix mode's ~2.3x byte
# inflation. Both scales are benched under the SAME condition — one
# isolated SPARK_GRAFT_ONLY JVM, reps=1 (SCALE10X_TEXT_1X.json) — so the
# ratio is apples-to-apples; the full-sweep reps=3 number is kept
# alongside as sec_1x_fullsweep for context only.
if sweep and os.path.exists("SCALE10X_TEXT.json"):
    bn = json.load(open("SCALE10X_TEXT.json"))
    bn1 = (json.load(open("SCALE10X_TEXT_1X.json"))["queries"]
           if os.path.exists("SCALE10X_TEXT_1X.json") else {})
    text = {}
    for name, sec10 in bn["queries"].items():
        q = {"sec_10x_byteneutral": sec10}
        if name in bn1 and bn1[name] > 0 and sec10 > 0:
            q["sec_1x_isolated"] = bn1[name]
            q["ratio"] = round(sec10 / bn1[name], 2)
        elif name in bench1 and bench1[name] > 0 and sec10 > 0:
            # no isolated 1x number — name the asymmetry explicitly
            q["ratio_vs_fullsweep_1x"] = round(sec10 / bench1[name], 2)
        if name in bench1:
            q["sec_1x_fullsweep"] = bench1[name]
        text[name] = q
    summary["text_byteneutral"] = text

# SNM-family isolated bench (optional): one fresh JVM per entry per
# scale, so the memoized shared candidate stage is charged to EVERY
# entry — these ratios are the honest ones; the full-sweep worst-ratio
# table charges the shared stage to the first payer only
snm = {}
for p in glob.glob("/tmp/graft_snm_1x_*.json") if sweep else []:
    name = os.path.basename(p)[len("graft_snm_1x_"):-len(".json")]
    sec1 = json.load(open(p))["queries"].get(name)
    p10 = f"/tmp/graft_snm_10x_{name}.json"
    sec10 = json.load(open(p10))["queries"].get(name) if os.path.exists(p10) else None
    row = {"sec_1x_isolated": sec1, "sec_10x_isolated": sec10}
    if sec1 and sec10 and sec1 > 0 and sec10 > 0:
        row["ratio"] = round(sec10 / sec1, 2)
    # byteneutral 10x (optional): isolates ROW scaling from the prefix
    # mode's byte inflation, same de-confounding as the text table
    pbn = f"/tmp/graft_snm_10xbn_{name}.json"
    if os.path.exists(pbn):
        secbn = json.load(open(pbn))["queries"].get(name)
        row["sec_10x_byteneutral_isolated"] = secbn
        if sec1 and secbn and sec1 > 0 and secbn > 0:
            row["ratio_byteneutral"] = round(secbn / sec1, 2)
    snm[name] = row
if snm:
    summary["snm_isolated"] = snm
    # the super-linearity mechanism, so the artifact is self-explaining
    # — a SIBLING key, not an entry inside snm_isolated, whose values
    # must stay homogeneous dicts for consumers tabulating ratios:
    # a fixed-range blocking key means per-key density (and the auto
    # window) grows with the corpus until the 256 cap — super-linear
    # exactly once, at the decade the cap engages; linear past it
    summary["snm_isolated_note"] = (
        "SNM auto window = clamp(10,256,ceil(3n/dk)); on a "
        "fixed-range blocking key, per-key density (and the "
        "window) grows with the corpus until the 256 cap — "
        "super-linear wall exactly at the decade the cap "
        "engages, linear (255*n candidates) past it; see "
        "DEPLOY.md sorted-neighborhood section for measured "
        "window/candidate counts")

# SNM recall vs exact ground truth (optional): graft.SnmRecall emits
# one JSON file per scale — single- and multi-pass SNM pair recall
# against the PPJoin exact-threshold pair set at the same Jaccard
# threshold over the same corpus. The family's wall cost is paid for
# recall; this is where recall becomes a NUMBER instead of a claim.
recall = {}
for scale, path in [("1x", "/tmp/graft_snm_recall_1x.json"),
                    ("10x", "/tmp/graft_snm_recall_10x.json")]:
    if sweep and os.path.exists(path):
        recall[scale] = json.load(open(path))
if recall:
    summary["snm_recall"] = recall
json.dump(summary, open(args.out, "w"), indent=1)
print(f"verify ok={ok}/{len(status)} fails={fails}")
print(f"bench 10x total={bench10['value']:.1f}s, median ratio="
      f"{summary['median_ratio']}, worst={summary['worst_ratios'][:3]}")
if not sweep:
    for k, v in sorted(queries.items()):
        print(f"{k}: 1x {v.get('sec_1x')} s, 10x {v['sec_10x']} s, "
              f"ratio {v.get('ratio')}")
