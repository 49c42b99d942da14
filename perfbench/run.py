#!/usr/bin/env python3
"""Benchmark of graft's inverted-index engine.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload ii_lookup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload ii_lookup --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selfcheck

The first run builds graft and the benchmark (perfbench.Main) from source with
sbt (offline) and later runs reuse the build while the sources are
unchanged. Each run starts one JVM that sets up the workload's seeded
inputs, warms up, and runs a closed loop of ops on one client thread
for --seconds of op time. --trace 0 prints the end-to-end metrics,
--trace 1 the per-layer metrics (the traced pass follows an untraced
one so the tracing overhead is measured). The last line of stdout is
the JSON result; the full artifact and the spans go to perfbench/out/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch.txt"
STAMP = TARGET / "launch.stamp"
OUT = BENCH / "out"
WORK = BENCH / "work"
WORKLOADS = ("ii_lookup", "dedup_cc")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# C1 only. C2 needs minutes of a run to settle on Spark's planner code,
# so timed passes after a short warm-up drift by a quarter and runs
# disagree by as much. C1 alone gets a 48 MB code cache, which Spark's
# code overflows: the JVM then keeps flushing and recompiling, and ops
# slow by half in bursts, so the cache is sized as with tiered
# compilation. A dedup_cc op runs most driver code only a few times, so
# at the default thresholds ops kept getting faster by a fifth through
# the timed pass; compiling after a tenth of the calls ends that within
# the warm-up. Both sides of a comparison run with the same flags.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", "-XX:CompileThresholdScaling=0.1"]
# no hsperfdata file: the run writes nothing outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: graft's build and sources, the benchmark's."""
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(src_hash):
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == src_hash:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", NO_PERF_DATA]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building graft and the benchmark (sbt)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not LAUNCH.exists():
        sys.exit(f"[perfbench] build failed (sbt exit {r.returncode})")
    STAMP.write_text(src_hash)
    log(f"[perfbench] build took {time.time() - t0:.1f} s")


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, work):
    """Runs the benchmark JVM with `args`; returns its artifact."""
    lines = LAUNCH.read_text().splitlines()
    classpath, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xm")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out = work / "artifact.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + JIT + [NO_PERF_DATA] + opts +
           ["-cp", classpath, "perfbench.Main", "--work", str(work), "--out", str(out)] + args)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS")}
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"[perfbench] benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed")
    except BaseException:
        # interrupted or terminated: take the JVM down too
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if rc != 0 or not out.exists():
        sys.exit(f"[perfbench] benchmark JVM failed (exit {rc})")
    return json.loads(out.read_text())


def selfcheck(work):
    """Fingerprints seed 1 in two processes and seed 2 in a third, and
    reports the oracle's verdicts from the first."""
    runs = [run_jvm(["--selfcheck", "1", "--seed", str(seed)], work / f"run{k}")
            for k, seed in enumerate((1, 1, 2))]
    checks = list(runs[0]["checks"])
    a, b, c = (r["fingerprints"] for r in runs)
    for name in a:
        same = {k: v for k, v in a[name].items() if k != "files_sha256"}
        checks.append({"check": f"{name}: same seed, identical input rows, counts, pairs and rounds",
                       "ok": same == {k: v for k, v in b[name].items() if k != "files_sha256"},
                       "detail": f"{a[name]} vs {b[name]}"})
        checks.append({"check": f"{name}: other seed, other input rows",
                       "ok": a[name]["rows_sha256"] != c[name]["rows_sha256"], "detail": str(c[name])})
        # reported, not required: see README "Self-checks"
        print(f"info {name}: same seed, byte-identical data files: "
              f"{a[name]['files_sha256'] == b[name]['files_sha256']}")
    for ch in checks:
        print(f"{'ok  ' if ch['ok'] else 'FAIL'} {ch['check']}" + ("" if ch["ok"] else f"  ({ch['detail']})"))
    (OUT / "selfcheck.json").write_text(json.dumps({"runs": runs, "checks": checks}, indent=1))
    return 0 if all(ch["ok"] for ch in checks) else 1


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    # SIGTERM raises SystemExit, so run_jvm stops the JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft inverted-index benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and a.workload is None:
        ap.error("--workload is required")

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("[perfbench] graft's sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    if not spec_file.is_file():
        sys.exit("[perfbench] BENCHMARK.json is missing")
    spec = json.loads(spec_file.read_text())

    src_hash = source_hash()
    build(src_hash)
    OUT.mkdir(exist_ok=True)
    tag = "selfcheck" if a.selfcheck else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    load_before = loadavg()
    ticks_before = cpu_ticks()
    try:
        if a.selfcheck:
            sys.exit(selfcheck(work))
        spans = OUT / f"{a.workload}-seed{a.seed}.spans.jsonl"
        art = run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--spans", str(spans)], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ticks_after = cpu_ticks()
    steal = None
    if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
        steal = (ticks_after[0] - ticks_before[0]) / (ticks_after[1] - ticks_before[1])
    art["stamp"].update({
        "nproc": os.cpu_count(), "loadavg_before": load_before, "loadavg_after": loadavg(),
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": steal,
        "git_commit": git_commit(), "source_sha256": src_hash, "seed": a.seed, "workload": a.workload})
    (OUT / f"{tag}.json").write_text(json.dumps(art, indent=1))

    e2e = art["end_to_end"]
    st = art["stamp"]
    print(f"{a.workload} seed={a.seed} trace={a.trace} cores={st['cores']} nproc={st['nproc']} "
          f"load={st['loadavg_before']}->{st['loadavg_after']} steal={fmt(st['cpu_steal_share'])} "
          f"inputs={st['inputs']}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units["error_rate"] = "ratio"
    for name, unit in units.items():
        note = ""
        if name == "latency_tail_s":
            note = f"  (p{e2e['tail_percentile']:g} of {e2e['ops']} ops, {e2e['tail_beyond']} beyond it)"
        elif name == "error_rate":
            note = f"  ({art['failed']} failures in {art['attempted']} ops, warm-up and all passes)"
        print(f"  {name:<24} {fmt(e2e[name]):>14} {unit}{note}")
    p0 = art["passes"][0]
    print(f"  timed pass: session.jit_s={fmt(p0['session.jit_s'])} session.gc_s={fmt(p0['session.gc_s'])} "
          f"steal share of op time={fmt(e2e['steal_share'])} stolen from its busy time={fmt(e2e['stolen_share'])} "
          f"latency_p50 as the clock read it={fmt(e2e['latency_p50_wall_s'])} s")
    for err in art["prepare_errors"] + art["warmup_errors"] + [e for p in art["passes"] for e in p["errors"]]:
        print(f"  error: {err}")

    if a.trace:
        layer = art["per_layer"]
        for m in spec["per_layer"]:
            print(f"  {m['name']:<44} {fmt(layer[m['name']]):>14} {m['unit']}")
        ov = art["trace_overhead"]
        print(f"  tracing overhead: latency_p50_s {ov['latency_p50_s']:+.1%}, ops_per_s {ov['ops_per_s']:+.1%}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    correct = art["failed"] == 0 and art["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": art["attempted"], "failed": art["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
