#!/usr/bin/env python3
"""Benchmark of the engine's driver slots (graft.SparkEntry.queries).

One run times one workload in one JVM, local[N] with N the usable cores,
over the fixed sf0.1 corpus, and prints its metrics by name with unit; the
last line of stdout is one JSON object:

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 5 --trace 0

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Every workload, traced and untraced, with a summary and the tracing
overhead:

    python3 perfbench/run.py --all [--full]

--full times each workload's whole slot partition instead of its timed
subset (perfbench/src/main/scala/perfbench/Workloads.scala).  The corpus
is the directory in $SPARK_GRAFT_SF_DIR, by default testdata/sf0.1 under
the home directory (see TESTDATA.md).  The first run builds the engine
and the harness with sbt; later runs reuse the build until a source
changes.  perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
WORKLOADS = ["analyst", "corpus", "neardup", "ingest"]
# Oracle mismatches the engine is known to have at the sf0.1 corpus, by
# their whole verdict: q101 returns Decimal 7300592885.80 where the
# oracle's float64 reads 7300592885.8 (2 cells); the fix belongs in
# SparkEntry.  Its executions still count as failed; any other verdict,
# or an exception, makes the run incorrect.
KNOWN_MISMATCH = {
    "q101_salted_join": "VALUE col=sum_price row=2 spark='7300592885.80' oracle='7300592885.8'"
                        " (dtypes spark=object oracle=float64; 2 cells differ)",
}
RUN_TIMEOUT_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def drift_bound():
    """A run whose calibration kernel drifts more than the benchmark's wall_s
    bound between its start, middle and end ran on a host whose load changed."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == "wall_s")


def data_dir():
    d = Path(os.environ.get("SPARK_GRAFT_SF_DIR") or Path.home() / "testdata" / "sf0.1")
    missing = [t for t in ("lineitem", "documents", "events") if not (d / f"{t}.parquet").exists()]
    if missing:
        die(f"corpus not found in {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def sources():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """(classpath, jvm options) of the harness, building it if a source changed."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir() \
            or not (ROOT / "tools" / "strict_check.py").exists():
        die(f"engine sources or tools/strict_check.py not found under {ROOT}")
    h = hashlib.sha256()
    for f in sources():
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = h.hexdigest()
    launch, stamp_file = TARGET / "launch.txt", TARGET / "launch.stamp"
    if not (launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        print("perfbench: building engine and harness with sbt", file=sys.stderr)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"sbt build failed: {e}")
        if rc != 0 or not launch.exists():
            die(f"sbt build failed (exit {rc})")
        stamp_file.write_text(stamp)
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(launch, workload, seed, seconds, trace, full, deadline):
    """Runs the harness; returns (run directory, result dict)."""
    cp, opts = launch
    run_dir = TARGET / "runs" / f"{workload}-{'trace' if trace else 'e2e'}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "data": data_dir(), "out": run_dir, "cores": cores(), "full": int(full)}
    # A fixed young generation: with G1 sizing it adaptively, peak RSS
    # swung by 1 GB with whether a young GC happened to fall inside a run.
    cmd = [str(java), "-Xms4g", "-Xmx4g", "-Xmn512m", f"-Djava.io.tmpdir={run_dir / 'tmp'}", *opts,
           "-cp", cp, "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(30, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_path = run_dir / "result.json"
    if rc != 0 or not result_path.exists():
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        die(f"harness failed ({rc}); log in {log_path}")
    return run_dir, json.loads(result_path.read_text())


def by_slot(samples):
    """{slot: [latencies]} of (slot, latency) samples."""
    out = {}
    for slot, t in samples:
        out.setdefault(slot, []).append(t)
    return out


def tail(samples, n_min):
    """(value, label) of the latency tail: the value at the highest
    percentile that has at least ten samples beyond it in a run of the
    minimum number of passes (n_min samples), so the percentile stays put
    when a faster program fits more passes.  That percentile reaches p90
    only from 100 samples; with fewer, the tail is the slowest slot's
    median latency, which one stray sample cannot move."""
    v = sorted(t for _, t in samples)
    if n_min >= 100:
        k = math.ceil(len(v) * (n_min - 10) / n_min) - 1
        return v[k], f"p{100.0 * (k + 1) / len(v):.0f} of {len(v)} samples, {len(v) - 1 - k} beyond it"
    slot, med = max(((s, statistics.median(ts)) for s, ts in by_slot(samples).items()),
                    key=lambda x: x[1])
    return med, (f"median of the slowest slot, {slot}; {len(v)} samples are too few "
                 f"for a p90 with ten beyond it")


def measure(launch, workload, seed, seconds, trace, full=False, deadline=None):
    deadline = deadline or time.time() + RUN_TIMEOUT_S
    run_dir, r = run_jvm(launch, workload, seed, seconds, trace, full, deadline)
    from oracle import check  # imported late: pandas and duckdb take a second
    t0 = time.time()
    verdicts = check(str(data_dir()), str(run_dir), r["slots"])
    check_s = time.time() - t0
    verdicts.update({s: f"ERROR {m}" for s, m in r["check"].items() if m != "ok"})
    for name in ("dump", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(run_dir / name, ignore_errors=True)

    samples = r["samples"]
    bad = {s for s, v in verdicts.items() if v != "OK"}
    threw = [s for s in samples if s["error"]]
    failed = sum(1 for s in samples if s["error"] or s["slot"] in bad)
    known = {s for s in bad if verdicts[s] == KNOWN_MISMATCH.get(s)}
    unexpected = sorted(bad - known)
    correct = not threw and not unexpected
    latencies = [(s["slot"], s["build_s"] + s["plan_s"] + s["exec_s"])
                 for s in samples if not s["error"]]
    calib = r["calib_s"]
    drift = (max(calib) - min(calib)) / min(calib)
    untraced = [p["wall_s"] for p in r["passes"] if not p["traced"]]
    traced = [p["wall_s"] for p in r["passes"] if p["traced"]]

    print(f"perfbench {workload} seed={seed} trace={int(trace)} cores={r['cores']} "
          f"slots={len(r['slots'])} passes={len(r['passes'])} ({'full' if full else 'timed'} set)")
    ok = sum(1 for v in verdicts.values() if v == "OK")
    print(f"  oracle: {ok}/{len(verdicts)} OK (checked in {check_s:.1f} s)")
    for s in sorted(bad):
        print(f"    {s}: MISMATCH{' (known)' if s in known else ''} {verdicts[s]}")
    for s in threw:
        print(f"    {s['slot']} pass {s['pass']}: ERROR {s['error']}")
    bound = drift_bound()
    flag = "FLAGGED: host load changed during the run" if drift > bound else "ok"
    print(f"  host: calib_s {statistics.median(calib):.4f} drift {drift:.4f} "
          f"(bound {bound}) {flag}")
    print(f"  failed_frac {failed / max(1, len(samples)):.4f} ({failed}/{len(samples)})")
    t = r["timeline"]
    print(f"  run: set-up {t['setup']:.1f} s, check pass {t['check'] - t['setup']:.1f} s, "
          f"timed passes {t['timed'] - t['check']:.1f} s")
    for p in r["passes"]:
        print(f"    pass {p['pass']}{' traced' if p['traced'] else ''}: wall {p['wall_s']:.3f} s, "
              f"JIT compile {p['jit_s']:.2f} s, GC {p['gc_s']:.2f} s")

    if not trace:
        t_val, t_label = tail(latencies, r["min_passes"] * len(r["slots"]))
        slot_medians = [statistics.median(ts) for ts in by_slot(latencies).values()]
        metrics = {
            "setup_s": (r["setup_s"], "s"),
            "wall_s": (statistics.median(untraced), "s"),
            "query_geomean_s": (math.exp(statistics.mean(math.log(m) for m in slot_medians)), "s"),
            "query_tail_s": (t_val, "s"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        }
        # printed, not a BENCHMARK.json metric: with a handful of slots the
        # median is one slot's latency, and it jumps when two slots swap rank
        print(f"  query_p50_s {statistics.median(slot_medians):.4f} s (median slot's median)")
        print(f"  query_tail_s is the {t_label}")
    else:
        metrics = {k: (v["value"], v["unit"]) for k, v in r["layers"].items()}
        metrics["host.calib_s"] = (statistics.median(calib), "s")
        metrics["host.calib_drift"] = (drift, "ratio")
        metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced), "s")
        print(f"  spans: {run_dir / 'spans.jsonl'}")
    for k, (v, u) in metrics.items():
        print(f"  {k:26s} {v:12.4f} {u}")
    return {"correct": correct, "attempted": len(samples), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def run_all(launch, seed, seconds, full):
    """Every workload untraced and traced; a summary table at the end."""
    rows, correct = [], True
    for w in WORKLOADS:
        e2e = measure(launch, w, seed, seconds, False, full, deadline=time.time() + 1800)
        lay = measure(launch, w, seed, seconds, True, full, deadline=time.time() + 1800)
        correct &= e2e["correct"] and lay["correct"]
        rows.append((w, e2e, lay))
    print("\nworkload  setup_s[s] wall_s[s] query_geomean_s[s] query_tail_s[s] peak_rss_mb[MB]"
          " failed_frac build_share trace.overhead_s[s]")
    for w, e2e, lay in rows:
        m, l = e2e["metrics"], lay["metrics"]
        # construction's share of slot time, within the traced passes
        build_share = l["build.s"]["value"] / sum(l[k]["value"] for k in ("build.s", "plans.s", "exec.s"))
        print(f"{w:9s} {m['setup_s']['value']:10.3f} {m['wall_s']['value']:9.3f} "
              f"{m['query_geomean_s']['value']:18.4f} {m['query_tail_s']['value']:15.4f} "
              f"{m['peak_rss_mb']['value']:15.1f} {e2e['failed'] / e2e['attempted']:11.4f} "
              f"{build_share:12.3f} {l['trace.overhead_s']['value']:19.4f}")
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="every workload, traced and untraced")
    ap.add_argument("--full", action="store_true", help="time the whole slot partition")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    data_dir()
    launch = build()
    if a.all:
        sys.exit(0 if run_all(launch, a.seed, a.seconds, a.full) else 1)
    out = measure(launch, a.workload, a.seed, a.seconds, bool(a.trace), a.full)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
