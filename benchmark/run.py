#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one process.

    python3 benchmark/run.py --workload deliver_eo --seed 1 --seconds 6 --trace 0

Builds graft and the benchmark's JVM side (first run only), runs the
workload in one JVM at local[min(4, nproc)], checks every output, and
prints as its last line {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full result, the spans of a traced run and the JVM log
stay in benchmark/target/runs/<workload>/. Exit 0 when every output is
correct, 1 when one is wrong, 2-4 when the run could not be made.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

from benchlib import build, host, oracle, spans, stats

BENCH = build.BENCH
SPEC = os.path.join(build.REPO, "BENCHMARK.json")
DATA = os.path.join(BENCH, "data", "sf0.01")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def run_jvm(args, cp, out_dir, cpus):
    # A fixed heap and young generation keep the resident set steady from
    # run to run; G1's adaptive sizing moved peak RSS by a third.
    cmd = (["java", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms2g", "-Xmx2g", "-Xmn512m",
            f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out_dir,
              "--data", DATA, "--cpus", str(cpus)])
    os.makedirs(os.path.join(out_dir, "tmp"))
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                       timeout=JVM_TIMEOUT_S, check=False)
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def end_to_end(r):
    ops = r["ops_ms"]
    return {
        "setup_s": stats.median(r["setup_s"]),
        "op_ms_p50": stats.percentile(ops, 50),
        "op_ms_p75": stats.percentile(ops, 75),
        "rows_per_s": r["rows"] / (sum(ops) / 1000),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def per_layer(r, out_dir, telemetry):
    m = dict(r["layers"])
    untraced, traced = r["ops_ms"], r["traced_ops_ms"]
    m["ops"] = len(untraced)
    m["failed_frac"] = stats.failed_frac(r["attempted"], r["failed"])
    if traced:
        p50 = stats.percentile(untraced, 50)
        m["trace.overhead_op_ms_p50"] = stats.percentile(traced, 50) - p50
        m["trace.overhead_pct"] = 100 * m["trace.overhead_op_ms_p50"] / p50
    path = os.path.join(out_dir, "spans.jsonl")
    if os.path.exists(path):
        all_spans = spans.adopt_orphans(spans.load(path))
        m["trace.spans"] = len(all_spans)
        for layer, ms in spans.self_times_ms(all_spans).items():
            m[f"self_ms.{layer}"] = ms
    m.update({f"host.{k}": v for k, v in telemetry.items()})
    return m


def main():
    args = parse_args()
    if not os.path.isdir(os.path.join(build.REPO, "src", "main", "scala", "graft")):
        print("graft's sources are not beside the benchmark; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload}; one of {names}", file=sys.stderr)
        return 2
    try:
        cp = build.classpath(timeout_s=700)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(e, file=sys.stderr)
        return 3

    out_dir = os.path.join(BENCH, "target", "runs", args.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    cpus = min(4, host.nproc())
    load0, jiffies0 = host.loadavg(), host.cpu_jiffies()
    try:
        r = run_jvm(args, cp, out_dir, cpus)
    except (OSError, ValueError, subprocess.TimeoutExpired) as e:
        print(f"the JVM run left no result ({e}); see {out_dir}/jvm.log", file=sys.stderr)
        return 4
    telemetry = {"load_start": load0, "load_end": host.loadavg(),
                 "steal_pct": host.steal_pct(jiffies0, host.cpu_jiffies()), "nproc": host.nproc()}

    checks = list(r["checks"])
    analytics = r["extra"].get("analytics")
    if analytics:
        for q, ok, detail in oracle.compare(analytics["data"], analytics["results"], analytics["oracle_sql"]):
            checks.append({"name": f"analytics_mix: {q} equals its DuckDB oracle", "ok": ok, "detail": detail})
    correct = bool(checks) and all(c["ok"] for c in checks) and r["failed"] == 0 and bool(r["ops_ms"])
    for c in checks:
        if not c["ok"]:
            print(f"WRONG: {c['name']}: {c['detail']}", file=sys.stderr)
    for e in r["errors"]:
        print(f"FAILED: {e}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer(r, out_dir, telemetry) if args.trace else (end_to_end(r) if r["ops_ms"] else {})
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump({"checks": checks, "metrics": values}, f, indent=1, sort_keys=True)
    print(json.dumps({"host": telemetry, "ops": len(r["ops_ms"]),
                      "tail_percentile_allowed": stats.tail_percentile(len(r["ops_ms"]))}))
    print(json.dumps({"correct": correct, "attempted": max(1, r["attempted"]),
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
