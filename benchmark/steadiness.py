#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of one commit agree?

    python3 benchmark/steadiness.py [--runs 10] [--workloads deliver_eo,analytics_mix]

For each workload, runs two sets of `--runs` untraced runs, each run on
another seed (set one on seeds 1..N, set two on 101..100+N), then one
traced run on seed 1000. Prints, per workload and end-to-end metric, each
set's median and quartiles, the spread (quartile distance over median)
and whether the sets agree within the bounds of BENCHMARK.json:

  spread  each set's spread is within the bound (setup_s is exempt)
  third   each set's spread is below a third of the bound
  drift   the second set's median is no worse than the first's by more
          than the bound

A wrong output in any run fails the workload. The summary is also
written to benchmark/target/steadiness.json. Exit 0 when every check
except `third` passes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          cwd=REPO, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if result and len(lines) > 1:
        result["host"] = json.loads(lines[-2]).get("host")
    ok = proc.returncode == 0 and result is not None and result["correct"]
    if not ok:
        sys.stderr.write(proc.stderr[-2000:])
    return ok, result, time.time() - t0


def worse_by(first, second, better):
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    summary, all_ok = {}, True
    for w in args.workloads.split(","):
        sets, walls, correct = [], [], True
        for base in (1, 101):
            runs = []
            for seed in range(base, base + args.runs):
                ok, result, wall = one_run(w, seed, seconds, 0)
                correct &= ok
                walls.append(wall)
                if result:
                    runs.append(dict({k: v["value"] for k, v in result["metrics"].items()},
                                     seed=seed, host=result.get("host")))
            sets.append(runs)
        traced_ok, _, traced_wall = one_run(w, 1000, seconds, 1)
        correct &= traced_ok
        rows = {}
        print(f"\n{w}: {2 * args.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s; traced run on seed 1000 {'ok' if traced_ok else 'WRONG'} "
              f"({traced_wall:.1f} s)")
        print(f"  {'metric':<14}{'set':>4}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}  checks")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = []
            for i, runs in enumerate(sets):
                values = [r[name] for r in runs]
                q1, _, q3 = statistics.quantiles(values, n=4)
                med = statistics.median(values)
                stats.append({"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med})
            drift = worse_by(stats[0]["median"], stats[1]["median"], m["better"])
            checks = {
                "spread": name == "setup_s" or all(s["spread"] <= bound for s in stats),
                "third": name == "setup_s" or all(s["spread"] < bound / 3 for s in stats),
                "drift": drift <= bound,
            }
            all_ok &= correct and checks["spread"] and checks["drift"]
            for i, s in enumerate(stats):
                flags = " ".join(k for k, v in checks.items() if not v) if i == 1 else ""
                print(f"  {name if i == 0 else '':<14}{i + 1:>4}{s['median']:>14.4g}{s['q1']:>14.4g}"
                      f"{s['q3']:>14.4g}{s['spread']:>9.3f}{bound:>7.2f}  "
                      f"{(f'drift {drift:+.3f} ' + ('FAIL: ' + flags if flags else 'ok')) if i == 1 else ''}")
            rows[name] = {"sets": stats, "drift": drift, "bound": bound, "checks": checks}
        summary[w] = {"correct": correct, "metrics": rows, "walls": walls, "runs": sets}
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    with open(os.path.join(BENCH, "target", "steadiness.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
