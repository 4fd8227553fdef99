#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--sets 2] [--seconds 8]
        [--workloads nrt_upsert,interactive] [--out steady.json]

For each workload it makes `--sets` sets of `--runs` untraced runs, each
run on its own seed, and prints every end-to-end metric's median,
quartiles and spread (interquartile range over median) per set, checked
against the metric's bound in BENCHMARK.json: the spread must stay within
the bound (setup_s excepted) and a later set's median may not be worse
than the first set's by more than the bound.  It then makes two traced
runs on one seed and lists every deterministic counter (spark.jobs,
spark.tasks, commit.fs_*, probe.*.files_read, analytics.*.jobs) that did
not repeat exactly, and the tracing overhead of each end-to-end metric
(traced median minus untraced median).  Exit code 1 if a check failed.
"""
import argparse
import fnmatch
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DETERMINISTIC = ["spark.jobs", "spark.tasks", "commit.fs_*", "probe.*.files_read",
                 "analytics.*.jobs"]


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: run failed")
    return json.loads(lines[-2]), json.loads(lines[-1])


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok, summary = True, {}
    for w in workloads:
        sets = []
        for k in range(a.sets):
            outs = [run(w, 1000 * k + i + 1, seconds, 0) for i in range(a.runs)]
            bad = [o for _, o in outs if not o["correct"] or o["failed"]]
            if bad:
                ok = False
                print(f"{w} set {k + 1}: {len(bad)} runs not correct")
            sets.append(outs)
        summary[w] = {}
        for m, bound in bounds.items():
            rows = []
            for k, outs in enumerate(sets):
                vals = [o["metrics"][m]["value"] for _, o in outs]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                rows.append({"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "values": vals})
                flag = "" if m == "setup_s" or spread <= bound else "  SPREAD OVER BOUND"
                ok &= bool(m == "setup_s" or spread <= bound)
                print(f"{w:12s} {m:16s} set {k + 1}: median {med:12.4f} q1 {q1:12.4f} "
                      f"q3 {q3:12.4f} spread {spread:6.3f} (bound {bound}){flag}")
            for k in range(1, len(rows)):
                worse = rows[k]["median"] / rows[0]["median"] - 1
                if worse > bound:
                    ok = False
                    print(f"{w:12s} {m:16s} set {k + 1} median worse by {worse:.3f} > {bound}")
            summary[w][m] = rows
        # deterministic counters and tracing overhead: two traced runs, one seed
        traced = [run(w, 1, seconds, 1) for _ in range(2)]
        names = traced[0][1]["metrics"]
        unsteady = [n for n in names
                    if any(fnmatch.fnmatch(n, p) for p in DETERMINISTIC)
                    and len({t[1]["metrics"][n]["value"] for t in traced}) > 1]
        print(f"{w:12s} counters that did not repeat: {', '.join(unsteady) or 'none'}")
        overhead = {}
        for m in bounds:
            tr = statistics.median(t[0]["e2e"][m] for t in traced)
            overhead[m] = tr - summary[w][m][0]["median"]
            print(f"{w:12s} {m:16s} tracing overhead {overhead[m]:+.4f}")
        summary[w]["not_deterministic"] = unsteady
        summary[w]["tracing_overhead"] = overhead
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
