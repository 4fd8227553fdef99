#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload {nrt_upsert,interactive}
        --seed N --seconds S --trace {0,1}

Builds graft and the harness from source with sbt (perfbench/build.sbt,
once per source change), generates the benchmark tables, runs the
workload in one JVM, checks its outputs (the DuckDB oracle through
scripts/check.py, scan-and-filter references and the NRT store
recomputation) and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}.  `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics.
The line before it is a report with every metric the workload measured,
named as in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SCALE = 0.01
HEAP = "3g"
# Spark runs local[CORES] with CORES shuffle partitions: half of a 4-core
# host, so the harness does not contend with itself or its neighbours for
# every core (on such a host a trigger also runs faster at 2 than at 4).
CORES = 2
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 800.0

WORKLOADS = ("nrt_upsert", "interactive")

END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("pass_s", "s"),
]

ANALYTICS = ["q27", "q61"]
PROBES = ["q99", "keyed_read", "versioned_read"]
PER_LAYER = (
    [("engine.session_ms", "ms")]
    + [(f"engine.store_build_ms.{s}", "ms") for s in ("keyed", "versioned")]
    + [("engine.warmup_ms", "ms"),
       ("spark.analysis_ms", "ms"), ("spark.optimizer_ms", "ms"), ("spark.planning_ms", "ms"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.failed_tasks", "count"), ("spark.driver_gap_ms", "ms"),
       ("spark.task_ms", "ms"), ("spark.gc_ms", "ms"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes")]
    + [(f"analytics.{q}.{m}", u) for q in ANALYTICS
       for m, u in (("wall_ms", "ms"), ("task_ms", "ms"), ("jobs", "count"))]
    + [(f"probe.{p}.{m}", u) for p in PROBES
       for m, u in (("files_read", "count"), ("bytes_read", "bytes"),
                    ("rows_read_per_row_returned", "ratio"), ("jobs", "count"))]
    + [("commit.jobs", "count"), ("commit.fs_create_no_overwrite", "count"),
       ("commit.fs_create_marker", "count"), ("commit.fs_rename", "count"),
       ("commit.files_rewritten", "count"), ("commit.bytes_written_per_input_byte", "ratio"),
       ("commit.abandoned_slots", "count")]
    + [("streaming.trigger_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
       ("streaming.query_planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
       ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
       ("streaming.state_commit_ms", "ms"), ("streaming.state_rows_total", "count"),
       ("streaming.state_memory_bytes", "bytes"),
       ("streaming.fold_updates_per_input_key", "ratio"),
       ("streaming.input_rows_per_trigger", "count"), ("streaming.backlog_files", "count"),
       ("streaming.generator_lag_ms", "ms")]
)

# Points of a run's timeline, reported in seconds from the first timed op.
TIMELINE = ("window_end_ms", "committed_ms", "stream_stopped_ms", "workload_end_ms",
            "result_written_ms", "jvm_exit_ms", "checked_ms")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith((".scala", ".java", ".sbt", ".properties")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness; return the runtime classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(graft_src):
        die("graft sources (src/main/scala/graft) not found: run from the root of a checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"`{tool}` is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    stamp, cpfile = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                        os.path.join(HERE, "build.sbt"),
                        os.path.join(HERE, "project", "build.properties")])
    if os.path.exists(stamp) and os.path.exists(cpfile) and open(stamp).read() == digest:
        return open(cpfile).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=fh,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S,
                           stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "scala-library" in l and os.pathsep in l]
    if r.returncode != 0 or not cp:
        die(f"build failed (see {os.path.relpath(log, ROOT)}):\n" + "\n".join(lines[-20:]), 1)
    with open(cpfile, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp[-1].strip()


def tables():
    """The benchmark tables, generated once per generator version."""
    gen = os.path.join(HERE, "datagen.py")
    tag = hashlib.sha256(open(gen, "rb").read() + str(SCALE).encode()).hexdigest()[:12]
    out = os.path.join(WORK, f"tables-{tag}")
    if not os.path.exists(os.path.join(out, ".done")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, "--scale", str(SCALE)], check=True)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def run_harness(cp, a, data, rundir, limit_s):
    """Run the harness JVM; return (result dict or None, peak RSS MB, spawn epoch ms)."""
    out = os.path.join(rundir, "result.json")
    scratch = os.path.join(rundir, "scratch")
    os.makedirs(scratch)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed, pre-touched heap keeps peak RSS from tracking when GC grows it
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--work", rundir, "--out", out,
              "--cores", str(CORES)])
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=scratch)
    env.pop("SPARK_GRAFT_ROCKSDB", None)
    log = open(os.path.join(rundir, "harness.log"), "w")
    spawn_ms = time.time() * 1000
    p = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def interrupted(signum, _):
        kill()
        os.waitpid(p.pid, 0)
        sys.exit(128 + signum)

    timer = threading.Timer(limit_s, kill)
    timer.start()
    handlers = {s: signal.signal(s, interrupted) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
        for s, h in handlers.items():
            signal.signal(s, h)
        kill()
        log.close()
    p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(rundir, "harness.log")).read().splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        return None, 0.0, spawn_ms
    return json.load(open(out)), usage.ru_maxrss / 1024.0, spawn_ms


def oracle_failures(data, rundir, res):
    """Compare dumped query outputs with DuckDB via scripts/check.py.

    An output whose digest already passed the oracle in this checkout is
    not compared again: the tables are fixed, so the same digest is the
    same verdict."""
    dump = os.path.join(rundir, "oracle")
    sql_file = os.path.join(dump, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return 0, []
    cache_file = os.path.join(WORK, "oracle_passed.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    digests = res["extra"].get("digests", {})
    sql = json.load(open(sql_file))
    todo = {n: q for n, q in sql.items() if digests.get(n) not in cache.get(n, [])}
    if not todo:
        return 0, []
    with open(sql_file, "w") as fh:
        json.dump(todo, fh)
    check = os.path.join(ROOT, "scripts", "check.py")
    r = subprocess.run([sys.executable, check, data, dump], capture_output=True, text=True,
                       timeout=120)
    passed = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")}
    failed, notes = 0, []
    for name in sorted(todo):
        if name in passed:
            cache.setdefault(name, []).append(digests.get(name))
        else:
            failed += max(1, res["oracle_ops"].get(name, 0))
            notes.append(f"{name}: DuckDB oracle mismatch")
    notes += [l for l in r.stdout.splitlines() if l.startswith("FAIL ")]
    tmp = cache_file + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_file)
    return failed, notes


def pct(xs, q):
    """Linear-interpolated percentile."""
    if not xs:
        return None
    v = sorted(xs)
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def reduce(a, res, rss_mb, spawn_ms):
    s = res["samples"]
    ex = res["extra"]
    report = {
        "setup_s": (res["first_op_epoch_ms"] - spawn_ms) / 1000,
        "peak_rss_mb": rss_mb,
        "ops_failed_ratio": res["failed"] / max(1, res["attempted"]),
    }
    if a.workload == "nrt_upsert":
        lat = s.get("nrt", [])
        report.update({
            "nrt_latency_p50_s": pct(lat, 0.5) / 1000 if lat else None,
            "nrt_latency_p90_s": pct(lat, 0.9) / 1000 if lat else None,
            "nrt_catchup_events_per_s": (ex["catchup_events"] / ex["catchup_s"]
                                         if ex.get("catchup_s") else None),
            "nrt_samples": len(lat), "nrt_steady_triggers": len(ex.get("steady_trigger_ms", []))})
        e2e = {"latency_p50_ms": pct(lat, 0.5), "latency_p90_ms": pct(lat, 0.9),
               "pass_s": ex.get("catchup_s")}
    else:
        bi, pr, an = s.get("bi", []), s.get("probe", []), s.get("analytics", [])
        per_pass = len(an) // max(1, len(res["passes"]))
        report.update({
            "bi_latency_p50_ms": pct(bi, 0.5), "bi_latency_p90_ms": pct(bi, 0.9),
            "probe_latency_p50_ms": pct(pr, 0.5), "probe_latency_p90_ms": pct(pr, 0.9),
            "analytics_pass_s": statistics.median(
                sum(an[i:i + per_pass]) / 1000 for i in range(0, len(an), per_pass))
            if an else None,
            "bi_samples": len(bi), "probe_samples": len(pr), "analytics_samples": len(an)})
        e2e = {"latency_p50_ms": pct(bi + pr, 0.5), "latency_p90_ms": pct(bi + pr, 0.9),
               "pass_s": statistics.median(res["passes"]) if res["passes"] else None}
    e2e.update(setup_s=report["setup_s"], peak_rss_mb=rss_mb)
    return report, e2e


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    cp = build()
    data = tables()
    rundir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        limit = max(60.0, RUN_LIMIT_S - (time.time() - t0))
        res, rss_mb, spawn_ms = run_harness(cp, a, data, rundir, limit)
        if res is None:
            die("the harness did not finish; see the log above", 1)
        res["extra"]["jvm_exit_ms"] = time.time() * 1000
        o_failed, o_notes = oracle_failures(data, rundir, res)
        res["extra"]["checked_ms"] = time.time() * 1000
        keep = os.path.join(WORK, "last")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(os.path.join(rundir, "result.json"),
                    os.path.join(keep, f"{a.workload}-trace{a.trace}.json"))
        if a.trace and os.path.exists(os.path.join(rundir, "spans.jsonl")):
            shutil.copy(os.path.join(rundir, "spans.jsonl"),
                        os.path.join(keep, f"{a.workload}-spans.jsonl"))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + o_failed)
    report, e2e = reduce(a, res, rss_mb, spawn_ms)
    report["ops_failed_ratio"] = failed / max(1, attempted)
    if a.trace:
        metrics = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    missing = [n for n, m in metrics.items() if m["value"] is None]
    notes = res["notes"] + o_notes + res["errors"] + [f"metric {n} not measured" for n in missing]
    for n in notes:
        print(f"perfbench: {n}", file=sys.stderr)
    for n in missing:
        metrics[n]["value"] = 0.0
    correct = failed == 0 and not res["errors"] and not missing and attempted > 0
    ex = res["extra"]
    print(json.dumps({"report": report, "e2e": e2e, "timeline_s": {
        k[:-3]: round((ex[k] - res["first_op_epoch_ms"]) / 1000, 2) for k in TIMELINE
        if isinstance(ex.get(k), float)}}))
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
