#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine's public query surface.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (once per source hash),
then runs the workload's frozen query list (workloads.json) over the
fixture copy in perfbench/fixtures, one query at a time, in one JVM. The
JVM sets up (session, silver tables, one warm-up pass that digests every
result for the output check against expected.json), then runs timed
passes over a seeded permutation of the list. The last stdout line is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of the
traced passes (--trace 1). Exits non-zero when a query fails or returns
a wrong result, and when the engine sources are missing.

Maintainer modes (not used by the measurement):
    --record   re-derive expected.json: dump every listed query's result,
               compare it with its DuckDB oracle, and record row counts and
               digests only if every oracle passes
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "source.sha256")
SPARK_JARS = "/opt/spark/jars"
JIT = ["-XX:TieredStopAtLevel=1"]
RUN_BUDGET_S = 170  # all harness JVMs of one run together
BUILD_TIMEOUT_S = 850

# the end-to-end metrics of the result line, as BENCHMARK.json lists them
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"), ("heap_peak_mb", "MB")]
# printed in the table only: a tail needs more samples than one run has on
# two workloads, the batch metrics exist on one workload, and a failure
# shows in the result line's `failed`
TABLE_ONLY = [("query_tail_s", "s"), ("batch_p50_ms", "ms"), ("batch_tail_ms", "ms"),
              ("stream_rows_per_s", "1/s"), ("failed_frac", "ratio")]
# per-pass sums over the traced queries; name -> unit
LAYER_SUMS = {
    "sources.infer_jobs": "count", "sources.input_bytes": "B", "sources.input_rows": "count",
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "operators.build_task_ms": "ms", "operators.driver_ms": "ms",
    "operators.collect_jobs": "count",
    "scoped.parquet_barriers": "count", "scoped.temp_bytes": "B",
    "scoped.reread_infer_jobs": "count",
    "catalyst.plan_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.exec_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.failed_tasks": "count", "exec.gc_ms": "ms",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.input_rows": "count",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "B",
    "streaming.state_commit_ms": "ms", "streaming.feed_jobs": "count",
}
LAYER_DERIVED = {  # computed from the sums, or not a sum
    "exec.par": "ratio", "exec.peak_exec_mem_bytes": "B",
    "streaming.nonempty_batch_ratio": "ratio",
    "streaming.batch_p50_ms": "ms", "streaming.rows_per_s": "1/s",
    "trace.overhead": "ratio",
}


def per_layer_units(silvers):
    units = dict(LAYER_SUMS)
    units.update(LAYER_DERIVED)
    units.update({f"silver.build_ms.{t}": "ms" for t in silvers})
    return units


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def tail(values):
    """(p, value): the highest whole percentile with at least ten samples
    beyond it, linearly interpolated; None below 20 samples, where that
    percentile would not lie above the median."""
    s = sorted(values)
    if len(s) < 20:
        return None
    p = int(100 * (1 - 10 / len(s)))
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return p, s[lo] + (s[hi] - s[lo]) * (k - lo)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt, offline; skipped when
    the sources are unchanged since the last build."""
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    log("perfbench: building engine + harness (sbt compile)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed, see {os.path.join(WORK, 'build.log')}")
    with open(STAMP, "w") as f:
        f.write(digest)


def java_cmd(args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, "-Xmx3g", *JIT,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            "-Dspark.local.dir=" + os.path.join(WORK, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
            "-cp", os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                                    os.path.join(SPARK_JARS, "*")]),
            "perfbench.Harness", *args]


def fresh_scratch():
    for d in ["tmp", "local", "warehouse"]:
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))


def run_jvm(args, tag, deadline):
    """One harness JVM, killed at `deadline`; returns its JSON records."""
    fresh_scratch()
    out = os.path.join(WORK, f"{tag}.jsonl")
    if os.path.exists(out):
        os.remove(out)
    with open(os.path.join(WORK, f"{tag}.log"), "w") as logf:
        proc = subprocess.Popen(java_cmd([*args, "--out", out]), cwd=ROOT,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    fresh_scratch()
    if rc != 0:
        sys.exit(f"perfbench: harness JVM {tag} ended with {rc}, see .work/{tag}.log")
    with open(out) as f:
        return [json.loads(line) for line in f if line.strip()]


def measure(wl, fixtures, seed, seconds, trace):
    """The timed work is a whole number of passes, sized from the
    workload's pass time at the baseline so that it lasts about `seconds`;
    a fixed count keeps the JIT and heap history equal between runs."""
    passes = max(3, round(seconds / wl["baseline_pass_s"]))
    return run_jvm([
        "--mode", "run", "--fixtures", fixtures, "--queries", ",".join(wl["queries"]),
        "--seed", str(seed), "--passes", str(passes), "--trace", "1" if trace else "0",
    ], "run", time.time() + RUN_BUDGET_S)


def check_outputs(recs, expected, queries):
    """Failed timed runs plus missing, failed or wrong digests."""
    problems = []
    for r in recs:
        if r["kind"] == "query" and r["error"]:
            problems.append(f"{r['q']}: {r['error']}")
        if r["kind"] == "setup":
            problems += [f"{q} (warm-up): {e}" for q, e in r["warm_errors"].items()]
    checks = {r["q"]: r for r in recs if r["kind"] == "check"}
    for q in queries:
        c, want = checks.get(q), expected.get(q)
        if c is None or "error" in c:
            problems.append(f"{q}: no output check ({c and c.get('error')})")
        elif want is None:
            problems.append(f"{q}: no expected digest recorded")
        elif (c["rows"], c["digest"]) != (want["rows"], want["digest"]):
            problems.append(f"{q}: rows/digest {c['rows']}/{c['digest']} != "
                            f"expected {want['rows']}/{want['digest']}")
    return problems


def end_to_end(recs):
    """Every end-to-end metric of the untraced passes, None where the run
    has no sample for it; and the notes that say how many samples."""
    untraced = [r for r in recs if not r.get("traced", False)]
    passes = [r for r in untraced if r["kind"] == "pass"]
    samples = [r["wall_ms"] / 1000.0 for r in untraced if r["kind"] == "query" and not r["error"]]
    trig = [r["trigger_ms"] for r in untraced if r["kind"] == "batch"]
    rows = sum(r["rows"] for r in untraced if r["kind"] == "batch")
    q_tail, b_tail = tail(samples), tail(trig)
    m = {
        "setup_s": next(r["setup_s"] for r in recs if r["kind"] == "setup"),
        "pass_s": statistics.median(r["pass_s"] for r in passes),
        "query_p50_s": statistics.median(samples) if samples else None,
        # the live set only grows with the executions a session keeps, so
        # its reading after the last timed pass is its peak over the passes
        "heap_peak_mb": next(r["live_mb"] for r in recs if r["kind"] == "heap"),
        "query_tail_s": q_tail and q_tail[1],
        "batch_p50_ms": statistics.median(trig) if trig else None,
        "batch_tail_ms": b_tail and b_tail[1],
        "stream_rows_per_s": rows / (sum(trig) / 1000.0) if trig else None,
    }
    notes = (f"{len(passes)} timed passes, {len(samples)} query samples "
             f"(query_tail_s = {'p%d' % q_tail[0] if q_tail else 'n/a'}), "
             f"{len(trig)} micro-batches (batch_tail_ms = {'p%d' % b_tail[0] if b_tail else 'n/a'})")
    return m, notes


def per_layer(recs):
    layers = [r for r in recs if r["kind"] == "layers"]
    traced_passes = sorted(r["pass"] for r in recs if r["kind"] == "pass" and r["traced"])
    sums = []
    for p in traced_passes:
        rows = [r for r in layers if r["pass"] == p]
        s = {k: sum(r[k] for r in rows) for k in LAYER_SUMS}
        s["streaming.nonempty_batches"] = sum(r["streaming.nonempty_batches"] for r in rows)
        s["exec.peak_exec_mem_bytes"] = max([r["exec.peak_exec_mem_bytes"] for r in rows] or [0])
        sums.append(s)
    med = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
    out = {k: med[k] for k in LAYER_SUMS}
    out["exec.peak_exec_mem_bytes"] = med["exec.peak_exec_mem_bytes"]
    out["exec.par"] = med["exec.task_ms"] / med["exec.exec_ms"] if med["exec.exec_ms"] else 0.0
    out["streaming.nonempty_batch_ratio"] = (
        med["streaming.nonempty_batches"] / med["streaming.batches"]
        if med["streaming.batches"] else 0.0)
    traced_batches = [r["trigger_ms"] for r in recs
                      if r["kind"] == "batch" and r["traced"]]
    rows = sum(r["rows"] for r in recs if r["kind"] == "batch" and r["traced"])
    out["streaming.batch_p50_ms"] = statistics.median(traced_batches) if traced_batches else 0.0
    out["streaming.rows_per_s"] = rows / (sum(traced_batches) / 1000.0) if traced_batches else 0.0
    pass_s = lambda traced: statistics.median(
        r["pass_s"] for r in recs if r["kind"] == "pass" and r["traced"] == traced)
    out["trace.overhead"] = pass_s(True) / pass_s(False)
    setup = next(r for r in recs if r["kind"] == "setup")
    silvers = setup["silver_names"]
    for t in silvers:
        out[f"silver.build_ms.{t}"] = setup["silver_ms"].get(t, 0.0)
    return out, silvers, len(traced_passes)


def self_checks(recs):
    """Instrumentation invariants of the traced passes: the three phases
    cover each query's wall time, and the per-phase job counts add up to
    every job the listener saw while the query ran."""
    bad = []
    for r in (r for r in recs if r["kind"] == "layers"):
        phases = r["operators.build_ms"] + r["catalyst.plan_ms"] + r["exec.exec_ms"]
        if abs(phases - r["wall_ms"]) > 0.1 * r["wall_ms"]:
            bad.append(f"{r['q']}: build+plan+exec {phases:.1f} ms vs wall {r['wall_ms']:.1f} ms")
        if r["jobs_build"] + r["jobs_plan"] + r["jobs_exec"] != r["jobs_total"]:
            bad.append(f"{r['q']}: phase jobs {r['jobs_build']}+{r['jobs_plan']}+"
                       f"{r['jobs_exec']} != listener total {r['jobs_total']}")
    return bad


def record(workloads, fixtures):
    """Dump every listed query, compare with the DuckDB oracle, and write
    the expected row counts and digests only when every oracle passes."""
    names = sorted({q for wl in workloads.values() for q in wl["queries"]})
    dump_dir = os.path.join(WORK, "dump")
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(dump_dir)
    recs = run_jvm(["--mode", "dump", "--fixtures", fixtures, "--queries", ",".join(names),
                    "--dump-dir", dump_dir], "dump", time.time() + 1800)
    failed = [r for r in recs if "error" in r]
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                         fixtures, dump_dir]).returncode
    no_oracle = sorted(r["q"] for r in recs if not r.get("has_oracle", True))
    if failed or rc != 0:
        sys.exit(f"perfbench: not recording; {len(failed)} dump failures, oracle rc {rc}")
    path = os.path.join(BENCH, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    expected[os.path.basename(fixtures)] = {
        r["q"]: {"rows": r["rows"], "digest": r["digest"]} for r in recs}
    expected["no_oracle"] = sorted(set(expected.get("no_oracle", [])) | set(no_oracle))
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"perfbench: recorded {len(recs)} digests; without an oracle: {no_oracle}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fixtures", default=os.path.join(BENCH, "fixtures"))
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found next to perfbench/")
    workloads = json.load(open(os.path.join(BENCH, "workloads.json")))["workloads"]
    os.makedirs(WORK, exist_ok=True)
    build()
    fixtures = os.path.abspath(a.fixtures)
    if a.record:
        record(workloads, fixtures)
        return
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    t0 = time.time()
    recs = measure(wl, fixtures, a.seed, a.seconds, a.trace == 1)
    expected = json.load(open(os.path.join(BENCH, "expected.json")))
    problems = check_outputs(recs, expected.get(os.path.basename(fixtures), {}), wl["queries"])
    attempted = sum(1 for r in recs if r["kind"] in ("query", "check"))
    failed = min(attempted, len(problems))
    e2e, notes = end_to_end(recs)
    e2e["failed_frac"] = failed / attempted
    rows = [(k, e2e[k], u) for k, u in END_TO_END + TABLE_ONLY]
    print(f"workload {a.workload}: {notes}; wall {time.time() - t0:.1f} s")
    if a.trace:
        layer, silvers, n_traced = per_layer(recs)
        bad = self_checks(recs)
        problems += [f"self-check: {b}" for b in bad]
        failed = min(attempted, len(problems))
        units = per_layer_units(silvers)
        print(f"traced passes: {n_traced}; tracing overhead {layer['trace.overhead']:.3f}")
        rows += [(k, layer[k], units[k]) for k in sorted(units)]
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in sorted(units)}
        shutil.copy(os.path.join(WORK, "run.jsonl"), os.path.join(WORK, f"trace_{a.workload}.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    for k, v, u in rows:
        print(f"  {k:42s} {'n/a' if v is None else format(v, '.4f'):>16s} {u}")
    for p in problems:
        print(f"FAILED {p}")
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
