#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload pokec_read --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness, sbt). Each run generates the seeded pokec graph,
starts one JVM (`local[nproc]`, one closed-loop client), sets up several
times, runs statements for `--seconds`, checks every result, and prints one
JSON object as its last line. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer metrics from a SparkListener and spans.
See perfbench/NOTES.md for the workloads and every metric.
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
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
WORK = BENCH / ".work"
T0 = time.monotonic()

PROFILE = "small"
SETUPS = 3            # set-ups per run; setup_s is their median
HEAP = "3g"
RUN_LIMIT_S = 170     # a run ends inside the 180 s allowance, not counting a build
BUILD_LIMIT_S = 840
# workload -> sweep Scratch blocks after every statement?
SWEEP = {"pokec_read": True, "pokec_mixed": False}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha1()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "src", HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for r in roots:
        files = sorted(r.rglob("*")) if r.is_dir() else [r]
        for f in files:
            if f.is_file():
                st = f.stat()
                h.update(f"{f.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath.

    The harness build depends on the engine's own build at the repository
    root, so the engine compiles into the root's target/ directory."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (src/main/scala) not found: run from the repository root")
    cp_file = HARNESS / "target" / "classpath.txt"
    stamp_file = HARNESS / "target" / "source.stamp"
    stamp = _source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if r.returncode != 0 or not cp_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed (log: perfbench/.work/build.log)")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


# ---- inputs --------------------------------------------------------------------

def data_dirs(seed):
    """SETUPS identical copies of the seeded graph (one per set-up)."""
    base = WORK / "data" / f"{PROFILE}-{seed}"
    dirs = [base / f"s{i}" for i in range(SETUPS)]
    done = base / "complete"
    if not done.exists():
        shutil.rmtree(base, ignore_errors=True)
        n, src, dst = gen.generate(seed, PROFILE)
        gen.write(dirs[0], n, src, dst)
        for d in dirs[1:]:
            shutil.copytree(dirs[0], d)
        done.write_text("ok")
    return dirs


def load_graph(d):
    """The checks' model, read back from the parquet the engine loads."""
    users = pq.read_table(d / "users.parquet").sort_by("id")
    assert users.column("id").to_numpy().tolist() == list(range(len(users)))
    fr = pq.read_table(d / "friendships.parquet")
    cols = [users.column(c).to_numpy().astype(np.int64)
            for c in ("age", "gender", "completion_percentage")]
    return workloads.Graph(cols, *(fr.column(c).to_numpy().astype(np.int64)
                                   for c in ("src", "dst")))


# ---- one harness run ---------------------------------------------------------------

def run_harness(cp, workload, seed, seconds, trace, dirs, stmts, deadline):
    run_dir = WORK / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}-{time.time_ns()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    sched = run_dir / "schedule.tsv"
    sched.write_text("".join(s.tsv() + "\n" for s in stmts))
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", str(sched), str(run_dir),
            str(seconds), str(trace), str(cores), "1" if SWEEP[workload] else "0",
            str(len(workloads.CYCLES[workload]))]
    cmd += [str(d) for d in dirs]
    budget = deadline - time.monotonic()
    with open(run_dir / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {budget:.0f} s")
    if r.returncode != 0 or not (run_dir / "metrics.json").exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {r.returncode}")
    metrics = json.loads((run_dir / "metrics.json").read_text())
    results = []
    for line in (run_dir / "results.tsv").read_text().splitlines():
        idx, status, parse_ns, plan_ns, exec_ns, gc_ms, depth, payload = line.split("\t", 7)
        results.append({
            "idx": int(idx), "ok": status == "ok",
            "parse_ms": int(parse_ns) / 1e6, "plan_ms": int(plan_ns) / 1e6,
            "exec_ms": int(exec_ns) / 1e6, "gc_ms": int(gc_ms), "depth": int(depth),
            "payload": json.loads(payload)})
    trace_doc = None
    if trace:
        trace_doc = json.loads((run_dir / "trace.json").read_text())
    shutil.rmtree(run_dir, ignore_errors=True)
    return metrics, results, trace_doc


# ---- checking ------------------------------------------------------------------

def check(model, stmts, results):
    """Mark each executed statement correct or not; first error per template."""
    by_idx = {s.idx: s for s in stmts}
    first_error = {}
    for r in results:
        s = by_idx[r["idx"]]
        r["template"], r["cls"] = s.template, s.cls
        if r["ok"]:
            want = workloads.expected(model, s)
            r["correct"] = workloads.same_rows(r["payload"], want)
            if not r["correct"]:
                msg = f"wrong result: got {str(r['payload'])[:200]} want {str(want)[:200]}"
            if s.cls == "write":
                workloads.apply_write(model, s)
        else:
            r["correct"] = False
            msg = str(r["payload"])
        if not r["correct"]:
            first_error.setdefault(s.template, f"statement {s.idx}: {msg}")
        r["total_ms"] = r["parse_ms"] + r["plan_ms"] + r["exec_ms"]
    return first_error


# ---- metrics -------------------------------------------------------------------

def p50(values, whole_ms):
    """Median with interpolation; a failed statement (inf) ranks slowest,
    and a median that lands on a failure reads as the whole loop."""
    if not values:
        return 0.0
    m = statistics.median(values)
    return whole_ms if m == float("inf") else m


def class_p50(results, cls, whole_ms):
    return p50([r["total_ms"] if r["correct"] else float("inf")
                for r in results if r["cls"] == cls], whole_ms)


def end_to_end(metrics, results):
    loop_ms = metrics["loop_s"] * 1000.0
    lat = [r["total_ms"] if r["correct"] else float("inf") for r in results]
    timed_s = sum(r["total_ms"] for r in results) / 1000.0
    return {
        "setup_s": (statistics.median(metrics["setup_s"]), "s"),
        "ops_per_s": (sum(r["correct"] for r in results) / timed_s, "1/s"),
        "latency_p50_ms": (p50(lat, loop_ms), "ms"),
        "cached_peak_mb": (metrics["cached_peak_mb"], "MB"),
        "heap_live_peak_mb": (metrics["heap_live_peak_mb"], "MB"),
    }


def untraced_p50(workload):
    """Median latency_p50_ms of this checkout's untraced runs, if any."""
    vals = []
    for f in (WORK / "records" / workload).glob("trace0-*.json"):
        try:
            vals.append(json.loads(f.read_text())["metrics"]["latency_p50_ms"]["value"])
        except (ValueError, KeyError):
            pass
    return statistics.median(vals) if vals else None


def save_record(workload, seed, trace, doc):
    d = WORK / "records" / workload
    d.mkdir(parents=True, exist_ok=True)
    (d / f"trace{trace}-seed{seed}-{time.time_ns()}.json").write_text(json.dumps(doc))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.CYCLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    dirs = data_dirs(a.seed)
    build_s = time.monotonic() - T0
    model = load_graph(dirs[0])
    stmts = workloads.schedule(a.workload, a.seed, model)

    def one_run(trace, model):
        metrics, results, trace_doc = run_harness(
            cp, a.workload, a.seed, a.seconds, trace, dirs, stmts, deadline)
        first_error = check(model, stmts, results)
        return metrics, results, trace_doc, first_error

    baseline = untraced_p50(a.workload) if a.trace else None
    if a.trace and baseline is None:
        # no untraced run in this checkout yet: make one to compare against
        m0, r0, _, _ = one_run(0, load_graph(dirs[0]))
        baseline = end_to_end(m0, r0)["latency_p50_ms"][0]
    metrics, results, trace_doc, first_error = one_run(a.trace, model)

    e2e = end_to_end(metrics, results)
    failed = sum(not r["correct"] for r in results)
    attempted = len(results)
    errors = list(metrics["errors"])
    shown = e2e
    if a.trace:
        shown = layers.per_layer(metrics, results, trace_doc)
        for cls in ("read", "path", "analytic", "write"):
            shown[f"class.{cls}_p50_ms"] = (
                class_p50(results, cls, metrics["loop_s"] * 1000.0), "ms")
        shown["trace_overhead_frac"] = (e2e["latency_p50_ms"][0] / baseline - 1.0, "ratio")
        if shown["trace.unattributed_jobs"][0] != 0:
            errors.append("jobs missing from the per-layer attribution")
    counts = layers.statement_counts(results, trace_doc) if a.trace else None
    correct = failed == 0 and not errors

    # human-readable summary first; the last line is the result object
    print(f"workload {a.workload} seed {a.seed}: {attempted} statements, "
          f"{failed} failed (failed_frac {failed / max(attempted, 1):.4f}), "
          f"version depth {metrics['version_depth']}")
    print(f"  time: build+data {build_s:.1f} s, JVM to session {metrics['session_s']:.1f} s, "
          f"to first timed statement {metrics['first_statement_s']:.1f} s, "
          f"loop {metrics['loop_s']:.1f} s, whole run {time.monotonic() - T0:.1f} s")
    for t, msg in sorted(first_error.items()):
        print(f"  FAIL {t}: {msg}")
    for e in errors:
        print(f"  ERROR {e}")
    for name, (v, unit) in (e2e | shown).items():
        print(f"  {name} = {v:.6g} {unit}")

    doc = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}
    save_record(a.workload, a.seed, a.trace, dict(
        doc, workload=a.workload, seed=a.seed, trace=a.trace,
        failed_frac=failed / max(attempted, 1), first_error=first_error,
        statements=[[r["template"], round(r["total_ms"], 3), r["correct"]] for r in results],
        errors=errors, counts=counts,
        e2e={k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}))
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
