"""Per-layer metrics from a traced run.

The harness writes its spans (set-up, load, index, warm-up, and each timed
statement with its parse, plan and exec phases) and every Spark job the
listener saw. Here each job is attributed to the innermost span open when
it was submitted; a layer's self time is its span's duration minus the time
its jobs cover. Counts and times are means per timed statement unless the
name says otherwise (see NOTES.md).
"""
import statistics
from collections import defaultdict

# engine files whose jobs are reported one by one (ops.<File>.jobs/job_ms),
# named by the innermost engine frame on the job's call stack; "harness" is
# the final collect, and jobs from any other file land in ops.other
OP_FILES = ["harness", "Planner", "GraphState", "LocalSearch", "ShortestPath",
            "VarExpand", "Mutations", "Scratch", "Procedures", "PokecGraphLoader"]
CALL_TEMPLATES = {"pagerank"}

def _rows(doc, kind):
    fields = doc[kind[:-1] + "_fields"]
    return [dict(zip(fields, r)) for r in doc[kind]]


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(doc):
    """Attach to every job its span, the span's kind and its statement."""
    spans = {s["id"]: s for s in _rows(doc, "spans")}
    jobs = _rows(doc, "jobs")
    ordered = sorted(spans.values(), key=lambda s: s["id"])
    for j in jobs:
        t = j["start_ms"]
        # innermost = the latest-opened span containing the start time
        owner = None
        for s in ordered:
            if s["start_ms"] <= t <= s["end_ms"]:
                owner = s
        j["span"] = owner
        j["kind"] = owner["kind"] if owner else None
        stmt = owner
        while stmt is not None and stmt["kind"] not in ("stmt", "warm"):
            stmt = spans.get(stmt["parent"])
        j["stmt"] = stmt["stmt"] if stmt is not None and stmt["kind"] == "stmt" else None
        j["file"] = j["site"] if j["site"] in OP_FILES else "other"
    return spans, jobs


def statement_counts(results, doc):
    """Deterministic counts per timed statement, for exact run-to-run diffs."""
    _, jobs = attribute(doc)
    by = defaultdict(lambda: {"jobs": 0, "stages": 0, "tasks": 0, "cp_jobs": 0})
    for j in jobs:
        if j["stmt"] is not None:
            c = by[j["stmt"]]
            c["jobs"] += 1
            c["stages"] += j["stages"]
            c["tasks"] += j["tasks"]
            c["cp_jobs"] += j["desc"] == "graft:cp"
    return {str(r["idx"]): dict(by[r["idx"]], template=r["template"]) for r in results}


def per_layer(metrics, results, doc):
    spans, jobs = attribute(doc)
    n = max(len(results), 1)
    per_stmt = defaultdict(lambda: defaultdict(float))
    file_jobs, file_ms = defaultdict(int), defaultdict(float)
    loop_jobs = [j for j in jobs if j["stmt"] is not None]
    for j in loop_jobs:
        c = per_stmt[j["stmt"]]
        phase = j["kind"]
        c[phase + "_jobs"] += 1
        c[phase + "_tasks"] += j["tasks"]
        c["jobs"] += 1
        c["cp_jobs"] += j["desc"] == "graft:cp"
        c["mint_jobs"] += j["desc"].startswith("graft:mint")
        file_jobs[j["file"]] += 1
        file_ms[j["file"]] += max(0, j["end_ms"] - j["start_ms"])
    plan_job_ms = {}
    for s in spans.values():
        if s["kind"] == "plan" and spans[s["parent"]]["kind"] == "stmt":
            idx = spans[s["parent"]]["stmt"]
            ivs = [(j["start_ms"], j["end_ms"]) for j in loop_jobs
                   if j["span"] is s]
            plan_job_ms[idx] = _union_ms(ivs, s["start_ms"], s["end_ms"])

    def mean(f):
        return sum(f(r) for r in results) / n

    calls = [r for r in results if r["template"] in CALL_TEMPLATES]
    reads = [r for r in results if r["cls"] == "read"]
    tenth = max(1, len(reads) // 10)

    def read_jobs(rs):
        return statistics.mean(per_stmt[r["idx"]]["jobs"] for r in rs) if rs else 0.0

    tot = lambda key: sum(j[key] for j in loop_jobs)
    mb = 1048576.0
    out = {
        "sources.load_s": (statistics.median(metrics["load_s"]), "s"),
        "sources.index_s": (statistics.median(metrics["index_s"]), "s"),
        "cypher.parse_ms": (mean(lambda r: r["parse_ms"]), "ms"),
        "cypher.plan_ms": (mean(lambda r: r["plan_ms"]), "ms"),
        "cypher.plan_jobs": (mean(lambda r: per_stmt[r["idx"]]["plan_jobs"]), "count"),
        "cypher.plan_job_ms": (mean(lambda r: plan_job_ms.get(r["idx"], 0)), "ms"),
        "cypher.plan_self_ms": (
            mean(lambda r: r["plan_ms"] - plan_job_ms.get(r["idx"], 0)), "ms"),
        "exec.ms": (mean(lambda r: r["exec_ms"]), "ms"),
        "exec.jobs": (mean(lambda r: per_stmt[r["idx"]]["exec_jobs"]), "count"),
        "exec.tasks": (mean(lambda r: per_stmt[r["idx"]]["exec_tasks"]), "count"),
        "operators.cp_jobs": (mean(lambda r: per_stmt[r["idx"]]["cp_jobs"]), "count"),
        "operators.mint_jobs": (mean(lambda r: per_stmt[r["idx"]]["mint_jobs"]), "count"),
        "operators.scratch_blocks": (metrics["scratch_blocks"] / n, "count"),
    }
    for f in OP_FILES + ["other"]:
        out[f"ops.{f}.jobs"] = (file_jobs[f] / n, "count")
        out[f"ops.{f}.job_ms"] = (file_ms[f] / n, "ms")
    out |= {
        "procedures.ms": (
            statistics.mean(r["plan_ms"] + r["exec_ms"] for r in calls) if calls else 0.0,
            "ms"),
        "procedures.jobs": (
            statistics.mean(per_stmt[r["idx"]]["jobs"] for r in calls) if calls else 0.0,
            "count"),
        "core.version_depth": (metrics["version_depth"], "count"),
        "core.read_jobs_first": (read_jobs(reads[:tenth]), "count"),
        "core.read_jobs_last": (read_jobs(reads[-tenth:]), "count"),
        "core.live_cached_mb": (metrics["live_cached_mb"], "MB"),
        "spark.jobs": (len(loop_jobs) / n, "count"),
        "spark.stages": (tot("stages") / n, "count"),
        "spark.tasks": (tot("tasks") / n, "count"),
        "spark.task_run_s": (tot("run_ms") / 1000.0 / n, "s"),
        "spark.core_util": (
            tot("run_ms") / 1000.0 / (metrics["loop_s"] * metrics["cores"]), "ratio"),
        "spark.sched_wait_ms": (tot("sched_ms") / n, "ms"),
        "spark.shuffle_read_mb": (tot("shuffle_read") / mb / n, "MB"),
        "spark.shuffle_write_mb": (tot("shuffle_write") / mb / n, "MB"),
        "spark.spill_mb": (tot("spill") / mb / n, "MB"),
        "spark.result_mb": (tot("result") / mb / n, "MB"),
        "spark.failed_tasks": (tot("failed_tasks"), "count"),
        "jvm.gc_ms": (metrics["gc_timed_ms"] / n, "ms"),
        # job ids run 0..N-1: an id the listener never saw (a dropped
        # event) or a job outside every span is work no layer accounts for
        "trace.unattributed_jobs": (
            sum(j["span"] is None for j in jobs)
            + (max((j["id"] for j in jobs), default=-1) + 1 - len(jobs)), "count"),
    }
    return out
