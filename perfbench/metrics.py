"""Reduce one run's raw measurements to the benchmark's metrics.

End-to-end metrics come from the untraced rounds; per-layer metrics come
from the traced rounds and the event trace the JVM recorded with its own
SparkListener / QueryExecutionListener / StreamingQueryListener. Every
job is attributed to the program module that issued it: the source file
of the call site Spark records for it (the final stage's short call
site), mapped to its package under src/main/scala/graft; a job issued
from the harness itself (the materializing collect or noop write) counts
for the module of the public function the harness called.
"""
import json
import os
import re
import statistics
from collections import defaultdict

MODULES = ["sources", "recipes", "etl", "streaming", "pipeline", "operators",
           "functions", "analytics", "plans", "core"]
RA = [f"ra{i}" for i in range(1, 11)]
SITE = re.compile(r" at ([A-Za-z0-9_$]+\.scala):\d+")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """90th percentile, interpolated between order statistics. With the
    nine or ten pipeline runs of a corpus_hygiene run, the nearest rank
    is the maximum or the second largest by the count alone."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def family(name):
    return re.match(r"[a-z]+", name).group(0)


def slot_latencies(ops):
    """Latency of every query slot of the run, in ms, each at its
    query's median over the run: a query that runs k times weighs k, and
    one slow call (a GC pause, a neighbour's burst) moves its query's
    median, not a percentile of the pool."""
    by = defaultdict(list)
    for op in ops:
        by[op["name"]].append(op["wall_ns"] / 1e6)
    return [median(by[op["name"]]) for op in ops]


def round_wall(rd):
    return sum(op["wall_ns"] for op in rd["ops"]) / 1e9


# ------------------------------------------------------------ end to end

def end_to_end(workload, result, facts):
    rounds = [rd for rd in result["rounds"] if not rd["traced"]]
    ops = [op for rd in rounds for op in rd["ops"]]

    def per_round(f):
        return median([f(rd) for rd in rounds])

    def wall(rd, pred):
        return sum(op["wall_ns"] for op in rd["ops"] if pred(op)) / 1e9

    if workload == "recipe_warehouse":
        star = sum(facts["star_rows"].values())
        etl = lambda rd: wall(rd, lambda o: o["kind"] == "etl")
        etl_rows = per_round(lambda rd: star / etl(rd))
        docs = per_round(lambda rd: facts["source_docs"] / etl(rd))
        refresh = per_round(lambda rd: wall(rd, lambda o: o["kind"] == "refresh"))
        lat = slot_latencies([op for op in ops if op["kind"] == "query"])
    elif workload == "corpus_hygiene":
        def lake_rows(op):
            r = op["extra"].get("report") or {}
            return r.get("train", 0) + r.get("val", 0) + r.get("test_clean", 0)
        etl_rows = per_round(lambda rd: sum(lake_rows(o) for o in rd["ops"]) / round_wall(rd))
        docs = per_round(lambda rd: facts["docs"] * len(rd["ops"]) / round_wall(rd))
        refresh = per_round(lambda rd: median([op["wall_ns"] / 1e9 for op in rd["ops"]]))
        lat = [op["wall_ns"] / 1e6 for op in ops]
    else:
        etl_rows = per_round(lambda rd: sum(o["extra"].get("rows_written", 0)
                                            for o in rd["ops"]) / round_wall(rd))
        doc_q = lambda o: o["name"] in facts["doc_queries"]
        docs = per_round(lambda rd: facts["docs"] * sum(1 for o in rd["ops"] if doc_q(o))
                         / max(wall(rd, doc_q), 1e-9))
        refresh = per_round(lambda rd: wall(rd, lambda o: family(o["name"]) == "tt"))
        lat = slot_latencies(ops)
    return {
        "setup_s": (result["setup_s"], "s"),
        "run_s": (per_round(round_wall), "s"),
        "task_s": (per_round(lambda rd: rd["task_ms"] / 1000.0), "s"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
        "stored_mb": (per_round(lambda rd: rd["stored_bytes"] / 2**20), "MB"),
        "etl_rows_per_s": (etl_rows, "rows/s"),
        "refresh_s": (refresh, "s"),
        "query_p50_ms": (median(lat), "ms"),
        "query_p90_ms": (p90(lat), "ms"),
        "corpus_docs_per_s": (docs, "docs/s"),
    }


# -------------------------------------------------------------- per layer

def module_map(src_root):
    """Scala source file name -> program module (graft/<module>/X.scala;
    files directly under graft/ and Spark-package bridges are `core`)."""
    m = {}
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        mod = rel[1] if len(rel) > 1 and rel[0] == "graft" else "core"
        for f in files:
            if f.endswith(".scala"):
                m.setdefault(f, mod)
    return m


def load_trace(path):
    ev = defaultdict(list)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev[e["ev"]].append(e)
    return ev


def per_layer(result, trace, src_root, cores, per_layer_names):
    traced = [rd for rd in result["rounds"] if rd["traced"]]
    untraced = [rd for rd in result["rounds"] if not rd["traced"]]
    n = max(1, len(traced))
    ops = {op["id"]: op for rd in traced for op in rd["ops"]}
    windows = sorted((op["t0"], op["t1"]) for op in ops.values())
    mods = module_map(src_root)

    def in_window(t):
        return any(a <= t <= b for a, b in windows)

    def site_file(s):
        m = SITE.search(s or "")
        return m.group(1) if m else None

    jobs = {j["job"]: j for j in trace["job"] if j.get("op") in ops}
    job_end = {j["job"]: j["t"] for j in trace["job_end"]}
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        for s in j["stages"]:
            stage_job.setdefault(s, j["job"])

    def job_module(j):
        f = site_file(j["site"])
        return mods[f] if f in mods else ops[j["op"]]["module"]

    def job_s(j):
        return max(0, job_end.get(j["job"], j["t"]) - j["t"]) / 1000.0

    tasks = [t for t in trace["task"] if t["stage"] in stage_job]
    stages = [s for s in trace["stage"] if s["stage"] in stage_job]

    # time under tasks per module, plus idle: a sweep over the op windows
    events = []
    for t in tasks:
        events.append((t["t0"], 1, job_module(jobs[stage_job[t["stage"]]])))
        events.append((t["t1"], -1, job_module(jobs[stage_job[t["stage"]]])))
    events.sort(key=lambda e: (e[0], e[1]))
    mod_s = defaultdict(float)
    idle = 0.0

    def credit(active, ms):
        """Give `ms` of wall to the modules with running tasks, in
        proportion to their task counts, or to idle when none run."""
        nonlocal idle
        busy = sum(v for v in active.values() if v > 0)
        if not busy:
            idle += ms / 1000.0
        for m, v in active.items():
            if v > 0:
                mod_s[m] += ms / 1000.0 * v / busy

    for a, b in windows:
        active = defaultdict(int)
        pos = a
        for t, d, m in events:
            if t > b:
                break
            if t > a:
                credit(active, t - pos)
                pos = t
            active[m] += d
        credit(active, b - pos)
    window_s = sum(b - a for a, b in windows) / 1000.0

    sqls = {s["exec"]: s for s in trace["sql"]}
    sql_end = {s["exec"]: s["t"] for s in trace["sql_end"]}
    exec_ids = {int(j["exec"]) for j in jobs.values() if j.get("exec") not in (None, "")}
    ex = [s for e, s in sqls.items() if e in exec_ids or in_window(s["t"])]

    def sql_s(pred):
        return sum(max(0, sql_end.get(s["exec"], s["t"]) - s["t"]) for s in ex if pred(s)) / 1000.0

    def writes(s, fmt, where):
        """A file write in format `fmt` issued from source file `where`."""
        return (f", {fmt}, " in s.get("write", "") and
                where in (s.get("desc", "") + s.get("long", "")))

    csv_write = lambda s: writes(s, "CSV", "CsvIO.scala") and "validation_report" not in s["write"]
    csv_execs = {s["exec"] for s in ex if csv_write(s)}
    plan_s = 0.0
    for p in trace["plan"]:
        spans = [p[k] for k in ("analysis", "optimization", "planning") if p[k]]
        if spans and in_window(spans[0][0]):
            plan_s += sum(b - a for a, b in spans) / 1000.0

    def jobs_at(pred):
        return [j for j in jobs.values() if pred(j)]

    def site_is(j, verb, file_prefix):
        f = site_file(j["site"]) or ""
        return j["site"].startswith(verb) and f.startswith(file_prefix)

    max_excess = defaultdict(float)
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["t1"] - t["t0"])
    for s, durs in by_stage.items():
        max_excess[s] = (max(durs) - statistics.median(durs)) / 1000.0
    qops = [op for op in ops.values() if op["kind"] == "query"]
    pipeline_runs = sum(1 for op in ops.values() if op["kind"] == "pipeline")
    dedup_jobs = len(jobs_at(lambda j: site_is(j, "localCheckpoint", "Dedup.scala")))
    kern = result.get("kernels", {})
    traced_run = median([round_wall(rd) for rd in traced])
    untraced_run = median([round_wall(rd) for rd in untraced])

    # totals over the traced rounds (reported per round) ...
    m = {
        "build.s": sum(op["build_ns"] for op in ops.values()) / 1e9,
        "build.jobs": len(jobs_at(lambda j: j.get("phase") == "build")),
        "plan.s": plan_s,
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": len(tasks),
        "sched.idle_s": idle,
        "exec.task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc.s": sum(op["gc_ms"] for op in ops.values()) / 1000.0,
        "shuffle.write_mb": sum(t["sh_w"] for t in tasks) / 2**20,
        "shuffle.read_mb": sum(t["sh_r"] for t in tasks) / 2**20,
        "spill.mb": sum(t["spill"] for t in tasks) / 2**20,
        "io.input_mb": sum(t["in_b"] for t in tasks) / 2**20,
        "io.output_mb": sum(t["out_b"] for t in tasks) / 2**20,
        "io.files_written": sum(rd["files"] for rd in traced),
        "recipes.csv_write_s": sql_s(csv_write),
        "recipes.csv_write_tasks": sum(1 for t in tasks
                                       if jobs[stage_job[t["stage"]]].get("exec") not in (None, "")
                                       and int(jobs[stage_job[t["stage"]]]["exec"]) in csv_execs),
        "recipes.recount_s": sql_s(lambda s: s.get("desc", "").startswith("count at RecipeEtl.scala")),
        "recipes.validate_s": sql_s(lambda s: writes(s, "CSV", "CsvIO.scala")
                                    and "validation_report" in s["write"]),
        "sources.json_scans": sum(s["tree"].count("Scan json") for s in ex),
        "streaming.batches": sum(1 for b in trace["batch"] if b["rows"] > 0),
        "streaming.load_s": sql_s(lambda s: writes(s, "Parquet", "IncrementalLoad.scala")),
        # micro-batch executions all carry the stream's start call site:
        # the read-back is the one that scans the written parquet
        "streaming.readback_s": sql_s(lambda s: "IncrementalLoad.scala" in s["long"]
                                      and not s["write"] and "Scan parquet" in s["tree"]),
        "pipeline.flags_s": sum(job_s(j) for j in jobs_at(lambda j: site_is(j, "localCheckpoint", "CorpusPipeline.scala"))),
        "pipeline.accounting_s": sql_s(lambda s: s.get("desc", "").startswith("head at CorpusPipeline.scala")),
        "pipeline.lake_write_s": sql_s(lambda s: writes(s, "Parquet", "CorpusPipeline.scala")),
        "operators.dedup_rounds": max(0, dedup_jobs - 2 * pipeline_runs),
        "operators.dedup_s": sum(job_s(j) for j in jobs_at(lambda j: site_file(j["site"]) == "Dedup.scala")),
        "operators.snapshot_s": sum(job_s(j) for j in jobs_at(
            lambda j: (site_file(j["site"]) or "").startswith("Snapshot"))),
    }
    for mod in MODULES:
        m[f"module.{mod}.s"] = mod_s.get(mod, 0.0)
    # ... and levels, reported as they are
    levels = {
        "exec.core_busy": sum(t["run_ms"] for t in tasks) / 1000.0 / max(window_s * cores, 1e-9),
        "exec.max_task_s": max(max_excess.values(), default=0.0),
        "functions.tokenstats_ns_per_doc": kern.get("tokenstats", 0.0),
        "functions.minhash_ns_per_doc": kern.get("minhash", 0.0),
        "functions.ngram_ns_per_doc": kern.get("ngram", 0.0),
        "trace.run_s": traced_run,
        "trace.untraced_run_s": untraced_run,
        "trace.overhead": traced_run / untraced_run - 1.0 if untraced_run else 0.0,
        # wall of the traced rounds not covered by module time or idle time
        "trace.residual_s": (sum(round_wall(rd) for rd in traced) - idle - sum(mod_s.values())) / n,
    }
    for ra in RA:
        lat = [op["wall_ns"] / 1e6 for op in qops if op["name"].startswith(ra + "_")]
        levels[f"recipes.{ra}.p50_ms"] = median(lat)
    fam_lat, fam_jobs = defaultdict(list), defaultdict(int)
    for op in qops:
        fam_lat[family(op["name"])].append(op["wall_ns"] / 1e6)
    for j in jobs.values():
        if j.get("phase") == "build" and ops[j["op"]]["kind"] == "query":
            fam_jobs[family(ops[j["op"]]["name"])] += 1
    for name in per_layer_names:
        mm = re.match(r"query\.([a-z]+)\.(p50_ms|build_jobs)$", name)
        if mm and mm.group(2) == "p50_ms":
            levels[name] = median(fam_lat.get(mm.group(1), []))
        elif mm:
            m[name] = fam_jobs.get(mm.group(1), 0)
    return {**{k: v / n for k, v in m.items()}, **levels}
