#!/usr/bin/env python3
"""The repository benchmark: one command per run of one workload.

    python3 perfbench/run.py --workload recipe_warehouse|corpus_hygiene|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness with the offline sbt toolchain (perfbench/build.sbt, which
compiles the program through the repository's own build); later runs
reuse the build while the sources are unchanged. Inputs are generated
from --seed by perfbench/gen/ and cached per seed; the program receives
only the generated files. One JVM (local[n], n = min(4, nproc)) runs the
workload's untimed setup and then whole rounds of its operations until
--seconds have passed, with one client in a closed loop. The checks in
perfbench/checks.py then verify every operation's output, and the last
line of stdout is one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
`correct` is false, and the exit code 1, when any check fails.

Everything the run writes stays under perfbench/.work (and the sbt
build's target directories).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("recipe_warehouse", "corpus_hygiene", "query_mix")
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def fingerprint():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the harness and the program, building both if needed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(PROGRAM_SRC, "graft"))):
        die("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    stamp = os.path.join(WORK, "build", "fingerprint")
    cp_file = os.path.join(WORK, "build", "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building the program and the harness", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}", 1)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or not all(os.path.exists(x) for x in cp.split(":") if x):
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 1)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


# ----------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generated inputs for (workload, seed), made once and reused."""
    d = os.path.join(WORK, "inputs", workload, f"seed-{seed}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    if workload == "recipe_warehouse":
        from gen import recipes as gen
    elif workload == "corpus_hygiene":
        from gen import corpus as gen
    else:
        from gen import tables as gen
    gen.generate(seed, d)
    open(os.path.join(d, ".done"), "w").close()
    return d


def mix_file():
    mix = json.load(open(os.path.join(HERE, "query_mix.json")))["queries"]
    path = os.path.join(WORK, "query_mix.txt")
    with open(path, "w") as f:
        f.write("\n".join(mix) + "\n")
    return path


# -------------------------------------------------------------------- run

def java(cp, run_dir, main):
    """A java command line for `main` with the harness's JVM settings."""
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, main]


def run_jvm(cp, workload, data, run_dir, seconds, trace, deadline):
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    cmd = java(cp, run_dir, "perfbench.Main") + [
        "--workload", workload, "--inputs", data, "--work", run_dir,
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--cores", str(CORES), "--result", result]
    if workload == "query_mix":
        cmd += ["--mix", mix_file()]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; drop it so
        # shuffle and block files stay inside the run directory.
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
        die(f"the {workload} JVM failed ({rc})", 1)
    return json.load(open(result))


def facts(workload, data, run_dir):
    if workload == "recipe_warehouse":
        m = json.load(open(os.path.join(data, "manifest.json")))
        rows = m["star_rows"]
        return {"star_rows": rows,
                "source_docs": rows["users"] + rows["recipes"] + rows["interactions"]}
    import pyarrow.parquet as pq
    docs = pq.read_metadata(os.path.join(data, "documents.parquet")).num_rows
    if workload == "corpus_hygiene":
        return {"docs": docs}
    oracles = json.load(open(os.path.join(run_dir, "query_mix", "results", "oracle_sql.json")))
    return {"docs": docs,
            "doc_queries": {n for n, sql in oracles.items() if "documents" in sql}}


def check(workload, data, result, run_dir):
    import checks
    if workload == "recipe_warehouse":
        return checks.check_recipe(result, data, run_dir)
    if workload == "corpus_hygiene":
        return checks.check_corpus(result, data, result["info"]["cp1_oracle"])
    return checks.check_mix(result, data, os.path.join(run_dir, "query_mix", "results"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    data = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "run", a.workload)
    result = run_jvm(cp, a.workload, data, run_dir, a.seconds, a.trace == 1, deadline)
    line = outcome(a.workload, data, result, run_dir, a.trace == 1)
    # The outputs are checked: delete them while they are fresh (cheap),
    # keeping result.json and the trace.
    shutil.rmtree(os.path.join(run_dir, a.workload), ignore_errors=True)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


def outcome(workload, data, result, run_dir, trace):
    """The run's result line: the checks' verdict on every operation, and
    the end-to-end (or, traced, the per-layer) metrics."""
    import metrics
    failed, problems = check(workload, data, result, run_dir)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if trace:
        names = [m["name"] for m in bench["per_layer"]]
        events = metrics.load_trace(os.path.join(run_dir, "result.json.trace.jsonl"))
        values = metrics.per_layer(result, events, PROGRAM_SRC, CORES, names)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        out = {k: {"value": values.get(k, 0.0), "unit": units[k]} for k in names}
    else:
        values = metrics.end_to_end(workload, result, facts(workload, data, run_dir))
        out = {m["name"]: {"value": values[m["name"]][0], "unit": values[m["name"]][1]}
               for m in bench["end_to_end"]}
    ops = [op for rd in result["rounds"] for op in rd["ops"]]
    n_failed = sum(1 for op in ops if op["id"] in failed)
    return {"correct": not failed and not problems, "attempted": len(ops),
            "failed": n_failed, "metrics": out}


if __name__ == "__main__":
    main()
