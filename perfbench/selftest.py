"""Self-test of the correctness checks: corrupt one output at a time in a
copy of a finished run and show that the check rejects it (and that the
untouched copy passes).

    python3 perfbench/selftest.py [--seed N]

Runs each workload once (run.py's JVM, one round) to get outputs, then
applies the corruptions below to copies under perfbench/.work/selftest
and reads each copy back through run.py's own result path
(`run.outcome`): a corruption is rejected when the result line says
`"correct": false` with failed operations. Exits non-zero if any
corruption goes undetected.
"""
import argparse
import copy
import glob
import json
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

WORK = run.WORK
SCRATCH = os.path.join(WORK, "selftest")


def fresh_run(workload, seed):
    """One short run of `workload`, its outputs copied for corruption."""
    data = run.inputs(workload, seed)
    src = os.path.join(WORK, "run", workload)
    run.run_jvm(run.build(), workload, data, src, 1, False, time.time() + run.RUN_LIMIT_S)
    run_dir = os.path.join(SCRATCH, workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.copytree(src, run_dir, symlinks=True,
                    ignore=shutil.ignore_patterns("tmp", "spark-local"))
    return run_dir, data, json.load(open(os.path.join(run_dir, "result.json")))


def part_files(d, ext):
    return sorted(glob.glob(os.path.join(d, f"part-*{ext}")))


def edit_csv(path, fn):
    lines = open(path).read().splitlines(keepends=True)
    open(path, "w").write("".join(fn(lines)))


def recipe_cases(run_dir, data, result):
    star = os.path.join(run_dir, "recipe_warehouse", "r0", "star")

    def drop_star_row():
        edit_csv(part_files(os.path.join(star, "users.csv"), ".csv")[0], lambda l: l[:-1])

    def flip_report_status():
        def flip(lines):
            i = next(i for i, l in enumerate(lines) if ",PASS,OK," in l)
            lines[i] = lines[i].replace(",PASS,OK,", ",FAIL,OK,")
            return lines
        edit_csv(part_files(os.path.join(star, "validation_report.csv"), ".csv")[0], flip)

    def drop_warehouse_rows():
        f = part_files(os.path.join(run_dir, "recipe_warehouse", "r0", "warehouse",
                                    "steps"), ".parquet")[0]
        t = pq.read_table(f)
        pq.write_table(t.slice(1), f)

    def perturb_answer(r):
        op = next(o for o in r["rounds"][0]["ops"] if o["name"] == "ra7_active_users")
        op["extra"]["answer"][0][1] += 1
        return r

    return [("drop one star row (users.csv)", drop_star_row, None),
                   ("flip one report status", flip_report_status, None),
                   ("drop one warehouse row (steps)", drop_warehouse_rows, None),
                   ("perturb one analytics answer (ra7)", None, perturb_answer)]


def corpus_cases(run_dir, data, result):
    for rd in result["rounds"]:
        for op in rd["ops"]:
            op["extra"]["lake"] = op["extra"]["lake"].replace(
                os.path.join(WORK, "run", "corpus_hygiene"), run_dir)
    lake = result["rounds"][0]["ops"][0]["extra"]["lake"]

    def duplicate_lake_doc():
        f = part_files(os.path.join(lake, "split=train"), ".parquet")[0]
        t = pq.read_table(f)
        pq.write_table(t.slice(0, 1), os.path.join(lake, "split=train",
                                                   "part-99999-dup.zstd.parquet"))

    def perturb_report(r):
        r["rounds"][0]["ops"][0]["extra"]["report"]["after_near"] -= 1
        return r

    return [("duplicate one lake doc", duplicate_lake_doc, None),
                   ("perturb after_near in the report", None, perturb_report)]


def mix_cases(run_dir, data, result):
    results = os.path.join(run_dir, "query_mix", "results")

    def perturb_result():
        name = "j1_revenue_per_nation" if os.path.isdir(os.path.join(
            results, "j1_revenue_per_nation")) else sorted(
            d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d)))[0]
        f = next(f for f in part_files(os.path.join(results, name), ".parquet")
                 if pq.read_metadata(f).num_rows > 0)
        t = pq.read_table(f)
        col = t.column(0).to_pylist()
        col[0] = col[0] + 1 if isinstance(col[0], (int, float)) else str(col[0]) + "x"
        pq.write_table(t.set_column(0, t.schema.field(0), pa.array(col, t.schema.field(0).type)), f)

    return [("perturb one query result value", perturb_result, None)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for workload, cases in (("recipe_warehouse", recipe_cases),
                            ("corpus_hygiene", corpus_cases),
                            ("query_mix", mix_cases)):
        run_dir, data, result = fresh_run(workload, a.seed)
        corruptions = cases(run_dir, data, result)
        verdict = lambda r: run.outcome(workload, data, r, run_dir, False)
        line = verdict(copy.deepcopy(result))
        print(f"{workload}: untouched outputs -> correct {line['correct']}, "
              f"{line['failed']} of {line['attempted']} ops failed")
        ok &= line["correct"] and not line["failed"]
        pristine = run_dir + ".pristine"
        shutil.rmtree(pristine, ignore_errors=True)
        shutil.copytree(run_dir, pristine, symlinks=True)
        for label, on_disk, on_result in corruptions:
            shutil.rmtree(run_dir)
            shutil.copytree(pristine, run_dir, symlinks=True)
            r = copy.deepcopy(result)
            if on_disk:
                on_disk()
            if on_result:
                r = on_result(r)
            line = verdict(r)
            rejected = line["correct"] is False and line["failed"] > 0
            ok &= rejected
            print(f"  {label}: {'REJECTED' if rejected else 'NOT DETECTED'} "
                  f"(correct {line['correct']}, {line['failed']} ops failed)")
        shutil.rmtree(pristine)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
