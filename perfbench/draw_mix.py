"""Draw the query_mix sequence once and record it in query_mix.json.

The family weights come from a timed pass over the tables the workload
runs on: perfbench.Sweep stages every benched registry query's fixture
on the tables generated from SWEEP_SEED, runs each query once to warm
up, then times it three times through the noop sink (median per query).
That pass is written to sweep.json; delete it to time a new one.

The mix covers the TOP registry families (query-name prefix letters)
with the largest share of the sweep's time and splits its SIZE slots
between them in proportion to that share (at least one slot each,
largest-remainder rounding). Each family is represented by one query,
drawn uniformly from its benched queries with SEED, which fills all of
the family's slots: every distinct query costs a cold first run plus its
fixture staging in the untimed correctness pass, and the run budget
affords about fifteen. The whole sequence is then shuffled.

    python3 perfbench/draw_mix.py
"""
import json
import os
import random
import re
import shutil
import subprocess
from collections import defaultdict

import run

SEED = 20261018
SWEEP_SEED = 1
SIZE = 30
TOP = 15
SWEEP = os.path.join(run.HERE, "sweep.json")


def family(name):
    return re.match(r"[a-z]+", name).group(0)


def sweep():
    """Time every benched query on the generated tables (see above)."""
    cp = run.build()
    tables = run.inputs("query_mix", SWEEP_SEED)
    work = os.path.join(run.WORK, "sweep")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "sweep.json")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        subprocess.run(run.java(cp, work, "perfbench.Sweep") + [
            "--tables", tables, "--work", work, "--cores", str(run.CORES), "--out", out],
            cwd=work, check=True, stdout=log, stderr=subprocess.STDOUT)
    timed = json.load(open(out))
    timed.update({"tables_seed": SWEEP_SEED, "passes": 3, "cores": run.CORES})
    with open(SWEEP, "w") as f:
        json.dump(timed, f, indent=1, sort_keys=True)
        f.write("\n")


def draw(timed):
    walls = {k: v for k, v in timed["wall_s"].items() if k not in timed["errors"]}
    fams = defaultdict(list)
    for k in sorted(walls):
        fams[family(k)].append(k)
    total = sum(walls.values())
    share = {f: sum(walls[q] for q in qs) / total for f, qs in fams.items()}
    keep = sorted(fams, key=lambda f: (-share[f], f))[:TOP]
    fams = {f: fams[f] for f in keep}
    spare = SIZE - len(fams)
    scale = sum(share[f] for f in fams)
    quota = {f: share[f] / scale * spare for f in fams}
    alloc = {f: 1 + int(quota[f]) for f in fams}
    left = SIZE - sum(alloc.values())
    for f in sorted(fams, key=lambda f: (-(quota[f] - int(quota[f])), f))[:left]:
        alloc[f] += 1
    rnd = random.Random(SEED)
    seq = []
    for f in sorted(fams):
        seq += [rnd.choice(fams[f])] * alloc[f]
    rnd.shuffle(seq)
    return {"seed": SEED, "size": SIZE, "top_families": TOP,
            "source": "sweep.json",
            "covered_share": round(sum(share[f] for f in fams), 4),
            "families": {f: {"share": round(share[f], 4), "queries": alloc[f]}
                         for f in sorted(fams)},
            "queries": seq}


if __name__ == "__main__":
    if not os.path.exists(SWEEP):
        sweep()
    mix = draw(json.load(open(SWEEP)))
    with open(os.path.join(run.HERE, "query_mix.json"), "w") as f:
        json.dump(mix, f, indent=1)
        f.write("\n")
