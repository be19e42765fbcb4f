"""Correctness checks for the three workloads, run outside the timed region.

Every check compares the program's outputs with a computation made apart
from the program: the generators' own manifests, plain Python over the
generated inputs, or DuckDB (the analytics recomputed from the JSONL,
the registered oracle SQL run on the same tables). A failed check marks
the operations whose output it covers as failed.

DuckDB answers are cached per input seed under perfbench/.work/answers,
each entry with the SQL and inputs it came from;

    python3 perfbench/checks.py rebuild

recomputes every cached answer from scratch.
"""
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import sys
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ANSWERS = os.path.join(HERE, ".work", "answers")
STOPWORDS = {"the", "a", "of", "and", "to", "in", "is"}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


# ---------------------------------------------------------------- cache

def cached(kind, inputs, key, compute, **spec):
    """DuckDB answer `key` over `inputs`, computed once per input set.
    `spec` (the SQL, if any) is stored with the answer so `rebuild` can
    recompute it without the program."""
    tag = hashlib.sha1(json.dumps([os.path.abspath(inputs), key, spec],
                                  sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(ANSWERS, kind, f"{tag}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)["answer"]
    answer = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump({"kind": kind, "inputs": os.path.abspath(inputs), "key": key,
                     "spec": spec, "answer": answer}, f)
    os.replace(path + ".tmp", path)
    return answer


def rebuild():
    entries = []
    for path in glob.glob(os.path.join(ANSWERS, "*", "*.pkl")):
        with open(path, "rb") as f:
            e = pickle.load(f)
        entries.append(e)
    shutil.rmtree(ANSWERS, ignore_errors=True)
    n = 0
    for e in entries:
        if not os.path.isdir(e["inputs"]):
            continue
        fn = {"recipe": lambda: recipe_answers(e["inputs"]),
              "cp1": lambda: corpus_oracle(e["inputs"], e["spec"]["sql"]),
              "oracle": lambda: run_oracle(e["inputs"], e["spec"]["sql"])}[e["kind"]]
        cached(e["kind"], e["inputs"], e["key"], fn, **e["spec"])
        n += 1
    print(f"rebuilt {n} cached answers")


# -------------------------------------------------------- recipe_warehouse

def spark_round(x, digits=1):
    """Spark's round() on a double: HALF_UP on the shortest decimal form."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def recipe_answers(docs):
    """The 10 RecipeAnalytics answers recomputed by DuckDB from the JSONL."""
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE r AS SELECT * FROM read_json('{docs}/recipes.jsonl',
        format='newline_delimited', columns={{recipe_id: 'VARCHAR', title: 'VARCHAR',
        prep_time_minutes: 'INTEGER', difficulty: 'VARCHAR',
        ingredients: 'STRUCT(name VARCHAR, quantity DOUBLE, unit VARCHAR)[]',
        steps: 'VARCHAR[]'}})""")
    con.sql(f"""CREATE TABLE u AS SELECT * FROM read_json('{docs}/users.jsonl',
        format='newline_delimited', columns={{user_id: 'VARCHAR', username: 'VARCHAR'}})""")
    con.sql(f"""CREATE TABLE i AS SELECT * FROM read_json('{docs}/interactions.jsonl',
        format='newline_delimited', columns={{interaction_id: 'VARCHAR',
        user_id: 'VARCHAR', recipe_id: 'VARCHAR', type: 'VARCHAR'}})""")
    con.sql("CREATE TABLE g AS SELECT recipe_id, unnest(ingredients).name AS name FROM r")
    con.sql("CREATE TABLE s AS SELECT recipe_id, unnest(steps) AS instruction FROM r")
    q = lambda sql: [list(row) for row in con.sql(sql).fetchall()]

    def avg(sql):
        total, n = con.sql(sql).fetchone()
        return spark_round(float(total) / n)

    liked = "FROM i JOIN r USING (recipe_id) WHERE i.type = 'like'"
    views = "FROM i JOIN r USING (recipe_id) WHERE i.type = 'view'"
    return {
        "ra1_top_ingredients": q(
            "SELECT name, count(*) c FROM g GROUP BY name ORDER BY c DESC, name LIMIT 5"),
        "ra2_avg_prep_time": [[avg(
            "SELECT sum(prep_time_minutes), count(*) FROM r WHERE prep_time_minutes > 0")]],
        "ra3_difficulty_distribution": q(
            "SELECT difficulty, count(*) FROM r GROUP BY difficulty ORDER BY difficulty"),
        "ra4_liked_vs_global_prep": [[
            avg("SELECT sum(prep_time_minutes), count(prep_time_minutes) FROM r"),
            avg(f"SELECT sum(prep_time_minutes), count(prep_time_minutes) {liked}")]],
        "ra5_top_viewed_recipe": q(
            f"SELECT title, count(*) c {views} GROUP BY title ORDER BY c DESC, title LIMIT 1"),
        "ra6_liked_ingredients": q(
            "SELECT g.name, count(i.interaction_id) c FROM i JOIN g USING (recipe_id) "
            "WHERE i.type = 'like' GROUP BY g.name ORDER BY c DESC, g.name LIMIT 5"),
        "ra7_active_users": q(
            "SELECT username, count(*) c FROM i JOIN u USING (user_id) "
            "GROUP BY username ORDER BY c DESC, username LIMIT 3"),
        "ra8_most_complex_recipe": q(
            "SELECT title, count(*) c FROM r JOIN s USING (recipe_id) "
            "GROUP BY title ORDER BY c DESC, title LIMIT 1"),
        "ra9_avg_ingredient_count": [[avg(
            "SELECT sum(c), count(*) FROM (SELECT recipe_id, count(*) c FROM g GROUP BY recipe_id)")]],
        "ra10_views_by_difficulty": q(
            f"SELECT difficulty, count(*) c {views} GROUP BY difficulty ORDER BY c DESC, difficulty"),
    }


def csv_rows(path):
    return duckdb.sql(f"SELECT count(*) FROM read_csv('{path}/*.csv', header=true, "
                      "all_varchar=true)").fetchone()[0]


def report_problems(star, manifest):
    """The validation report against the planted faults: exactly the
    planted FAIL rows, with the reference's message text, and PASS/OK
    for every other record of every table."""
    rows = duckdb.sql(
        f"SELECT \"Table\", Record_ID, Status, Issues FROM read_csv("
        f"'{star}/validation_report.csv/*.csv', header=true, all_varchar=true)").fetchall()
    fails = Counter((t, r, i) for t, r, s, i in rows if s == "FAIL")
    want = Counter(tuple(x) for x in manifest["expected_fail"])
    problems = []
    if fails != want:
        extra, missing = fails - want, want - fails
        problems.append(f"report FAIL rows differ: {len(extra)} unexpected "
                        f"(e.g. {list(extra)[:2]}), {len(missing)} missing "
                        f"(e.g. {list(missing)[:2]})")
    bad = [r for r in rows if r[2] not in ("PASS", "FAIL") or
           (r[2] == "PASS") != (r[3] == "OK")]
    if bad:
        problems.append(f"{len(bad)} report rows with inconsistent status, e.g. {bad[0]}")
    table_of = {"Users": "users", "Recipes": "recipes", "Interactions": "interactions",
                "Ingredients": "ingredients", "Steps": "steps"}
    per_table = Counter(table_of.get(r[0], r[0]) for r in rows)
    if dict(per_table) != manifest["star_rows"]:
        problems.append(f"report covers {dict(per_table)} records, expected "
                        f"{manifest['star_rows']}")
    return problems


def check_recipe(result, docs, run_dir):
    """Returns (failed op ids, problems)."""
    manifest = json.load(open(f"{docs}/manifest.json"))
    star_rows = manifest["star_rows"]
    expected = cached("recipe", docs, "analytics", lambda: recipe_answers(docs))
    files = {"users": "users.csv", "recipes": "recipe.csv", "ingredients": "ingredients.csv",
             "steps": "steps.csv", "interactions": "interactions.csv"}
    failed, problems = set(), []
    for i, rd in enumerate(result["rounds"]):
        base = f"{run_dir}/recipe_warehouse/r{i}"
        for op in rd["ops"]:
            p = []
            if op["error"]:
                p.append(f"{op['name']} raised: {op['error']}")
            elif op["kind"] == "etl":
                if op["extra"]["star_rows"] != star_rows:
                    p.append(f"RecipeEtl.run counts {op['extra']['star_rows']} != {star_rows}")
                got = {t: csv_rows(f"{base}/star/{f}") for t, f in files.items()}
                if got != star_rows:
                    p.append(f"star CSV rows {got} != {star_rows}")
                p += report_problems(f"{base}/star", manifest)
            elif op["kind"] == "refresh":
                if op["extra"]["readback"] != star_rows:
                    p.append(f"load read-back {op['extra']['readback']} != {star_rows}")
                got = {t: duckdb.sql(f"SELECT count(*) FROM '{base}/warehouse/{t}/*.parquet'")
                       .fetchone()[0] for t in star_rows}
                if got != star_rows:
                    p.append(f"warehouse rows {got} != {star_rows}")
            elif op["kind"] == "query":
                if op["extra"]["answer"] != expected[op["name"]]:
                    p.append(f"{op['name']} answered {op['extra']['answer']}, "
                             f"DuckDB {expected[op['name']]}")
            if p:
                failed.add(op["id"])
                problems += [f"round {i} {op['id']}: {x}" for x in p]
    return failed, problems


# ---------------------------------------------------------- corpus_hygiene

def corpus_oracle(corpus, sql):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    rel = con.sql(sql)
    return dict(zip(rel.columns, rel.fetchone()))


def split_of(doc_id):
    """The documented 80/10/10 split: md5('split:<id>') bucket, apart
    from the program."""
    b = int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:8], 16) % 100
    return "train" if b < 80 else ("val" if b < 90 else "test")


def corpus_counts(corpus):
    """input / quality / language / exact-dedup counts in plain Python."""
    t = pq.read_table(f"{corpus}/documents.parquet").to_pydict()
    n_q = n_en = 0
    fps = set()
    for text, lang in zip(t["text"], t["lang"]):
        toks = text.split(" ")
        stops = sum(1 for w in toks if w in STOPWORDS)
        if len(toks) >= 20 and 4 * stops <= len(toks):
            n_q += 1
            if lang == "en":
                n_en += 1
                fps.add(hashlib.md5(text.encode()).hexdigest())
    texts = dict(zip(t["doc_id"], t["text"]))
    return {"input": len(t["doc_id"]), "after_quality": n_q, "after_lang": n_en,
            "after_exact": len(fps)}, texts


def check_corpus(result, corpus, cp1_sql):
    counts, texts = corpus_counts(corpus)
    oracle = cached("cp1", corpus, "cp1", lambda: corpus_oracle(corpus, cp1_sql), sql=cp1_sql)
    failed, problems = set(), []
    for i, rd in enumerate(result["rounds"]):
        for op in rd["ops"]:
            p = []
            if op["error"]:
                p.append(f"raised: {op['error']}")
            else:
                rep = op["extra"]["report"]
                for k, v in counts.items():
                    if rep[k] != v:
                        p.append(f"{k} {rep[k]} != {v} (recomputed)")
                for k in ("after_near", "train", "val", "test", "test_clean"):
                    if rep[k] != oracle[k]:
                        p.append(f"{k} {rep[k]} != {oracle[k]} (cp1 oracle in DuckDB)")
                p += lake_problems(op["extra"]["lake"], rep, texts)
            if p:
                failed.add(op["id"])
                problems += [f"round {i} {op['id']}: {x}" for x in p]
    return failed, problems


def lake_problems(lake, rep, texts):
    t = ds.dataset(lake, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "text", "split"]).to_pydict()
    p = []
    n = len(t["doc_id"])
    if n != rep["train"] + rep["val"] + rep["test_clean"]:
        p.append(f"lake rows {n} != train + val + test_clean")
    per = Counter(t["split"])
    want = {"train": rep["train"], "val": rep["val"], "test": rep["test_clean"]}
    if {k: per.get(k, 0) for k in want} != want:
        p.append(f"lake splits {dict(per)} != {want}")
    fps = Counter(hashlib.md5(x.encode()).hexdigest() for x in t["text"])
    dup = sum(c - 1 for c in fps.values() if c > 1)
    if dup:
        p.append(f"{dup} lake docs share md5(text) with another")
    wrong = sum(1 for d, x, s in zip(t["doc_id"], t["text"], t["split"])
                if texts.get(d) != x or split_of(d) != s)
    if wrong:
        p.append(f"{wrong} lake docs differ from their input text or split")
    return p


# --------------------------------------------------------------- query_mix

def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def sort_key(row):
    return [(v is None, str(type(v)), str(v)) for v in row]


def cols_types_rows(rel):
    """(sorted cols, {col: type}, sorted rows in sorted-col order): the
    comparison tools/check.py makes, column types included."""
    cols = list(rel.columns)
    types = {c: str(t) for c, t in zip(cols, rel.types)}
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(norm(r[i]) for i in order) for r in rel.fetchall()), key=sort_key)
    return sorted(cols), types, rows


def connect_tables(tables):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    return con


def run_oracle(tables, sql):
    con = connect_tables(tables)
    return cols_types_rows(con.sql(sql))


def check_mix(result, tables, results_dir):
    oracles = json.load(open(f"{results_dir}/oracle_sql.json"))
    names = {op["name"] for rd in result["rounds"] for op in rd["ops"]}
    errors = result["info"].get("check_errors", {})
    bad = {}
    for name in sorted(names):
        if name in errors:
            bad[name] = f"correctness pass raised: {errors[name]}"
            continue
        if name not in oracles:
            bad[name] = "no oracle SQL"
            continue
        try:
            ecols, etypes, erows = cached("oracle", tables, name,
                                          lambda: run_oracle(tables, oracles[name]),
                                          sql=oracles[name])
            gcols, gtypes, grows = cols_types_rows(
                duckdb.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'"))
        except Exception as e:                      # noqa: BLE001
            bad[name] = f"compare failed: {e}"
            continue
        if ecols != gcols:
            bad[name] = f"columns {gcols} != oracle {ecols}"
        elif etypes != gtypes:
            bad[name] = f"types {gtypes} != oracle {etypes}"
        elif erows != grows:
            diff = next(((a, b) for a, b in zip(erows, grows) if a != b), None)
            bad[name] = f"{len(grows)} rows vs oracle {len(erows)}; first diff {diff}"
    failed, problems = set(), [f"{n}: {m}" for n, m in bad.items()]
    for rd in result["rounds"]:
        for op in rd["ops"]:
            if op["error"] or op["name"] in bad:
                failed.add(op["id"])
            if op["error"]:
                problems.append(f"{op['id']} {op['name']} raised: {op['error']}")
    return failed, problems


if __name__ == "__main__":
    if sys.argv[1:] == ["rebuild"]:
        rebuild()
    else:
        sys.exit(__doc__)
