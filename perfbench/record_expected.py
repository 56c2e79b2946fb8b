#!/usr/bin/env python3
"""Records the expected result of every query the workloads run.

Run from the repository root after a change that is meant to alter query
results or the corpus:

    python3 perfbench/record_expected.py

It builds the library like run.py, then runs every member query of
workloads.json on the fixed corpus in two JVMs with different query
orders. For each query it records rows, content hash and schema hash
(perfbench/expected.json). In the same two JVMs it fits CAIM, MDLP and
Ameva on each of run.py's fixed labelled tables and records the cut
points and the transform's rows and hash, which must agree between the
JVMs. Queries with a DuckDB oracle are cross-checked
once: their Spark output is compared, as a multiset of rows, with DuckDB's
answer to the oracle SQL over the same corpus. A query is hash-checked
when it has an oracle, matches DuckDB and gave the same hash in both
JVMs; the rest (the capability queries, whose outputs depend on float
ranking ties or sampling) are checked on rows and schema only.
"""
import decimal
import glob
import json
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def survey(root, jars, out, corp, names, tables, dump=None):
    work = os.path.join(out, "work", f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"mode": "survey", "queries": ",".join(names), "corpus": corp,
            "labelled": ",".join(tables),
            "work": work, "cpus": run.CPUS, "out": os.path.join(work, "survey.json")}
    if dump:
        args["dump"] = dump
    try:
        _, res = run.run_jvm(root, jars, out, work, args, deadline=1e18)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    disc = {}
    for d in res["discretizers"]:
        disc.setdefault(str(d["table"]), {})[d["algo"]] = {
            k: d[k] for k in ("boundaries", "rows", "hash")}
    return {q["name"]: q for q in res["queries"]}, disc


def norm(v):
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        f = float(v)
        return "nan" if f != f else f
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    return v


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def duck_check(corp, dump, name):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(f"{corp}/*.parquet"):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    files = glob.glob(f"{dump}/{name}/*.parquet")
    if not files:
        return "no spark output"
    got_cols, got = rows_of(con, f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')")
    exp_cols, exp = rows_of(con, open(f"{dump}/{name}.sql").read())
    if got_cols != exp_cols:
        return f"columns {got_cols} vs {exp_cols}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    bad = sum(1 for g, e in zip(got, exp) if g != e)
    return "match" if bad == 0 else f"{bad} rows differ"


def main():
    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    names = sorted({q for w in spec.values() for q in w.get("queries", [])})
    jars = run.spark_jars(root)
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    run.build(root, jars, out)
    corp = run.corpus(out)
    dump = os.path.join(out, "work", "dump")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    tables = [os.path.join(dump, f"labelled{t}.parquet") for t in range(run.LABELLED_TABLES)]
    for t, path in enumerate(tables):
        run.labelled_table(path, t)
    first, disc = survey(root, jars, out, corp, names, tables, dump)
    second, disc2 = survey(root, jars, out, corp,
                           random.Random(1).sample(names, len(names)), tables)
    if disc != disc2:
        sys.exit("discretizer outcomes differ between the two JVMs")
    expected = {}
    for n in names:
        a, b = first[n], second[n]
        if "error" in a or "error" in b:
            sys.exit(f"{n} failed: {a.get('error') or b.get('error')}")
        duck = duck_check(corp, dump, n) if a["oracle"] else "n/a"
        stable = a["hash"] == b["hash"] and a["rows"] == b["rows"]
        if a["rows"] != b["rows"]:
            sys.exit(f"{n}: row count differs between runs ({a['rows']} vs {b['rows']})")
        if a["oracle"] and duck != "match":
            sys.exit(f"{n}: DuckDB cross-check failed: {duck}")
        expected[n] = {
            "check": "hash" if a["oracle"] and stable else "rows",
            "rows": a["rows"], "hash": a["hash"], "schema": a["schema"],
            "oracle": a["oracle"], "duckdb": duck,
        }
        print(f"{n:28} {expected[n]['check']:5} rows={a['rows']:<7} duckdb={duck}")
    for t, algos in sorted(disc.items()):
        cuts = {k: v["boundaries"].count(",") for k, v in sorted(algos.items())}
        print(f"labelled table {t}: cut-point commas per algorithm {cuts}")
    shutil.rmtree(dump, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"corpus": {"generator": "perfbench/gen_corpus.py",
                              "seed": run.gen_corpus.CORPUS_SEED, "scale": 0.01},
                   "queries": expected, "discretizers": disc},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
