#!/usr/bin/env python3
"""Layered benchmark of the graft query library.

Run from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 60 --trace 0

The first run builds the library and the harness from source with the
Scala compiler that ships in Spark's jars (into .bench_build/perfbench)
and generates the fixed synthetic corpus; later runs reuse both while the
sources are unchanged. Each run then starts one JVM (local[4]) that sets
up a Spark session, answers a first query, runs one cold pass of the
workload's ops and the workload's fixed number of warm passes
(workloads.json); --seconds only caps the warm passes.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 the harness also registers listeners and the line carries the
per-layer metrics. Every run's op spans are kept under
.bench_build/perfbench/results for perfbench/layers.py.

Every op's output is checked in the same execution that is timed; a
wrong or failed op makes the run exit with code 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import metrics  # noqa: E402

CPUS = 4
HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(root, "build.sbt")).read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("cannot find Spark's jars (set SPARK_HOME)")


def sources(root):
    out = []
    for base in ("src/main/scala", "src/main/java", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root, jars, out):
    """Compiles the library and the harness unless the sources are
    unchanged since the last build."""
    srcs = sources(root)
    lib = [s for s in srcs if "/src/main/" in s]
    if not lib:
        fail("no library sources under src/main; run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    scalac = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
              "-nowarn", "-d", classes, "-classpath", cp + os.pathsep + classes]
    t0 = time.time()
    r = subprocess.run(scalac + srcs, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    java = [s for s in srcs if s.endswith(".java")]
    if java:
        r = subprocess.run(["javac", "-nowarn", "-d", classes, "-cp",
                            cp + os.pathsep + classes] + java,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("javac failed")
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def corpus(out):
    """The fixed corpus, regenerated only when its generator changes."""
    d = os.path.join(out, "corpus")
    stamp = hashlib.sha256(open(gen_corpus.__file__, "rb").read()).hexdigest()
    sf = os.path.join(d, "gen.stamp")
    if not (os.path.exists(sf) and open(sf).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen_corpus.generate(d)
        with open(sf, "w") as fh:
            fh.write(stamp)
    return d


LABELLED_TABLES = 4


def labelled_table(path, table, rows=8000):
    """Labelled table number `table` (of LABELLED_TABLES) for the
    discretizers: three classes and four features with different class
    structure (shifted normals, a uniform with class-dependent bands, pure
    noise, class-scaled exponentials), all on a 0.001 grid. The tables are
    fixed, so that expected.json can hold each discretizer's cut points
    for each; the workload seed picks one."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([gen_corpus.CORPUS_SEED, table])
    y = rng.integers(0, 3, rows)
    f0 = rng.normal(1.5 * y, 1.0)
    f1 = np.where(rng.random(rows) < 0.8, y + rng.random(rows), 3 * rng.random(rows))
    f2 = rng.normal(0.0, 1.0, rows)
    f3 = rng.exponential(1.0 + y, rows)
    cols = {f"f{i}": np.round(f, 3) for i, f in enumerate((f0, f1, f2, f3))}
    cols["label"] = y.astype(np.int32)
    pq.write_table(pa.table(cols), path)
    return rows


def members(workload, table):
    """The workload's spec, and the expected results the harness checks
    against: one line per member query and, for the discretizers, one
    per algorithm on labelled table `table`."""
    spec = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"][workload]
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    lines = []
    for q in spec.get("queries", []):
        e = expected["queries"][q]
        lines.append("\t".join([q, e["check"], str(e["rows"]), e["hash"], e["schema"]]))
    disc = []
    if spec.get("discretizers"):
        for algo, e in sorted(expected["discretizers"][str(table)].items()):
            disc.append("\t".join([algo, e["boundaries"], str(e["rows"]), e["hash"]]))
    return spec, "\n".join(lines) + "\n", "\n".join(disc) + "\n"


def run_jvm(root, jars, out, work, args, deadline):
    cp = os.pathsep.join([os.path.join(out, "classes"), os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness"] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))])
    log = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness exceeded its deadline")
    finally:
        log.close()
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with code {rc}")
    return t0, json.load(open(args["out"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    table = a.seed % LABELLED_TABLES
    spec, member_tsv, disc_tsv = members(a.workload, table)
    jars = spark_jars(root)
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    built = build(root, jars, out)
    corp = corpus(out)
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with open(os.path.join(work, "members.tsv"), "w") as fh:
            fh.write(member_tsv)
        with open(os.path.join(work, "disc.tsv"), "w") as fh:
            fh.write(disc_tsv)
        labelled_rows = 0
        lab = os.path.join(work, "labelled.parquet")
        if spec.get("discretizers"):
            labelled_rows = labelled_table(lab, table)
        jvm_args = {
            "mode": "run", "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "cpus": CPUS,
            "warm_passes": spec["warm_passes"], "corpus": corp, "work": work,
            "members": os.path.join(work, "members.tsv"), "labelled": lab,
            "disc_expected": os.path.join(work, "disc.tsv"),
            "out": os.path.join(work, "result.json"),
        }
        # a run that had to build first still gets its full window
        deadline = (time.time() if built else start) + DEADLINE_S
        launched, res = run_jvm(root, jars, out, work, jvm_args, deadline)
        # every run's op spans are kept for perfbench/layers.py
        rdir = os.path.join(out, "results")
        os.makedirs(rdir, exist_ok=True)
        shutil.copy(jvm_args["out"], os.path.join(
            rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = metrics.compute(res, launched, CPUS, labelled_rows)
    metrics.print_table(m, a.workload, a.trace)
    declared = json.load(open(os.path.join(root, "BENCHMARK.json")))
    names = [x["name"] for x in declared["per_layer" if a.trace else "end_to_end"]]
    units = {x["name"]: x["unit"] for x in declared["end_to_end"] + declared["per_layer"]}
    vals = m["layer"] if a.trace else m["e2e"]
    line = {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {n: {"value": vals[n][0], "unit": units[n]} for n in names},
    }
    print(json.dumps(line))
    if m["failed"]:
        for e in m["errors"][:20]:
            print(f"perfbench: wrong or failed op: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
