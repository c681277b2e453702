#!/usr/bin/env python3
"""Benchmark entry point: builds the engine from source, makes the
workload's inputs from the seed, runs one workload in one JVM and prints
one JSON result line.

    python3 perfbench/run.py --workload door_backlog|mq_relay|registry_sweep \
        --seed N --seconds S --trace 0|1

Run from the repository root. Build outputs and per-run scratch go under
$CARGO_TARGET_DIR (default .bench_build). With --trace 0 the result holds
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics; see perfbench/README.md for what each one measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("door_backlog", "mq_relay", "registry_sweep")
CORPUS_DOCS = 5000  # the sf0.1 documents table size
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


SWEEP_SRC = os.path.join(HERE, "src", "sweep")


def sources(root):
    """The engine's sources and the benchmark's, without the sweep's."""
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            if not d.startswith(SWEEP_SRC):
                out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars of $SPARK_HOME, else of the first spark-submit on the PATH
    that sits in a Spark installation (pip's pyspark shim does not)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    jars = next((os.path.join(h, "jars") for h in homes
                 if h and os.path.isdir(os.path.join(h, "jars"))), None)
    if jars is None:
        fail("no Spark installation found (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def scalac(dest, classpath, files):
    """Compiles with the Scala compiler that ships with Spark."""
    os.makedirs(dest)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", classpath] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compilation failed")


def build(root, out):
    """Compiles the engine and the door and relay benchmarks, unless the
    sources are unchanged since the last build. Returns the build's hash."""
    srcs = sources(root)
    h = digest(srcs)
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h:
        return h
    log("building engine and benchmark from source")
    t0 = time.time()
    cp = ":".join(spark_jars())
    shutil.rmtree(out, ignore_errors=True)
    engine, bench = os.path.join(out, "engine"), os.path.join(out, "bench")
    main_src = os.path.join(root, "src", "main")
    scalac(engine, cp, [f for f in srcs if f.startswith(main_src) and f.endswith(".scala")])
    res = os.path.join(main_src, "resources")
    if os.path.isdir(res):
        shutil.copytree(res, engine, dirs_exist_ok=True)
    scalac(bench, f"{engine}:{cp}",
           [f for f in srcs if f.startswith(os.path.join(HERE, "src"))])
    with open(stamp, "w") as fh:
        fh.write(h)
    log(f"built in {time.time() - t0:.0f} s")
    return h


def build_sweep(out, main_hash):
    """Compiles the sweep against the main build and exports its panel's
    oracle SQL, only for registry_sweep runs, so that neither the sweep
    code nor the registry's oracles can break the other workloads."""
    srcs = sorted(os.path.join(d, f) for d, _, fs in os.walk(SWEEP_SRC) for f in fs)
    h = digest(srcs, main_hash)
    sweep = os.path.join(out, "sweep")
    stamp = os.path.join(sweep, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h:
        return
    log("building the sweep")
    shutil.rmtree(sweep, ignore_errors=True)
    cp = f"{out}/bench:{out}/engine:" + ":".join(spark_jars())
    scalac(os.path.join(sweep, "classes"), cp, srcs)
    sql = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{sweep}/classes:{cp}",
                          "perfbench.Oracles"], capture_output=True, text=True)
    if sql.returncode != 0:
        fail(f"oracle export failed: {sql.stderr[-2000:]}")
    with open(os.path.join(sweep, "panel_sql.json"), "w") as fh:
        fh.write(sql.stdout)
    with open(stamp, "w") as fh:
        fh.write(h)


def duckdb_references(data, ref, panel_sql):
    """The panel's oracle results over the generated tables, computed by
    DuckDB outside the timed region (the tools/check.py comparison)."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, f)}')")
    os.makedirs(ref)
    for q, sql in panel_sql.items():
        try:
            con.execute(f"COPY ({sql}) TO '{os.path.join(ref, q)}.parquet' (FORMAT PARQUET)")
        except Exception as e:  # the JVM counts the missing reference as a failure
            log(f"oracle {q} failed in DuckDB: {e}")


def run_jvm(out, work, args, cores):
    jars = ":".join(spark_jars())
    data = os.path.join(work, "data")
    work = os.path.join(work, "jvm")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if args.workload == "registry_sweep":
        entry = [f"{out}/sweep/classes:{out}/bench:{out}/engine:{jars}", "perfbench.SweepMain"]
    else:
        entry = [f"{out}/bench:{out}/engine:{jars}", "perfbench.Main"]
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dderby.system.home=" + tmp]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp"] + entry
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", data, "--cores", str(cores)])
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{args.workload} JVM did not finish in {JVM_TIMEOUT_S} s")
    with open(os.path.join(work, "jvm.log")) as fh:
        lines = fh.read().splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    result = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not result:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"{args.workload} JVM exited with {p.returncode}")
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail(f"{root} holds no engine sources (src/main/scala, build.sbt); "
             "run from the repository root")
    try:
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(out, "perfbench")
    main_hash = build(root, out)
    if args.workload == "registry_sweep":
        build_sweep(out, main_hash)

    # one CPU fewer than the process may use, left to the Spark driver, GC
    # and JIT threads, which the tasks otherwise compete with; the door runs
    # no slower for it
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    work = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        import gen
        if args.workload == "door_backlog":
            gen.write(data, args.seed, docs=CORPUS_DOCS, only={"documents"})
        elif args.workload == "registry_sweep":
            gen.write(data, args.seed)
            duckdb_references(data, os.path.join(work, "ref"),
                              json.load(open(os.path.join(out, "sweep", "panel_sql.json"))))
        else:
            os.makedirs(data)
        res = run_jvm(out, work, args, cores)
        if args.trace:
            spans = os.path.join(work, "jvm", "spans.jsonl")
            if os.path.exists(spans):
                dest = os.path.join(out, "spans", f"{args.workload}-seed{args.seed}.jsonl")
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copy(spans, dest)
                log(f"spans written to {dest}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["layers"] if args.trace else res["e2e"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"the run produced no value for {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
