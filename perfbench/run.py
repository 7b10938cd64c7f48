#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness on first use (perfbench/build.py), then
runs the workload in one JVM on local[nproc]. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics. Inputs,
collections and Spark scratch live in a temporary directory under
perfbench/.work that is removed at exit; spans, the plan-shape ledger and
host details of the run go to perfbench/.out/<workload>-s<seed>-t<trace>/.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["connector_ops", "catalog_ops"]
JVM_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    sys.stderr.write(f"[bench] {msg}\n")
    sys.exit(2)


def load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def jvm_command(classpath, args, work, out):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
           "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    return cmd


def oracle_check(out, gen):
    """Compare each catalog query's first result with its DuckDB oracle over
    the generated tables in `gen`, in tools/check.py's canonical form.
    Returns the names that differ."""
    import duckdb
    check = load(os.path.join(ROOT, "tools", "check.py"), "graft_check")
    con = duckdb.connect()
    for t in ["lineitem", "documents"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{gen}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracle.items()):
        res = os.path.join(out, "results", name)
        try:
            sp = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')")
            sp_rows, sp_cols = sp.fetchall(), [d[0] for d in sp.description]
            du = con.execute(sql)
            du_rows, du_cols = du.fetchall(), [d[0] for d in du.description]
            ok = (sorted(sp_cols) == sorted(du_cols) and
                  check.canon(sp_rows, sp_cols) == check.canon(du_rows, du_cols))
        except Exception as e:  # a query the oracle cannot run is a failure
            sys.stderr.write(f"[bench] oracle {name}: {e}\n")
            ok = False
        if not ok:
            sys.stderr.write(f"[bench] FAILED {name}: differs from its DuckDB oracle\n")
            bad.append(name)
    return bad


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json at the repository root")
    spec = json.load(open(spec_path))
    build_mod = load(os.path.join(HERE, "build.py"), "graft_bench_build")
    try:
        classpath = build_mod.build()
    except build_mod.BuildError as e:
        fail(f"build: {e}")

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    out = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    proc = None

    def stop(signum, _frame):
        # leave no JVM or temp data behind when stopped from outside
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm_command(classpath, args, work, out),
                                    stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"the JVM ran past {JVM_TIMEOUT_S} s")
        lines = [l for l in stdout.splitlines() if l.startswith(("RESULT ", "HOST "))]
        if proc.returncode != 0 or not lines or not lines[-1].startswith("RESULT "):
            sys.stderr.write(open(log_path).read()[-6000:])
            fail(f"the JVM exited with {proc.returncode} and no result")
        for l in open(log_path):
            if l.startswith("[bench]"):
                sys.stderr.write(l)
        host = next((l[5:] for l in lines if l.startswith("HOST ")), "{}")
        result = json.loads(lines[-1][7:])
        if args.workload == "catalog_ops":
            bad = oracle_check(out, json.loads(host)["gen_dir"])
            if bad:
                result["correct"] = False
                result["failed"] += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every metric BENCHMARK.json names for this mode, with its unit; a
    # per-layer metric of a layer this workload does not exercise reads 0
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] not in got and not args.trace:
            fail(f"end-to-end metric {m['name']} missing")
        v = got.get(m["name"], {}).get("value", 0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("host " + host)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
