#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (src/main/scala) and then the benchmark
harness (perfbench/src) with the Scala compiler that ships among the Spark
jars named by the root build.sbt (`unmanagedBase`). Outputs go under
perfbench/.build; a content hash of every input makes a rebuild a no-op when
nothing changed.

Usage (from the repository root): python3 perfbench/build.py
Prints the runtime classpath on stdout. Delete perfbench/.build to force a
rebuild.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the program's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if os.path.isdir(c):
            return c
    raise BuildError("cannot locate the Spark jars (build.sbt unmanagedBase / SPARK_HOME)")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, srcs):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile when needed; return the runtime classpath string."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise BuildError("no src/main/scala at the repository root")
    jars = spark_jars()
    graft_srcs = sources(main_src)
    bench_srcs = sources(os.path.join(HERE, "src"))
    graft_out = os.path.join(BUILD, "graft")
    bench_out = os.path.join(BUILD, "bench")
    os.makedirs(BUILD, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    for name, srcs, out, cp in [
            ("graft", graft_srcs, graft_out, jar_cp),
            ("bench", graft_srcs + bench_srcs, bench_out,
             os.pathsep.join([jar_cp, graft_out]))]:
        key = stamp(srcs + [os.path.join(ROOT, "build.sbt")])
        stamp_file = out + ".stamp"
        fresh = (os.path.isdir(out) and os.path.isfile(stamp_file)
                 and open(stamp_file).read() == key)
        if not fresh:
            todo = bench_srcs if name == "bench" else srcs
            sys.stderr.write(f"[build] compiling {name} ({len(todo)} files)\n")
            scalac(jars, cp, out, todo)
            with open(stamp_file, "w") as f:
                f.write(key)
    return os.pathsep.join([bench_out, graft_out, resources, jar_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"[build] {e}\n")
        sys.exit(2)
