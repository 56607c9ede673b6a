#!/usr/bin/env python3
"""Run one benchmark workload of this repository.

    python3 perfbench/run.py --workload lake_daily --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run compiles the library
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/perfbench/<source hash>/; later runs reuse that build.
Spark's jars come from $SPARK_HOME/jars, else from the installed pyspark
package. Everything a run writes stays under .bench_build/.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; the metric names are checked against BENCHMARK.json. Any
failure exits non-zero without printing it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
# A fixed heap, so heap resizing does not move the timings; the traced
# run also bootstraps and applies curation deltas, which need more.
HEAP = {0: "1g", 1: "2g"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        die("no Spark: set SPARK_HOME or install pyspark")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not lib:
        die("library sources src/main/scala not found; run from the repository root")
    return lib + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(out, "compile.log")
    cp = os.path.join(jars, "*")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT, cwd=out)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"compile failed ({rc})")
    open(os.path.join(out, "done"), "w").close()
    return classes


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    want = expected_metrics(a.trace)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    cmd = (["java", f"-Xms{HEAP[a.trace]}", f"-Xmx{HEAP[a.trace]}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--data", os.path.join(HERE, "data"),
              "--spans", os.path.join(BUILD, "spans", f"{a.workload}.jsonl")])
    err_path = os.path.join(logs, f"{a.workload}.stderr")
    proc = None
    try:
        with open(err_path, "w") as err:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
            # scratch inside the work directory either way
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {RUN_LIMIT_S} s; stderr in {err_path}")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark process exited {proc.returncode}")
    result = json.loads(lines[-1])
    got = set(result["metrics"])
    if got != want:
        die(f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
            f"extra {sorted(got - want)}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
