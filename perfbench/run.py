#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload launch_backfill --seed 1 \
        --seconds 15 --trace 0

Workloads: launch_backfill, catalog_sf1 (the two BENCHMARK.json lists) and
curation_loop (same command, run by hand; a traced launch_backfill run also
runs it after its own timed phase; see perfbench/README.md).

Steps, all inside the checkout:
  1. build: compile src/main/scala plus perfbench/src with the Scala
     compiler that ships with the Spark jars build.sbt names, into
     .bench_build/classes-<source hash> (reused while sources are unchanged);
  2. data: derive the sf1 corpus from perfbench/data/sf0.1 with
     tools/make_sf1.py into .bench_build/sf1 (reused while inputs are
     unchanged);
  3. run one JVM (local[nproc], SPARK_GRAFT_CPUS=nproc) with every zone,
     state table, warehouse and Spark scratch directory under a fresh
     .bench_build/run-* directory, deleted afterwards.

The last line of stdout is the result JSON. The run record (inputs,
per-operation and per-layer times, correctness detail) goes to
.bench_build/out/<workload>-s<seed>-t<trace>.json, and a traced run also
writes <workload>-s<seed>.spans.jsonl there. A traced run whose untraced
twin (same workload and seed) has a record adds the tracing overhead,
traced minus untraced, for every end-to-end metric to its record.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("launch_backfill", "catalog_sf1", "curation_loop")
JVM_TIMEOUT_S = 170
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
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        die("build.sbt not found: run from a full checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")) or \
            not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark and Scala compiler jars under {jars}")
    return jars


def sources():
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any("/src/main/scala/" in f for f in found):
        die("src/main/scala not found: run from a full checkout of the repository")
    return sorted(found)


def digest_files(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(jars):
    srcs = sources()
    resources = [os.path.join(HERE, "catalog_sf1_digests.tsv")]
    key = digest_files(srcs + resources, extra=" ".join(sorted(os.listdir(jars))))
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation failed")
    res = os.path.join(out, "perfbench")
    os.makedirs(res, exist_ok=True)
    for f in resources:
        shutil.copy(f, res)
    open(os.path.join(out, ".complete"), "w").close()
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.0f} s",
          file=sys.stderr)
    return out


def sf1_data():
    src = os.path.join(HERE, "data", "sf0.1")
    tool = os.path.join(ROOT, "tools", "make_sf1.py")
    tables = sorted(glob.glob(os.path.join(src, "*.parquet")))
    if not tables or not os.path.isfile(tool):
        die("perfbench/data/sf0.1 or tools/make_sf1.py missing")
    key = digest_files(tables + [tool])
    dst = os.path.join(BUILD, "sf1")
    stamp = os.path.join(dst, ".source")
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run([sys.executable, tool, src, tmp, "10"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("deriving the sf1 corpus failed")
    with open(os.path.join(tmp, ".source"), "w") as f:
        f.write(key)
    os.rename(tmp, dst)
    return dst


def add_overhead(traced_path, untraced_path):
    """Tracing overhead: traced minus untraced end-to-end values."""
    if not os.path.isfile(untraced_path):
        return
    with open(traced_path) as f:
        traced = json.load(f)
    with open(untraced_path) as f:
        plain = json.load(f)
    traced["tracing_overhead"] = {
        k: v - plain["end_to_end"][k]
        for k, v in traced["end_to_end"].items() if k in plain["end_to_end"]}
    with open(traced_path, "w") as f:
        json.dump(traced, f)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    sf1 = sf1_data()
    os.makedirs(os.path.join(BUILD, "out"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}"
    record = os.path.join(BUILD, "out", f"{tag}-t{a.trace}.json")
    work = os.path.join(BUILD, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))

    cpus = str(len(os.sched_getaffinity(0)))
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env.update(SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap and young generation keep peak RSS from following the
    # collector's sizing decisions; no hsperfdata file outside the checkout
    cmd += ["-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", os.path.join(work, "zones"), "--sf1", sf1,
            "--record", record,
            "--spans", os.path.join(BUILD, "out", f"{tag}.spans.jsonl")]
    log = os.path.join(BUILD, "out", f"{tag}-t{a.trace}.log")
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                               stderr=err, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"the benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        with open(log) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        die(f"the benchmark JVM exited with {r.returncode} (log: {log})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1]}")
    if a.trace == "1":
        add_overhead(record, os.path.join(BUILD, "out", f"{tag}-t0.json"))
    print(f"perfbench: record {os.path.relpath(record, ROOT)}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
