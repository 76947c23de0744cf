#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness from source, runs one
workload in one JVM, checks its outputs and prints one record.

    python3 perfbench/run.py --workload pipeline_gse46602 --seed 1 --seconds 10 --trace 0

Run from the root of a source tree (the directory holding build.sbt and
src/). Workloads, metrics and the layer map are described in
perfbench/README.md. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
WORKLOADS = ("pipeline_gse46602", "catalog_mix")
JVM_TIMEOUT_S = 165
XMX = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars when set, else the
    `unmanagedBase` that build.sbt compiles the engine against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("no unmanagedBase in build.sbt; set SPARK_HOME")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found under {jars} (set SPARK_HOME)")
    return jars


def tree_hash(paths):
    """sha-256 over the relative path and bytes of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def scalac(jars, out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    compiler = [os.path.join(jars, f"scala-{n}-2.13.17.jar")
                for n in ("compiler", "library", "reflect")]
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", ":".join(classpath), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit(f"compiling {out} failed")


def scala_sources(top):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                  for f in fs if f.endswith(".scala"))


def build(jars):
    """Compiles src/main, then the harness, into .bench_build; each is
    rebuilt only when the hash of its sources changed. Returns the run
    classpath and the engine's source hash."""
    jar_cp = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    main_cls = os.path.join(BUILD, "classes", "main")
    bench_cls = os.path.join(BUILD, "classes", "bench")
    main_stamp = tree_hash(["src/main"])
    bench_stamp = main_stamp + tree_hash([os.path.join(BENCH_DIR, "src")])
    for out, stamp, cp, src in ((main_cls, main_stamp, jar_cp, "src/main/scala"),
                                (bench_cls, bench_stamp, [main_cls] + jar_cp,
                                 os.path.join(BENCH_DIR, "src"))):
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == stamp:
                    continue
        log(f"compiling {src} into {out}")
        t0 = time.time()
        shutil.rmtree(out, ignore_errors=True)
        scalac(jars, out, cp, scala_sources(src))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"compiled in {time.time() - t0:.1f} s")
    return [bench_cls, main_cls, "src/main/resources", os.path.join(jars, "*")], main_stamp


def java_cmd(classpath, work, xmx):
    return (["java", f"-Xmx{xmx}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ADD_OPENS + ["-cp", ":".join(classpath), "perfbench.Main"])


def run_jvm(cmd, work):
    """Runs the harness, its log in work/jvm.log; kills it on timeout."""
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"harness JVM failed ({rc}):\n{tail}")


def check_catalog(observed):
    """Every observed result hash against the pinned one; returns failures."""
    with open(os.path.join(BENCH_DIR, "expected_digests.json")) as fh:
        expected = json.load(fh)["digests"]
    return [f"pass {o['pass']} {o['query']}: result hash {o['hash']} != pinned "
            f"{expected[o['query']]['engine_hash']}"
            for o in observed if o["hash"] != expected[o["query"]]["engine_hash"]]


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_rev():
    """HEAD and whether src/ or build.sbt differ from it; None outside a git
    checkout (the check stops at this directory, so an enclosing repository
    is never reported)."""
    if not os.path.exists(".git"):
        return None, None
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, check=True).stdout.strip()
        dirty = bool(subprocess.run(["git", "status", "--porcelain", "--", "src", "build.sbt"],
                                    capture_output=True, text=True, check=True).stdout.strip())
        return rev, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_before = loadavg()
    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")):
        raise SystemExit("run from the root of the source tree: src/main/scala and build.sbt are missing")
    with open(os.path.join(BENCH_DIR, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    jars = spark_jars()
    classpath, stamp = build(jars)

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(BENCH_DIR, "data", "sf0.01")
    queries_tsv = os.path.join(BENCH_DIR, "queries.tsv")
    run_jvm(java_cmd(classpath, work, XMX) +
            [args.workload, str(args.seed), str(args.seconds), str(args.trace),
             work, data, queries_tsv], work)
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    failures = list(res["failures"])
    failed = res["failed"]
    bad = check_catalog(res["observed"])
    failures += bad
    failed += len(bad)
    correct = failed == 0 and all(res["checks"].values())

    rev, dirty = git_rev()
    record = dict(res, failed=failed, failures=failures, correct=correct,
                  failed_frac=failed / res["attempted"], loadavg_before=load_before,
                  loadavg_after=loadavg(), git_rev=rev, git_dirty=dirty, source_sha256=stamp,
                  jvm_xmx=XMX)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = res["layers"] if args.trace else res
    metrics = {n: {"value": source[n], "unit": units[n]} for n in names}

    for f in failures:
        print(f"FAILED {f}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{res['attempted']} ops, {failed} failed (failed_frac {record['failed_frac']:.4f}), "
          f"checks {res['checks']}")
    print(f"warm passes {res['wall_passes_s']} s")
    if res["byte_differing_outputs"]:
        print("outputs not byte-identical to the first pass's (passes): "
              + json.dumps(res["byte_differing_outputs"], sort_keys=True))
    for n, m in metrics.items():
        print(f"{n} = {m['value']} {m['unit']}")
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
