#!/usr/bin/env python3
"""Benchmark of the graft event-log connector and its streaming operators.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload replay|tail|ingest --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark from source with the Scala compiler that
ships with Spark, runs one workload in one JVM, checks its output and prints
every metric by name with its unit.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# leaves room for other processes on a shared 16 GiB host
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (the repository's build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars found: set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        fail("program sources src/main/scala not found; run from a full checkout")
    return prog + bench


def build(jars):
    """Compile program and benchmark into one class directory, reused while
    the sources, the program's resources and the jars are unchanged."""
    srcs = sources()
    res = os.path.join(ROOT, "src/main/resources")
    resources = sorted(f for f in glob.glob(os.path.join(res, "**"), recursive=True)
                       if os.path.isfile(f))
    digest = hashlib.sha256()
    for f in srcs + resources:
        digest.update(os.path.relpath(f, ROOT).encode())
        digest.update(open(f, "rb").read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = digest.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + stamp)
    if os.path.exists(os.path.join(out, ".done")):
        return out, stamp
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    if os.path.isdir(res):
        shutil.copytree(res, out, dirs_exist_ok=True)
    compiler = os.pathsep.join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", out, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed")
    open(os.path.join(out, ".done"), "w").close()
    return out, stamp


def git_head():
    """HEAD of the checkout when it is itself a git work tree, else None."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


# no hsperfdata file: the JVM would write it under /tmp, outside the checkout
JVM_FLAGS = ["-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss4m"]


def run_jvm(classes, jars, args, work):
    cmd = (["java"] + JVM_FLAGS
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            start_new_session=True)
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        log.close()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec:
        fail("unknown workload %r" % a.workload)
    jars = spark_jars()
    classes, stamp = build(jars)

    work = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", raw_path]
    for k, v in spec[a.workload]["params"].items():
        args += ["--param", "%s=%s" % (k, v)]
    code = run_jvm(classes, jars, args, work)

    def fail_run(msg):
        # the work directory is deleted on exit: keep the JVM log's tail
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.writelines(f.readlines()[-40:])
        fail(msg)

    try:
        if code is None:
            fail_run("run exceeded %d s" % RUN_TIMEOUT_S)
        if not os.path.exists(raw_path):
            fail_run("the run left no record (exit %s)" % code)
        raw = json.load(open(raw_path))
        if "error" in raw:
            print(raw["error"], file=sys.stderr)
            fail("the run failed")
        run_id = "%s-%d-%d" % (a.workload, a.seed, int(time.time()))
        raw["conditions"].update({"run_id": run_id, "git_head": git_head(),
                                  "source_digest": stamp, "jvm_flags": JVM_FLAGS,
                                  "trace": a.trace})
        result, report = analysis.summarize(a.workload, raw, bool(a.trace))
        with open(os.path.join(BUILD, "last-%s.json" % a.workload), "w") as f:
            json.dump({"conditions": raw["conditions"], "report": report, "result": result}, f,
                      indent=1)
        if a.trace:
            # the span dump: [key, name, layer, start_ms, end_ms, parent, batch]
            with open(os.path.join(BUILD, "last-%s-spans.json" % a.workload), "w") as f:
                json.dump({"run_id": run_id, "spans": raw["traced"]["spans"]}, f)
        for line in analysis.report_lines(report):
            print(line)
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
