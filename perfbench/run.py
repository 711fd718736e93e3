#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload api_mixed|suite_slice \
      --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt depends on the repository's own build) and keeps
the classpath under .bench_build/; later runs reuse it while no source
is newer. Each run generates its inputs from the seed, runs the harness
JVM, checks every answer, prints a detail record with the workload's
own figures, and then, as the last line, the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the per-layer metrics. The exit code is 0 only if every answer was right.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_corpus  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
TABLES = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("api_mixed", "suite_slice")
DEADLINE_S = 175
# the JVM flags Spark needs on JDK 17 outside spark-submit, as in build.sbt
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

TUNING_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_CONF_DIR")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build(deadline):
    """Compiles the program and the harness; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("perfbench: %s not found; run from a checkout of the repository"
                             % need)
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < stamp for f in sources() if os.path.exists(f)):
            with open(CLASSPATH) as f:
                return f.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=max(60, deadline - time.time()))
    lines = [l for l in proc.stdout.splitlines()
             if os.path.join("perfbench", "target") in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed (log in %s)" % BUILD_DIR)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    log("built in %.0f s" % (time.time() - t0))
    return lines[-1]


def harness(cp, args, work, deadline):
    # two Spark cores and two GC threads leave room on a 4-core machine
    # for the driver thread and the JIT, so the run measures the program
    # rather than the scheduler
    cpus = str(max(1, min(2, os.cpu_count() or 1)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed generation sizes, so the peak resident set does not follow
    # the collector's adaptive resizing. A smaller young generation
    # promotes more garbage into the old one, whose touched pages then
    # follow the run more than the program (see README.md); the live
    # heap is reported beside the resident set
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:ParallelGCThreads=" + cpus,
           "-XX:-UseAdaptiveSizePolicy", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", cpus,
            "--corpus", os.path.join(work, "corpus"), "--tables", TABLES]
    # the program's own tuning variables and injected JVM options would
    # change what is measured; the harness runs without them
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in TUNING_ENV}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: harness ran out of time")
    path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(path):
        raise SystemExit("perfbench: harness exited with %d" % code)
    with open(path) as f:
        return json.load(f)


def check_suite(result, work, deadline):
    """Compares the suite answers with their DuckDB oracle SQL through
    the repository's own compare (tools/check_oracle.py) and marks every
    execution of a query it does not pass as failed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), TABLES,
         os.path.join(work, "answers")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(10, deadline - time.time()))
    lines = proc.stdout.splitlines()
    passed = {l.split(" ", 1)[1].split(":")[0] for l in lines
              if l.startswith(("PASS ", "ROWS-ONLY "))}
    names = result["detail"]["queries"]
    if proc.returncode != 0 and set(names) <= passed:
        result["failures"].append("oracle compare exited with %d" % proc.returncode)
        log("oracle compare exited with %d:\n%s" % (proc.returncode, proc.stdout[-2000:]))
    for name in sorted(set(names) - passed):
        why = next((l for l in lines if l.startswith("FAIL %s:" % name)),
                   "no verdict from the oracle compare")
        result["failures"].append(why)
        log("FAILED %s: %s" % (name, why))
        for o in result["ops"]:
            if o["query"] == name:
                o["failed"] = True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    cp = build(started + 840)
    # a build may take its own time; the run itself gets a fresh budget
    deadline = time.time() + DEADLINE_S
    work = os.path.join(BUILD_DIR, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "api_mixed":
            gen_corpus.write(os.path.join(work, "corpus"), args.seed)
        result = harness(cp, args, work, deadline - 15)
        if args.workload == "suite_slice":
            check_suite(result, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = metrics.failures(result)
    correct = not result["failures"]
    if args.trace:
        shown = metrics.layer_detail(result)
        values = metrics.per_layer(result)
    else:
        shown = metrics.detail(result)
        values = metrics.end_to_end(result)
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "metrics": shown}}))
    missing = [k for k, v in values.items() if not math.isfinite(v["value"])]
    if missing:
        raise SystemExit("perfbench: no value measured for %s" % ", ".join(missing))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": values}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
