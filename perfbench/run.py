#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check it.

    python3 perfbench/run.py --workload repl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the harness with sbt (perfbench/build.sbt) into .bench_build/;
later runs start the JVM directly on the recorded classpath, and map the
classes they load from the jars from a class-data-sharing archive that the
first run of each workload after a build writes. Inputs and
outputs live in .bench_work/<workload>/ and are replaced on every run.

The last line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics`, the end-to-end metrics with `--trace 0` and the
per-layer metrics with `--trace 1`. The exit code is 1 when any output is
wrong or any operation failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("registry", "repl_mix")
# timed set-ups per run; the harness runs one more, untimed, on the cold JVM
SETUPS = {"registry": 3, "repl_mix": 2}
E2E = {"setup_s": "s", "pass_s": "s"}
COMMANDS = ("getsummary", "getcounts", "gettopmentionsstring", "gettophashtagsstring",
            "gettopretweetsstring", "getrecenttopmentionsstring", "getrecenttophashtagsstring",
            "getrecenttopretweetsstring", "getrecentcounts")
LAYERS = {
    "registry.query_ms_p50": "ms",
    "registry.construct_s": "s", "registry.plan_s": "s", "registry.exec_s": "s",
    "ingest.schema_jobs": "count", "ingest.schema_s": "s",
    "ops.reuse_jobs": "count", "ops.reuse_s": "s", "ops.reuse_mb": "MB",
    "ops.probe_jobs": "count", "ops.probe_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.nojob_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.scan_mb": "MB",
    "agg.state_rows": "count", "agg.state_mb": "MB", "agg.state_update_ms_p50": "ms",
    "agg.state_commit_ms_p50": "ms", "agg.late_rows_dropped": "count",
    "agg.backlog_tweets_per_s": "tweets/s",
    "stream.batches": "count", "stream.trigger_ms_p50": "ms", "stream.addbatch_ms_p50": "ms",
    "stream.planning_ms_p50": "ms", "stream.walcommit_ms_p50": "ms",
    "stream.offsets_ms_p50": "ms", "stream.jobs_per_batch": "count",
    "ingest.rows_per_batch": "count",
    "stream.store_writes_per_batch": "count", "stream.store_write_ms_p50": "ms",
    "stream.store_files_per_batch": "count", "stream.store_mb": "MB",
    "serve.cmd_ms_p50": "ms", "serve.dispatch_ms_p50": "ms", "serve.exec_ms_p50": "ms",
    "serve.jobs_per_cmd": "count", "serve.files_per_cmd": "count",
    **{"serve.%s_ms_p50" % c: "ms" for c in COMMANDS},
    "overhead.latency_ms_p50": "ms",
    "overhead.pass_s": "s",
}
JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC",
    *[x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for x in ("--add-opens", p + "=ALL-UNNAMED")],
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at %s/src/main/scala; run from a full checkout" % ROOT)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for w in WORKLOADS:
        if os.path.exists(archive(w)):
            os.remove(archive(w))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed; see %s" % os.path.join(BUILD, "build.log"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def archive(workload):
    return os.path.join(BUILD, workload + ".jsa")


def run_jvm(cp, workload, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The first run of a workload after a build records the classes it loads
    # from the jars in a class-data-sharing archive as it exits; later runs
    # map them from the archive, which saves seconds of class loading.
    jsa = archive(workload)
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(jsa) else "-XX:ArchiveClassesAtExit=") + jsa
    cmd = ["java", *JAVA_OPTS, cds, "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Harness",
           *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out; see %s" % os.path.join(work, "jvm.log"))
    if code != 0:
        fail("harness exited %d; see %s" % (code, os.path.join(work, "jvm.log")))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    # a run that built gets its full time budget after the build
    deadline = time.time() + 165
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.generate(a.workload, a.seed, data, bool(a.trace))

    cores = len(os.sched_getaffinity(0))
    res = run_jvm(cp, a.workload, ["--workload", a.workload, "--data", data, "--work", work,
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--cores", str(cores), "--setups", str(SETUPS[a.workload])],
                  work, deadline)

    attempted, failed, problems = check.check(a.workload, data, work)
    for p in problems[:20]:
        print("perfbench: check: " + p, file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in LAYERS.items()}
    else:
        values = {"setup_s": statistics.median(res["setup_s"]),
                  **{k: res[k] for k in E2E if k != "setup_s"}}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in E2E.items()}
    correct = failed == 0 and not problems
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
