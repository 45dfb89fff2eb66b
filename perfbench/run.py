#!/usr/bin/env python3
"""Benchmark of the raw-CSV -> modeled ETL (`EtlRunner`) and the operator
registry, in one local Spark session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.json for sizes and the frozen query lists):
  etl_refresh   EtlRunner.run on generated creditos/radicados t0, then t1
  registry_ops  relational/ETL operator queries (p/j/u/q/t/w/a/o, layout_,
                src_, sample_, feat_, dq)
  registry_llm  LLM-data queries (text_, ann_, eval_, dedup_, media_,
                pipeline_, graph_, er_, sketch_)

The first run in a checkout compiles the repository's sources together with
the benchmark program (sbt, see build.sbt). Each run starts a fresh JVM with
a fresh work dir, sets up several times from scratch (setup_s is the median
of all but the first), checks outputs, runs untimed warm-up rounds, measures
for --seconds, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list; with --trace 1 its per_layer list,
and the spans go to perfbench/.traces/.

`--record-registry [--dump DIR]` re-records expected_registry.json, the
per-query (rows, hash) the registry checks compare against; with --dump it
also writes each result and its oracle SQL to DIR, for
`python3 tools/check_oracle.py perfbench/data/sf0.01 DIR`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
SOURCES = os.path.join(REPO, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
WORKLOADS = ("etl_refresh", "registry")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [SOURCES, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p[len(REPO):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return home


def run_bounded(cmd, timeout, **kw):
    """Runs cmd to completion; on timeout kills it and waits for it."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[0]} exceeded {timeout} s")


def build():
    if not os.path.isdir(SOURCES):
        raise SystemExit(f"perfbench: repository sources not found at {SOURCES}")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log("compiling the repository and the benchmark (sbt)")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                     cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                     stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)


def jvm(workload, seed, seconds, trace, out, work, mode=None, dump=None):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main", "--root", BENCH, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out]
    if mode:
        cmd += ["--mode", mode]
    if dump:
        cmd += ["--dump", dump]
    rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                     stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: {workload} run failed (exit {rc})")


def declared(trace):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-registry", action="store_true")
    ap.add_argument("--dump", help="with --record-registry: write each result here too")
    a = ap.parse_args()
    if not a.record_registry and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    build()
    work = os.path.join(BENCH, ".work", f"{a.workload or 'record'}_s{a.seed}_{os.getpid()}")
    os.makedirs(work)
    try:
        if a.record_registry:
            jvm("registry", 0, 1, 0, os.path.join(work, "unused.json"), work, mode="record",
                dump=a.dump and os.path.abspath(a.dump))
            return
        out = os.path.join(work, "result.json")
        jvm(a.workload, a.seed, a.seconds, a.trace, out, work)
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in declared(a.trace):
        name = m["name"]
        if name not in raw["metrics"]:
            if not a.trace:
                raise SystemExit(f"perfbench: end-to-end metric {name} was not measured")
            # a layer this workload does not exercise
            raw["metrics"][name] = 0.0
        metrics[name] = {"value": raw["metrics"][name], "unit": m["unit"]}
    for name, m in metrics.items():
        log(f"  {name:34s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
