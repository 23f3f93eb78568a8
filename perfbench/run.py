#!/usr/bin/env python3
"""Benchmark entry point for the graft ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine and the harness are compiled once
per source state (offline sbt, cached by a content hash under .bench_build/),
outside every timed window. Each run generates its inputs from the seed into
a private directory, runs one harness JVM on local[4], checks the outputs
against DuckDB, removes the directory and prints one JSON line last.

Workloads: etl_batch, etl_stream, api_queries, corpus_ops (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SPARK_JARS = "/opt/spark/jars"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Content hash of everything the build reads: the engine's sources and
    build definition and the harness."""
    files = []
    for pattern in ("build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
                    "src/main/**/*", "perfbench/harness/build.sbt",
                    "perfbench/harness/project/build.properties",
                    "perfbench/harness/src/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pattern), recursive=True)
                  if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, workloads):
    """Compile engine + harness once per source hash, pack both into jars and
    record a shared class archive (AppCDS) from one class-loading pass over
    `workloads`; return the JVM flags that put them to use."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); run from the repository root")
    key = source_hash(root)
    out = os.path.join(root, BUILD_DIR, "classes", key)
    jars = [os.path.join(out, "harness.jar"), os.path.join(out, "engine.jar")]
    classpath = ":".join(jars + [SPARK_JARS + "/*"])
    archive = os.path.join(out, "classes.jsa")
    if not os.path.isfile(os.path.join(out, "READY")):
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS="-Dsbt.override.build.repos=true "
                            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                            " -Dsbt.offline=true -Xmx2g")
        log = os.path.join(root, BUILD_DIR, "build.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        with open(log, "w") as fh:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=os.path.join(root, "perfbench", "harness"), env=env,
                                stdout=fh, stderr=subprocess.STDOUT, timeout=840).returncode
        if rc != 0:
            fail(f"build failed (exit {rc}); see {log}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        # the class archive takes classes from jars only, not from directories
        for jar, classes in zip(jars, (os.path.join("perfbench", "harness", "target"),
                                       "target")):
            subprocess.run(["jar", "cf", jar, "-C",
                            os.path.join(root, classes, "scala-2.13", "classes"), "."],
                           check=True)
        tmp = os.path.join(root, BUILD_DIR, "runs", f"archive-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            for w in workloads:
                gen.generate(w, 0, os.path.join(tmp, "data", w))
            rc = run_jvm(classpath, [f"-XX:ArchiveClassesAtExit={archive}"],
                         {"pass": ",".join(workloads), "data": os.path.join(tmp, "data"),
                          "work": os.path.join(tmp, "work")},
                         os.path.join(root, BUILD_DIR, "archive.log"), timeout=600)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0 or not os.path.isfile(archive):
            fail(f"class archive pass failed (exit {rc}); see {BUILD_DIR}/archive.log")
        open(os.path.join(out, "READY"), "w").close()
    return classpath, [f"-XX:SharedArchiveFile={archive}"]


def run_jvm(classpath, flags, args, log_path, timeout=150):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + flags + [
        f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={args['work']}/tmp", "-cp", classpath, "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    return rc


def e2e_metrics(res):
    """Bounded metrics: JVM CPU time, which leaves out what the host steals
    from this machine's CPUs (wall times are in the traced run)."""
    return {
        "setup_s": {"value": res["setup_cpu_s"], "unit": "s"},
        "cold_cpu_s": {"value": res["cold_cpu_s"], "unit": "s"},
        "warm_cpu_p50_ms": {"value": statistics.median(res["warm_cpu_ms"]), "unit": "ms"},
    }


def layer_metrics(res, bench):
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not call reports 0."""
    res["layer"].update({"wall.setup_s": res["setup_s"], "wall.cold_s": res["cold_s"],
                         "wall.warm_p50_ms": statistics.median(res["warm_ms"])})
    out = {}
    for m in bench["per_layer"]:
        out[m["name"]] = {"value": float(res["layer"].get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] parallelism (the benchmark's figures are at 4)")
    ap.add_argument("--refresh-oracle", action="store_true",
                    help="recompute cached DuckDB oracle results")
    a = ap.parse_args()
    if a.workload not in gen.SIZES:
        fail(f"unknown workload {a.workload}; one of {sorted(gen.SIZES)}")
    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    classpath, flags = build(root, [w["name"] for w in bench["workloads"]])

    run_dir = os.path.join(root, BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    clock = [("start", time.time())]
    try:
        gen.generate(a.workload, a.seed, data)
        clock.append(("gen", time.time()))
        result_path = os.path.join(run_dir, "result.json")
        trace_dir = os.path.join(root, BUILD_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        jvm_args = {"workload": a.workload, "data": data, "work": work,
                    "seconds": a.seconds, "seed": a.seed, "trace": a.trace,
                    "out": result_path, "cores": a.cores,
                    "spans": os.path.join(trace_dir, f"{a.workload}-{a.seed}-trace{a.trace}.jsonl")}
        log = os.path.join(run_dir, "jvm.log")
        rc = run_jvm(classpath, flags, jvm_args, log)
        clock.append(("jvm", time.time()))
        if rc != 0 or not os.path.isfile(result_path):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"harness exited with {rc}", 1)
        res = json.load(open(result_path))
        failures = list(res["failures"]) + checks.run(
            a.workload, data, res["outputs"], os.path.join(root, BUILD_DIR, "oracle-cache"),
            a.refresh_oracle)
        clock.append(("checks", time.time()))
        print("perfbench: " + " ".join(f"{n} {t - p:.1f}s" for (_, p), (n, t)
                                       in zip(clock, clock[1:])), file=sys.stderr)
        layer_file = os.path.join(trace_dir, f"{a.workload}-{a.seed}-trace{a.trace}.json")
        with open(layer_file, "w") as fh:
            json.dump({k: v for k, v in res.items() if k != "outputs"}, fh, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if failures:
        for f in failures:
            print(f"CHECK FAILED: {f}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": res["attempted"],
                          "failed": 0, "metrics": {}}))
        sys.exit(1)
    metrics = layer_metrics(res, bench) if a.trace else e2e_metrics(res)
    print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": 0,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
