#!/usr/bin/env python3
"""perfbench: same-host benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload short_queries --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, offline) on first
use, generates the workload's inputs from --seed (cached per seed behind
a _SUCCESS marker), runs the harness JVM in a closed loop for --seconds,
checks every output, and prints a summary line, a host line, and as the
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the per-layer metrics of a traced run.  Everything it writes stays under
.bench_build/ and .bench_work/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# Inputs per workload. Frozen: later changes are measured on these.
SPECS = {
    "short_queries": {"kind": "tables", "sf": 0.01},
    "catalogue_enrich": {"kind": "catalogue", "items": 500, "files": 5,
                         "entities": 1000, "perturbed_share": 0.1},
}
# seconds the harness JVM may take; the whole run must end within 180 s
JVM_LIMIT_S = 150

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric_names(kind):
    """(name, unit) of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; cache the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt, first run only)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def host_info():
    def read(p):
        try:
            with open(p) as fh:
                return fh.read()
        except OSError:
            return ""
    mem = next((l.split()[1] for l in read("/proc/meminfo").splitlines()
                if l.startswith("MemTotal:")), "0")
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": int(mem) // 1024,
            "loadavg": read("/proc/loadavg").strip()}


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env and env.isdigit() else len(os.sched_getaffinity(0))


def run_jvm(cp, workload, data_dir, out_dir, seconds, trace, ncpu):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # a fixed heap, and JIT thresholds at a fifth of the defaults so the
    # compiler reaches its steady state within the warm-up passes; no
    # perf-data file, so the JVM writes nothing outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.2",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(out_dir, 'spark-warehouse')}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, data_dir, out_dir, str(seconds),
            str(trace), str(ncpu)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness timed out")
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(out_dir, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("engine sources not found next to perfbench/ (need build.sbt, src/main/scala)")

    cp = build()
    t0 = time.time()
    data_dir, generated = gen.ensure(os.path.join(WORK, "data"), a.workload, a.seed, SPECS[a.workload])
    if generated:
        log(f"generated inputs for seed {a.seed} in {time.time() - t0:.1f}s")
    out_dir = os.path.join(WORK, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    host = host_info()
    ncpu = cpus()
    res = run_jvm(cp, a.workload, data_dir, out_dir, a.seconds, a.trace, ncpu)
    host_after = host_info()

    if a.workload == "catalogue_enrich":
        checked, bad = checks.check_catalogue(data_dir, out_dir)
    else:
        checked, bad = checks.check_queries(
            data_dir, out_dir, os.path.join(WORK, "oracle", a.workload, f"seed-{a.seed}"),
            WORK, ncpu)
    for b in bad + res["failures"]:
        log(f"FAIL {b}")
    attempted = res["attempted"] + len(checked)
    failed = res["failed"] + len(bad)
    e2e = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in metric_names("end_to_end")}
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "metrics": e2e,
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "latency_samples": res["latency_samples"], "samples_beyond_p90": res["samples_beyond_p90"],
        "warmup_passes": res["warmup_passes"], "warmup_converged": res["warmup_converged"],
        "pass_walls_s": [p["wall_s"] for p in res["passes"]],
        "run_s": round(time.time() - started, 2),
    }
    print(json.dumps({"summary": summary}))
    print(json.dumps({"host": {"before": host, "after": host_after, "cpus_used": ncpu,
                               "java": res["java_version"], "spark": res["spark_version"]}}))
    if a.trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": u} for k, u in metric_names("per_layer")}
    else:
        metrics = e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
