#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload console --seed 1 --seconds 15 --trace 0

Run it from the root of the repository. It builds the engine's sources and
the harness under perfbench/ with sbt (once per source change), starts the
JVM directly from the compiled classes plus Spark's jars, and prints, as the
last line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics named in BENCHMARK.json; with `--trace 1` they are the
per-layer metrics, measured in a traced run that follows an untraced run of
the same seed, and include the tracing overhead.

Workload settings (rates, sizes, limits) live in perfbench/spec.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list the repository's build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), ENGINE_SRC]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building with sbt", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(spec, workload, seed, seconds, trace):
    """One JVM run; returns the parsed PERFBENCH_RESULT object."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark install with a jars/ directory")
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    settings = spec["workloads"][workload]["settings"]
    cmd = [java] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{spec['jvm']['xmx']}", f"-Xmx{spec['jvm']['xmx']}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main", workload, str(seed), str(seconds), str(trace), work,
    ] + [f"{k}={v}" for k, v in sorted(settings.items())]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.strip():
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"{workload} run ended with exit code {proc.returncode} and no result", 3)
    return result


def metric_block(names, values, units, label):
    out = {}
    for n in names:
        v = values.get(n)
        if v is None or not math.isfinite(v):
            fail(f"{label} metric {n} was not measured")
        out[n] = {"value": v, "unit": units[n]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(bench_path):
        fail(f"no engine sources at {ENGINE_SRC}: run from a full checkout of the repository")
    bench = json.load(open(bench_path))
    spec = json.load(open(os.path.join(HERE, "spec.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    build()

    e2e_names = [m["name"] for m in bench["end_to_end"]]
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    plain = run_jvm(spec, a.workload, a.seed, a.seconds, 0)
    e2e = metric_block(e2e_names, plain["e2e"], e2e_units, "end-to-end")
    extra = {k: v for k, v in plain["e2e"].items() if k not in e2e_units}
    if extra:
        print("[perfbench] measured, not bounded: " + json.dumps(extra, sort_keys=True))
    if a.trace == 0:
        out = {"correct": plain["correct"], "attempted": plain["attempted"],
               "failed": plain["failed"], "metrics": e2e}
    else:
        print("perfbench: untraced " + json.dumps(e2e, sort_keys=True))
        traced = run_jvm(spec, a.workload, a.seed, a.seconds, 1)
        layer = dict(traced["layer"])
        base = plain["e2e"]["latency_mean_s"]
        layer["trace.overhead_share"] = traced["e2e"]["latency_mean_s"] / base - 1.0
        # A metric that only another workload measures is reported as 0
        # here (that layer did no work). A metric this workload lists, or
        # that no workload lists, must have been measured.
        own = set(spec["workloads"][a.workload]["per_layer"])
        others = {n for w, s in spec["workloads"].items() if w != a.workload
                  for n in s["per_layer"]} - own
        for m in bench["per_layer"]:
            if m["name"] not in layer and m["name"] in others:
                layer[m["name"]] = 0.0
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        out = {"correct": plain["correct"] and traced["correct"],
               "attempted": plain["attempted"] + traced["attempted"],
               "failed": plain["failed"] + traced["failed"],
               "metrics": metric_block([m["name"] for m in bench["per_layer"]], layer, units, "per-layer")}
    print(json.dumps(out, sort_keys=True))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
