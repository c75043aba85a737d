#!/usr/bin/env python3
"""graft benchmark: served subgraph exploration, and an offline batch of the
graph analytics suite plus inventory operators, each on seeded inputs.

Usage (from the checkout root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs one workload in one JVM
and checks its outputs. Prints every metric by name and unit, then one JSON
line: {"correct", "attempted", "failed", "metrics"}. Exits non-zero when the
build fails or a correctness gate fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

SPARK_JARS = "/opt/spark/jars"
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "build.stamp")
# Set-up, warm-up, gates and the box probes take 30-60 s on a 4-core machine
# beside the timed region; the grace lets a program several times slower
# still report its numbers rather than no result.
JVM_GRACE_S = 600
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Per-layer metrics each workload measures itself (name prefixes, and
# prefixes excepted from those); the traced run reports every other per-layer
# metric as 0, the layer having done no work there.
OWN_LAYERS = {
    "serve_explore": (("spark.", "graph.subgraph_", "serve.", "query.", "etl.",
                       "trace.", "jvm.", "box."), ("serve.gexf_render.",)),
    "offline_batch": (("spark.session_ms", "spark.task_busy_ratio", "graph.",
                       "serve.gexf_render.", "ops.", "plans.", "etl.", "trace.",
                       "jvm.", "box."), ("graph.subgraph_",)),
}


def own_layer(workload, name):
    own, other = OWN_LAYERS[workload]
    return name.startswith(own) and not name.startswith(other)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def build():
    """sbt compile of the engine's and the benchmark's sources, skipped when
    the sources are byte-identical to the last successful build."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        log(f"engine sources not found under {main_src}")
        return False
    h = hashlib.sha256()
    for p in [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")] + sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return True
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]))
    log("building engine + benchmark (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        return False
    with open(STAMP, "w") as f:
        f.write(stamp)
    return True


def run_jvm(workload, work, seconds, trace):
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Dfile.encoding=UTF-8",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
        "--workload", workload, "--work", work, "--repo", ROOT,
        "--seconds", str(seconds), "--trace", str(trace)]
    os.makedirs(f"{work}/tmp")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=seconds + JVM_GRACE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"workload did not finish within {seconds + JVM_GRACE_S:.0f} s")
            return None
    path = os.path.join(work, "result.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not build():
        log("build failed")
        return 2

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        gen.GENERATORS[a.workload](ROOT, work, a.seed)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        res = run_jvm(a.workload, work, a.seconds, a.trace)
        if res is None:
            with open(os.path.join(work, "jvm.log")) as f:
                log(f.read()[-4000:])
            return 3
        if a.workload == "offline_batch":
            import oracle
            mismatches = oracle.check(work)
            res["failed"] += len(mismatches)
            res["errors"] += mismatches
        out = os.path.join(BENCH, "out")
        os.makedirs(out, exist_ok=True)
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(out, f"jvm-{a.workload}.log"))
        if a.trace:
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(out, f"trace-{a.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = res["metrics"].get(m["name"])
        if v is None:
            if a.trace and not own_layer(a.workload, m["name"]):
                v = 0.0
            else:
                res["errors"].append(f"metric {m['name']} was not measured")
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = res["correct"] and not res["errors"]
    for e in res["errors"]:
        print(f"GATE FAILED: {e}")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    attempted = max(int(res["attempted"]), 1)
    failed = max(int(res["failed"]), 0 if correct else 1)
    print(f"fail_ratio {failed / attempted:.6g} ({failed} of {attempted})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
