#!/usr/bin/env python3
"""The repository benchmark: one workload, one JVM, one JSON result line.

Usage (from the repository root):

    python3 kgbench/run.py --workload <kg_build|query_sweep> \
        --seed <n> --seconds <s> --trace <0|1> [--turns <n>] [--corrupt]

Builds the program from source when needed (kgbench/build.py), makes the
seeded input, runs the workload in its own JVM at local[<nproc>] and prints,
as its last stdout line, {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list, and the spans go to kgbench/.work/trace/.
A per-layer metric of a layer the other workload runs reads 0; a metric the
workload should have reported and did not counts as a failed operation.
The full result, with the corpus fingerprint and the run facts, is kept in
kgbench/.work/results/. Exits 1 when an operation or output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

# Input size per workload, in transcript turns (query_sweep: documents).
DEFAULT_SIZE = {"kg_build": 200_000, "query_sweep": 500}
# The per-layer metrics each workload measures, by name prefix. The others
# belong to the other workload and read 0 in this one's traced run.
OWN_LAYERS = {
    "kg_build": ("gen.", "jvm.", "spark.", "kg.", "extract.", "sink.", "trace.", "checkpoint."),
    "query_sweep": ("gen.", "jvm.", "spark.", "artifacts.", "queries.", "query."),
}
INPUT_PARTS = 16
JVM_HEAP = "3g"
# A fixed heap with fixed generations and the parallel collector: the young
# generation is touched whole within the first collections and the old one
# compacts from its bottom, so the JVM's peak RSS follows the most data the
# program held at once instead of the collector's resizing decisions. The
# young generation is a constant floor under that peak (about 1 GB of it);
# a smaller one promotes short-lived data early, and the peak then follows
# when the old generation is next compacted (see README.md).
GC_OPTS = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn1g"]
JVM_TIMEOUT_S = 170
KEEP_INPUTS = 6

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def prune_inputs():
    """Keeps the KEEP_INPUTS most recently used generated inputs."""
    data = os.path.join(WORK, "data")
    if not os.path.isdir(data):
        return
    dirs = sorted((os.path.join(data, d) for d in os.listdir(data)), key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(classpath, args, log_path):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *GC_OPTS, "-XX:ReservedCodeCacheSize=512m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file: it would go to /tmp, outside the checkout
    cmd += ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "kgbench.Main"] + args
    with open(log_path, "w") as log:
        try:
            # two malloc arenas: with glibc's default of one per thread, the
            # native memory the JVM's threads touched, and so VmHWM, varied
            # by 0.1-0.15 GB between runs of the same code
            res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True, timeout=JVM_TIMEOUT_S,
                                 env={**os.environ, "MALLOC_ARENA_MAX": "2"})
        except subprocess.TimeoutExpired:
            fail(f"workload JVM timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
    lines = [l for l in res.stdout.splitlines() if l.startswith("KGBENCH_RESULT ")]
    if not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"workload JVM exited {res.returncode} without a result (log: {log_path})")
    return json.loads(lines[-1][len("KGBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--turns", type=int, default=None, help="input size (default per workload)")
    ap.add_argument("--corrupt", action="store_true", help="self-test: drop one output row before checking")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    classpath = build.ensure()

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    prune_inputs()
    size = a.turns or DEFAULT_SIZE[a.workload]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--turns", str(size), "--corrupt", "1" if a.corrupt else "0"]
    gen_s = 0.0
    data = os.path.join(WORK, "data")
    # the seeded inputs, made before the JVM starts so set-up never includes them
    if a.workload == "query_sweep":
        inp = os.path.join(data, f"analytics-s{a.seed}-n{size}")
        gen_s += gen.analytics(inp, a.seed, size)
    else:
        inp = os.path.join(data, f"transcripts-s{a.seed}-n{size}")
        gen_s += gen.transcripts(inp, a.seed, size, INPUT_PARTS)
    args += ["--input", inp]
    if a.workload == "kg_build" and a.trace:
        # the quarter-size corpus and its growth batch, for the checkpoint
        # layer and the scaling run
        small = os.path.join(data, f"transcripts-s{a.seed}-n{size // 4}")
        grow = os.path.join(data, f"growth-s{a.seed}-n{size // 4}")
        gen_s += gen.transcripts(small, a.seed, size // 4, INPUT_PARTS)
        gen_s += gen.growth(grow, a.seed, size // 4, size // 400)
        args += ["--small", small, "--growth", grow]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    res = run_jvm(classpath, args, os.path.join(WORK, "logs", f"{tag}.log"))
    res["metrics"]["gen.input_s"] = {"value": gen_s, "unit": "s"}
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)

    got = res["metrics"]
    out = {}
    attempted, failed = res["attempted"], res["failed"]
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        name = m["name"]
        out[name] = {"value": got.get(name, {}).get("value", 0), "unit": m["unit"]}
        if name not in got and (not a.trace or name.startswith(OWN_LAYERS[a.workload])):
            print(f"kgbench: workload {a.workload} did not report {name}", file=sys.stderr)
            attempted += 1
            failed += 1
    correct = res["correct"] and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
