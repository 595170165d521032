#!/usr/bin/env python3
"""graft knowledge-graph construction benchmark.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
generates the seeded inputs once per (workload, generator version, seed,
size) (perfbench/gen.py; for neardup_clusters also the DuckDB expected output,
perfbench/oracle.py), then runs perfbench.Main on one JVM: the job is set up
once cold and seven more times, warmed up once, then run back to back for
--seconds, and every output is checked. The expected output of a seed is the
fingerprint committed in perfbench/expected/<workload>.json (written by
perfbench/expect.py); for a seed not listed there it is computed through the
workload's independent reference path. The last line of standard output is
one JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1). The full result, with input
properties, routing, host window and spans, is printed on the line before it
and kept under <build dir>/perfbench/results/.

`--perturb 1` drops one row from every job's output (kg_pipeline: one
checkpointed triple, before linking; neardup_clusters: one q34 row); the
output gate must then fail every job.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# documents per input set
WORKLOADS = {"kg_pipeline": 1500, "neardup_clusters": 2000}
EXPECTED = os.path.join(HERE, "expected")
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def prepare(work, workload, seed):
    """The seeded inputs of one run, generated unless already cached; returns
    their directory and the seconds generation took (0 on a cache hit)."""
    docs = WORKLOADS[workload]
    d = os.path.join(work, "inputs", f"{workload}-v{gen.VERSION}-s{seed}-d{docs}")
    if os.path.exists(os.path.join(d, "_READY")):
        return d, 0.0
    t0 = time.monotonic()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    props = getattr(gen, workload)(d, seed, docs)
    with open(os.path.join(d, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    if workload == "neardup_clusters":
        oracle.main(d, build.oracle_sql())
    open(os.path.join(d, "_READY"), "w").close()
    return d, time.monotonic() - t0


def input_key(workload):
    """What the committed expected outputs of a workload were computed for."""
    return f"v{gen.VERSION}-d{WORKLOADS[workload]}"


def committed(workload, seed):
    """The expected output fingerprint committed for this seed, or None."""
    p = os.path.join(EXPECTED, workload + ".json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        spec = json.load(f)
    return spec["seeds"].get(str(seed)) if spec["inputs"] == input_key(workload) else None


def jvm(classes, work):
    """The java command line of perfbench.Main, up to its arguments."""
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write its perf counters under the system temp dir
    return ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", build.classpath(classes), "perfbench.Main"]


def workdir():
    work = os.path.join(build.build_dir(), "perfbench", "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    classes = build.build()
    limit = FIRST_RUN_LIMIT_S - (time.monotonic() - t0) if build.LAST_BUILD_COMPILED else RUN_LIMIT_S
    work = workdir()
    results = os.path.join(build.build_dir(), "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-perturbed" if a.perturb else "")
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    inputs, gen_s = prepare(work, a.workload, a.seed)
    expected = committed(a.workload, a.seed)
    if expected is not None:
        with open(os.path.join(inputs, "expected.json"), "w") as f:
            f.write(json.dumps(expected, separators=(",", ":")))

    cmd = [*jvm(classes, work),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--perturb", str(a.perturb),
           "--inputs", inputs, "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(30.0, limit))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        print(f"perfbench: {a.workload} exited with {proc.returncode} and no result", file=sys.stderr)
        sys.exit(1)
    with open(out) as f:
        res = json.load(f)
    res["details"]["generation_s"] = gen_s
    res["details"]["expected_source"] = ("committed" if expected is not None
                                         else "duckdb" if a.workload == "neardup_clusters" else "reference")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, **res}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
