#!/usr/bin/env python3
"""Writes perfbench/expected/<workload>.json: the expected output fingerprint
of each listed seed, so that a run on one of those seeds checks its output
against a value committed with the benchmark, not one computed by the engine
it measures.

Usage (from the root of a checkout of the repository):

    python3 perfbench/expect.py --workload <name> --seeds 0-99

Each fingerprint comes from the workload's independent reference path:
kg_pipeline from perfbench.Main --reference (the unfused rewrite → triples
path straight through, broadcast link, driver union-find CC);
neardup_clusters from the registry's oracle SQL in DuckDB (perfbench/oracle.py).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 0-99")
    a = ap.parse_args()

    classes = build.build()
    work = run.workdir()
    dirs = {}
    for seed in seeds(a.seeds):
        d, gen_s = run.prepare(work, a.workload, seed)
        expected = os.path.join(d, "expected.json")
        if gen_s == 0 and os.path.exists(expected):  # cached inputs: computed again
            os.remove(expected)
            if a.workload == "neardup_clusters":
                oracle.main(d, build.oracle_sql())
        dirs[seed] = d
    if a.workload == "kg_pipeline":
        r = subprocess.run([*run.jvm(classes, work), "--reference", a.workload, work, *dirs.values()],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"perfbench: reference run failed ({r.returncode})")
    out = {"inputs": run.input_key(a.workload), "seeds": {}}
    for seed, d in dirs.items():
        with open(os.path.join(d, "expected.json")) as f:
            out["seeds"][str(seed)] = json.load(f)
    os.makedirs(run.EXPECTED, exist_ok=True)
    with open(os.path.join(run.EXPECTED, a.workload + ".json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
