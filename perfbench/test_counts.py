#!/usr/bin/env python3
"""The benchmark's own test: scheduler counts and the plan census repeat.

Runs each workload twice in traced mode on the same fixed, small input
(testdata scale 0.001, seed 7) and requires every `sched.*`, `shuffle.*`,
`spill.*` and `plan.*` metric to be identical between the two runs, so
later changes can cite them as exact counts.

Usage (from the repository root): python3 perfbench/test_counts.py [workload ...]
"""
import json
import subprocess
import sys

COUNTED = ("sched.", "shuffle.", "spill.", "plan.")


def counts(workload):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "1", "--sf", "0.001"],
                       stdout=subprocess.PIPE, text=True, check=True)
    metrics = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items() if k.startswith(COUNTED)}


def main(workloads):
    failed = False
    for w in workloads:
        a, b = counts(w), counts(w)
        diff = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
        print(f"{w}: {'REPEATS' if not diff else 'DIFFERS'} {json.dumps(a, sort_keys=True)}")
        if diff:
            print(f"  differing: {diff}")
            failed = True
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["query_mix", "stream_ingest"]))
