"""Counter stability check for the benchmark's traced run.

Runs every workload's traced run twice with one seed and requires equal
per-op spark.jobs, Evaluator.iterations, Evaluator.template_hits and
answer rows, no persistent RDD left behind after close, and no job added
by the engine's per-iteration statistics.

    python3 perfbench/check_counters.py [--seed 1] [--workloads tc_grid ...]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = ["spark.jobs", "Evaluator.iterations", "Evaluator.template_hits",
          "Evaluator.answer_rows"]
ZERO = ["storage.rdds_leaked", "trace.collectstats_extra_jobs"]


def traced(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                         stdout=subprocess.PIPE, check=True).stdout.decode()
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit("%s: traced run answered wrong" % workload)
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="+", default=["tc_grid", "mono_gnp", "bound_mix"])
    a = ap.parse_args()
    bad = []
    for w in a.workloads:
        first, second = traced(w, a.seed), traced(w, a.seed)
        for k in PINNED:
            status = "ok" if first[k] == second[k] else "DIFFERS"
            print("%-10s %-24s %14.2f %14.2f  %s" % (w, k, first[k], second[k], status))
            if first[k] != second[k]:
                bad.append((w, k))
        for k in ZERO:
            for r in (first, second):
                if r[k] != 0:
                    print("%-10s %-24s %14.2f  NOT ZERO" % (w, k, r[k]))
                    bad.append((w, k))
    if bad:
        raise SystemExit("unstable or nonzero counters: %s" % bad)
    print("counters stable")


if __name__ == "__main__":
    main()
