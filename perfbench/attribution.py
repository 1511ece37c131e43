#!/usr/bin/env python3
"""Layer-attribution table and tracing overhead.

    python3 perfbench/attribution.py [--seed N] [--seconds S] [workload ...]

Runs each workload twice with the same seed, untraced and traced, and
writes `perfbench/ATTRIBUTION.md`: the job-active share of the measured
wall time, slot utilisation and jobs per op from the traced run, whether
each workload's stated bottleneck held, and the tracing overhead as the
traced minus the untraced end-to-end numbers. Workloads default to the
ones BENCHMARK.json lists.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The bottleneck each workload was chosen for (see README.md).
STATED = {
    "tfidf_corpus": "executor",
    "neardup_batch": "job",
    "serve_mixed": "job",
}
# Executor-bound: a job runs for at least this share of the wall time and
# keeps at least this share of the slots busy meanwhile. Anything else is
# job-bound: driver gaps between jobs or jobs too small to fill the slots.
ACTIVE_MIN, UTIL_MIN = 0.6, 0.5


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout.splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def bound(layers):
    active = layers["sched.job_active_s"]
    wall = active + layers["sched.driver_gap_s"]
    share = active / wall if wall else 0.0
    kind = "executor" if share >= ACTIVE_MIN and layers["sched.slot_util"] >= UTIL_MIN else "job"
    return share, kind


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    names = args.workloads or [w["name"] for w in spec["workloads"]]

    rows, overhead = [], []
    for w in names:
        plain_d, plain = run(w, args.seed, seconds, 0)
        traced_d, traced = run(w, args.seed, seconds, 1)
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        share, kind = bound(layers)
        held = "held" if kind == STATED[w] else "REFUTED"
        rows.append(
            f"| {w} | {traced_d['details']['ops']} | {share:.2f} | "
            f"{layers['sched.slot_util']:.2f} | {layers['sched.jobs']:.1f} | "
            f"{layers['build.jobs']:.1f} | {layers['exec.task_s']:.3f} | "
            f"{layers['sched.driver_gap_s']:.3f} | {kind} | {STATED[w]} | {held} |")
        for name, m in plain["metrics"].items():
            t = traced_d["details"]["end_to_end"][name]["value"]
            u = m["value"]
            if u is None or t is None:  # no lexical search on neardup_batch
                continue
            overhead.append(f"| {w} | {name} | {u:.4g} | {t:.4g} | {t - u:+.4g} | "
                            f"{(t - u) / u * 100:+.1f} % | {m['unit']} |")

    lines = [
        "# Layer attribution",
        "",
        f"Generated by `python3 perfbench/attribution.py --seed {args.seed} "
        f"{' '.join(names)}` "
        f"({seconds} s runs, `local[{os.cpu_count()}]`). "
        f"One untraced and one traced run per workload, same seed.",
        "",
        "Job-active share = job-active seconds / (job-active + driver-gap "
        "seconds) over the measured window. A workload counts as "
        f"executor-bound when that share is at least {ACTIVE_MIN} and "
        f"`sched.slot_util` is at least {UTIL_MIN}; otherwise job-bound.",
        "",
        "| workload | ops | job-active share | sched.slot_util | jobs/op | "
        "build.jobs/op | exec.task_s/op | driver_gap_s/op | measured | stated | reason |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
        *rows,
        "",
        "## Tracing overhead (traced minus untraced)",
        "",
        "| workload | metric | untraced | traced | difference | relative | unit |",
        "|---|---|---|---|---|---|---|",
        *overhead,
        "",
    ]
    with open(os.path.join(HERE, "ATTRIBUTION.md"), "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
