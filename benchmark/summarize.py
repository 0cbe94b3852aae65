#!/usr/bin/env python3
"""Summarize traced benchmark runs: per-layer self time and counts per
workload, and the tracing overhead.

    python3 benchmark/summarize.py [benchmark/out]

Reads the span files benchmark/run.py --trace 1 leaves in out/traces/ and
the result records in out/results/. A span's self time is its duration
minus the time of its child spans. Only spans of measured ops count
(set-up and cold ops are listed separately). The overhead compares, per
workload and seed, the ops per second of the untraced run with that of
the traced run.
"""
import collections
import glob
import json
import os
import statistics
import sys


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarize(spans):
    child_us = collections.Counter()
    for s in spans:
        if s["parent"] >= 0:
            child_us[s["parent"]] += s["end_us"] - s["start_us"]
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0, 0, 0])
    ops = {s["op"] for s in spans if s["op"] >= 0}
    for s in spans:
        phase = "measured" if s["op"] >= 0 else "set-up"
        r = rows[(phase, s["name"])]
        dur = s["end_us"] - s["start_us"]
        r[0] += 1
        r[1] += dur / 1000
        r[2] += (dur - child_us[s["id"]]) / 1000
        r[3] += s["jobs"]
        r[4] += s["tasks"]
    return rows, len(ops)


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "out")
    by_workload = collections.defaultdict(list)
    for path in sorted(glob.glob(os.path.join(out, "traces", "*.jsonl"))):
        workload = os.path.basename(path).rsplit("-s", 1)[0]
        by_workload[workload].append(path)
    for workload, paths in sorted(by_workload.items()):
        total = collections.defaultdict(lambda: [0, 0.0, 0.0, 0, 0])
        n_ops = 0
        for p in paths:
            rows, n = summarize(load_spans(p))
            n_ops += n
            for k, v in rows.items():
                total[k] = [a + b for a, b in zip(total[k], v)]
        print(f"== {workload}: {len(paths)} traced run(s), {n_ops} measured ops")
        print(f"{'phase':9} {'span':38} {'calls':>6} {'self ms/op':>11} "
              f"{'total ms/op':>12} {'jobs/op':>8} {'tasks/op':>9}")
        for (phase, name), (calls, tot, self_ms, jobs, tasks) in sorted(
                total.items(), key=lambda kv: (kv[0][0] != "measured", -kv[1][2])):
            div = n_ops if phase == "measured" else len(paths)
            print(f"{phase:9} {name:38} {calls:6d} {self_ms / div:11.1f} "
                  f"{tot / div:12.1f} {jobs / div:8.2f} {tasks / div:9.1f}")
        ratios = []
        for p in paths:
            seed = os.path.basename(p).rsplit("-s", 1)[1].split(".")[0]
            recs = {}
            for t in (0, 1):
                f = os.path.join(out, "results", f"{workload}-s{seed}-t{t}.json")
                if os.path.isfile(f):
                    with open(f) as fh:
                        recs[t] = json.load(fh)["end_to_end"]["ops_per_s"]["value"]
            if len(recs) == 2:
                ratios.append(recs[0] / recs[1] - 1)
        if ratios:
            print(f"tracing overhead (untraced/traced ops per second - 1, "
                  f"{len(ratios)} seed(s)): median {100 * statistics.median(ratios):.1f}%")
        else:
            print("tracing overhead: no seed has both an untraced and a traced run")
        print()


if __name__ == "__main__":
    main()
