#!/usr/bin/env python3
"""Compares two full reports written by perfbench/run.py.

    python3 perfbench/compare.py A.json B.json

Reports live in .bench_build/results/<workload>-seed<n>-trace<t>.json.
Two runs of one workload with the same trace setting are compared metric
by metric (B relative to A). An untraced and a traced run of the same
workload and seed give the tracing overhead: traced minus untraced, per
end-to-end metric. Reports from hosts with a different number of CPUs are
not compared: wall times do not transfer between them.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        return json.load(fh)


def main(a_path, b_path):
    a, b = load(a_path), load(b_path)
    sa, sb = a["stamp"], b["stamp"]
    if sa["nproc"] != sb["nproc"]:
        print(f"refused: the runs come from hosts with {sa['nproc']} and {sb['nproc']} CPUs; "
              "wall times from different CPU counts are not comparable")
        return 2
    if sa["workload"] != sb["workload"]:
        print(f"refused: workloads differ ({sa['workload']} vs {sb['workload']})")
        return 2
    if sa["trace"] != sb["trace"]:
        if sa["seed"] != sb["seed"]:
            print("refused: tracing overhead needs an untraced and a traced run of the same seed")
            return 2
        untraced, traced = (a, b) if not sa["trace"] else (b, a)
        print(f"tracing overhead on {sa['workload']} (seed {sa['seed']}): traced - untraced")
        for name, m in sorted(untraced["end_to_end"].items()):
            t = traced["end_to_end"][name]["value"]
            u = m["value"]
            share = (t - u) / u if u else float("nan")
            print(f"  {name:16s} {u:14.4f} -> {t:14.4f} {m['unit']:6s} {t - u:+12.4f} ({share:+.1%})")
        return 0
    key = "per_layer" if sa["trace"] else "end_to_end"
    print(f"{sa['workload']}: seed {sa['seed']} -> seed {sb['seed']}, {key}")
    for name in sorted(a[key]):
        va = a[key][name]["value"] if isinstance(a[key][name], dict) else a[key][name]
        vb = b[key][name]["value"] if isinstance(b[key][name], dict) else b[key][name]
        rel = f"{(vb - va) / va:+.1%}" if va else "n/a"
        print(f"  {name:36s} {va:16.4f} {vb:16.4f} {rel:>8s}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
