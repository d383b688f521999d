#!/usr/bin/env python3
"""Diff two traced runs of one workload. From the repo root:

    python3 perfbench/tracediff.py A.ops.tsv B.ops.tsv

Counts first: for each operation (matched by name and occurrence), do its
job, stage and exchange counts repeat exactly? Then time: the self time of
each layer per pass, side by side, from the matching .layers.tsv files.
"""
import csv
import sys


def ops(path):
    seen, out = {}, {}
    with open(path) as fh:
        for row in csv.DictReader(fh, delimiter="\t"):
            k = (row["op"], seen.setdefault(row["op"], 0))
            seen[row["op"]] += 1
            out[k] = (int(row["jobs"]), int(row["stages"]), int(row["exchanges"]))
    return out


def layers(path):
    out = {}
    with open(path) as fh:
        next(fh)
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) >= 2 and parts[1]:
                out[parts[0]] = float(parts[1])
    return out


def main(a, b):
    oa, ob = ops(a), ops(b)
    common = sorted(set(oa) & set(ob))
    same = [k for k in common if oa[k] == ob[k]]
    print(f"counts (jobs, stages, exchanges) repeat on {len(same)} of {len(common)} operations "
          f"({100.0 * len(same) / max(1, len(common)):.1f} %)")
    for k in common:
        if oa[k] != ob[k]:
            print(f"  {k[0]} #{k[1]}: {oa[k]} vs {ob[k]}")
    la = layers(a.replace(".ops.tsv", ".layers.tsv"))
    lb = layers(b.replace(".ops.tsv", ".layers.tsv"))
    print(f"\n{'layer':52} {'A ms':>10} {'B ms':>10} {'B/A':>6}")
    for k in sorted(set(la) | set(lb), key=lambda k: -la.get(k, 0)):
        va, vb = la.get(k, 0.0), lb.get(k, 0.0)
        print(f"{k:52} {va:10.1f} {vb:10.1f} {vb / va if va else float('nan'):6.2f}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
