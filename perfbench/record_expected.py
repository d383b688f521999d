#!/usr/bin/env python3
"""Record perfbench/expected.tsv: the row count and content fingerprint of
every query the query workloads run. From the repo root:

    python3 perfbench/record_expected.py

Each workload is recorded in two JVMs, two passes each. A query whose
fingerprint is not the same in all four passes is kept as row count only
(`-`); a query whose row count differs is an error.
"""
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["relational_short", "text_dedup", "graph_iter"]


def main():
    rows, fps = {}, {}
    with tempfile.TemporaryDirectory(dir=os.path.join(os.getcwd(), ".bench_work")) as tmp:
        for w in WORKLOADS:
            for i in range(2):
                out = os.path.join(tmp, f"{w}.{i}.tsv")
                subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "0", "--seconds", "1", "--trace", "0", "--record", out],
                               check=True)
                for line in open(out):
                    name, n, fp = line.rstrip("\n").split("\t")
                    if rows.setdefault(name, n) != n:
                        raise SystemExit(f"{name}: row count {n} vs {rows[name]}")
                    fps.setdefault(name, set()).add(fp)
    with open(os.path.join(HERE, "expected.tsv"), "w") as fh:
        fh.write("# query\trows\tfingerprint ('-': row count only)\n")
        for name in sorted(rows):
            fp = fps[name].pop() if len(fps[name]) == 1 else "-"
            fh.write(f"{name}\t{rows[name]}\t{fp}\n")


if __name__ == "__main__":
    main()
