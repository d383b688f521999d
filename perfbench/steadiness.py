#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread: the
distance between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)). From the repo root:

    python3 perfbench/steadiness.py --workloads graph_iter,ingest_views \\
        --seeds 1-10 [--trace 0] [--out .bench_work/steadiness.json]
    python3 perfbench/steadiness.py --compare A.json B.json

Prints one row per (workload, metric) with its median, spread and the
bound from BENCHMARK.json; the raw values go to --out. --compare reads two
such files (two sets of runs of the same code) and prints each set's
spread and the change of the median from the first set to the second.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def spread(vs):
    med = statistics.median(vs)
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return med, (q3 - q1) / med


def compare(a, b, bounds):
    va, vb = json.load(open(a)), json.load(open(b))
    print(f"{'workload':18} {'metric':16} {'median A':>10} {'spread A':>9} "
          f"{'median B':>10} {'spread B':>9} {'B/A-1':>7} {'bound':>6}")
    for w in va:
        for name in va[w]:
            ma, sa = spread(va[w][name])
            mb, sb = spread(vb[w][name])
            print(f"{w:18} {name:16} {ma:10.4f} {sa:9.4f} {mb:10.4f} {sb:9.4f} "
                  f"{mb / ma - 1:7.4f} {bounds.get(name, ''):>6}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--compare", nargs=2, metavar="SET.json")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=os.path.join(".bench_work", "steadiness.json"))
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    if args.compare:
        return compare(*args.compare, bounds)
    seconds = str(bench["run_seconds"])
    values = {}
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", seconds, "--trace", args.trace],
                               stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                raise SystemExit(f"{w} seed {s}: exit {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                print(f"{w} seed {s}: {res['failed']} of {res['attempted']} failed", file=sys.stderr)
            for name, m in res["metrics"].items():
                values.setdefault(w, {}).setdefault(name, []).append(m["value"])
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    json.dump(values, open(args.out, "w"), indent=1)
    print(f"{'workload':18} {'metric':28} {'median':>12} {'spread':>8} {'bound':>6}")
    for w, ms in values.items():
        for name, vs in ms.items():
            med, sp = spread(vs) if len(vs) > 1 and statistics.median(vs) else (vs[0], 0.0)
            b = bounds.get(name)
            print(f"{w:18} {name:28} {med:12.4f} {sp:8.4f} {b if b is not None else '':>6}")


if __name__ == "__main__":
    main()
