#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare two sets against the bounds.

Usage, from the repository root:

    python3 perfbench/compare.py collect DIR [--workloads a,b] [--seeds 1-10] [--trace 0|1]
    python3 perfbench/compare.py spread DIR
    python3 perfbench/compare.py compare DIR_A DIR_B

`collect` runs perfbench/run.py once per workload and seed and keeps each
run's JSON line as DIR/<workload>/seed-<n>-t<trace>.json. `spread` prints,
per workload and metric, the median and the distance between the first and
third quartile as a share of the median. `compare` prints, per workload and
end-to-end metric, both medians, both spreads and whether the two sets
agree within the metric's bound from BENCHMARK.json; for traced sets it
also checks that every count metric is identical in every run.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(d):
    """{workload: {"e2e" | "layer": [summary, ...]}} from a collected set."""
    runs = {}
    for f in sorted(Path(d).glob("*/seed-*.json")):
        kind = "layer" if f.stem.endswith("-t1") else "e2e"
        runs.setdefault(f.parent.name, {}).setdefault(kind, []).append(
            json.loads(f.read_text()))
    return runs


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def values(summaries, metric):
    return [s["metrics"][metric]["value"] for s in summaries if metric in s["metrics"]]


def cmd_collect(a):
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        out = Path(a.dir) / w
        out.mkdir(parents=True, exist_ok=True)
        for s in seeds:
            cmd = SPEC["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                     str(SPEC["run_seconds"]), "--trace", str(a.trace)]
            p = subprocess.run(cmd, capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line.startswith("{"):
                print(f"{w} seed {s}: run failed (rc={p.returncode})\n{p.stderr[-2000:]}")
                continue
            (out / f"seed-{s}-t{a.trace}.json").write_text(line + "\n")
            r = json.loads(line)
            print(f"{w} seed {s}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}", flush=True)
    cmd_spread(a)


def cmd_spread(a):
    for w, kinds in load(a.dir).items():
        for kind, runs in kinds.items():
            names = sorted({k for r in runs for k in r["metrics"]})
            for m in names:
                med, sp = spread(values(runs, m))
                bound = BOUNDS.get(m, {}).get("bound")
                note = "" if bound is None else \
                    f" bound={bound} {'ok' if sp < bound / 3 else 'WIDE'}"
                print(f"{w:20s} {m:30s} n={len(values(runs, m)):2d} median={med:.6g}"
                      f" spread={sp:.4f}{note}")


def cmd_compare(a):
    A, B = load(a.dir_a), load(a.dir_b)
    agree = True
    for w in sorted(set(A) | set(B)):
        ra, rb = A.get(w, {}).get("e2e", []), B.get(w, {}).get("e2e", [])
        for m, spec in BOUNDS.items():
            va, vb = values(ra, m), values(rb, m)
            if not va or not vb:
                print(f"{w:20s} {m:18s} missing in one set")
                agree = False
                continue
            (ma, sa), (mb, sb) = spread(va), spread(vb)
            worse = (mb - ma) / ma if spec["better"] == "lower" else (ma - mb) / ma
            ok = abs(mb - ma) / ma <= spec["bound"] and \
                sa <= spec["bound"] and sb <= spec["bound"]
            agree &= ok
            print(f"{w:20s} {m:18s} A={ma:.6g} B={mb:.6g} B-worse={worse:+.4f} "
                  f"spreadA={sa:.4f} spreadB={sb:.4f} bound={spec['bound']} "
                  f"{'agree' if ok else 'DIFFER'}")
        traced = A.get(w, {}).get("layer", []) + B.get(w, {}).get("layer", [])
        counts = sorted({k for r in traced for k, v in r["metrics"].items()
                         if v["unit"] == "count"})
        for m in counts:
            vs = set(values(traced, m))
            same = len(vs) == 1
            agree &= same
            print(f"{w:20s} {m:30s} {'repeats' if same else 'VARIES'} {sorted(vs)}")
    print("sets agree" if agree else "sets DIFFER")
    return 0 if agree else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("dir")
    c.add_argument("--workloads")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    k = sub.add_parser("compare")
    k.add_argument("dir_a")
    k.add_argument("dir_b")
    a = ap.parse_args()
    if a.cmd == "collect":
        cmd_collect(a)
    elif a.cmd == "spread":
        cmd_spread(a)
    else:
        sys.exit(cmd_compare(a))


if __name__ == "__main__":
    main()
