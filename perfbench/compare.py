#!/usr/bin/env python3
"""Parent-versus-change comparison of benchmark runs.

    python3 perfbench/compare.py run --parent DIR --change DIR --out OUT
    python3 perfbench/compare.py report OUT

`run` measures two checkouts with this copy of the benchmark code (so both
sides run identical benchmark code and settings): ten pairs per
workload, each pair on its own seed, alternating which side runs first.
Each run's result line is kept as `OUT/<side>/<workload>.<seed>.json`.

`report` prints, for each workload and end-to-end metric, both sides'
medians and quartiles, the share of pairs the change won (ties count for
neither side), and a verdict:

- improved: the change won at least 9 in 10 pairs, and the medians differ
  by more than the parent's own quartile spread;
- no worse: the change's median is not worse than the parent's by more
  than the metric's bound, and the parent's spread is within the bound;
- worse: the change's median is worse by more than the bound, and the
  parent's spread is within the bound;
- unresolved: the spread is wider than the bound, unless every change
  run reads better than every parent run (then: improved).

Every run is listed below the table.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
PAIRS = 10


def run_pairs(a):
    cmd = [sys.executable, os.path.join(HERE, "run.py")]
    for i in range(PAIRS):
        seed = i + 1
        sides = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            sides.reverse()
        for w in [x["name"] for x in SPEC["workloads"]]:
            for side, checkout in sides:
                os.makedirs(os.path.join(a.out, side), exist_ok=True)
                r = subprocess.run(cmd + ["--workload", w, "--seed", str(seed), "--seconds",
                                          str(SPEC["run_seconds"]), "--trace", "0"],
                                   cwd=checkout, stdout=subprocess.PIPE, text=True)
                line = r.stdout.strip().splitlines()[-1] if r.returncode == 0 else "{}"
                with open(os.path.join(a.out, side, f"{w}.{seed}.json"), "w") as f:
                    f.write(line + "\n")
                print(f"pair {i} {w} {side}: rc={r.returncode}", file=sys.stderr)


def load(out, side):
    runs = {}
    for p in glob.glob(os.path.join(out, side, "*.json")):
        w, seed, _ = os.path.basename(p).rsplit(".", 2)
        runs.setdefault(w, {})[int(seed)] = json.load(open(p))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, lower_better, bound, pairs):
    sign = 1 if lower_better else -1
    won = sum(1 for p, c in pairs if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    all_better = max(sign * c for c in chg) < min(sign * p for p in par)
    if all_better or (won >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1 and sign * (cm - pm) < 0):
        v = "improved"
    elif spread > bound:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return v, won


def failed(runs):
    """Failed ops over all runs; a run without a result counts as one."""
    return sum(r["failed"] if "failed" in r else 1 for r in runs.values())


def report(out):
    par, chg = load(out, "parent"), load(out, "change")
    metrics = SPEC["end_to_end"]
    print(f"{'workload':14s} {'metric':12s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'won':>7s}  verdict")
    for w in sorted(set(par) & set(chg)):
        seeds = sorted(set(par[w]) & set(chg[w]))
        for m in metrics:
            name = m["name"]
            pairs = [(par[w][s]["metrics"][name]["value"], chg[w][s]["metrics"][name]["value"])
                     for s in seeds
                     if name in par[w][s].get("metrics", {}) and name in chg[w][s].get("metrics", {})]
            if not pairs:
                continue
            pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
            v, won = verdict(pv, cv, m["better"] == "lower", m["bound"], pairs)
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:14s} {name:12s} {fmt(pv):>30s} {fmt(cv):>30s} "
                  f"{won:>3d}/{len(pairs):<3d}  {v}")
    for w in sorted(set(par) | set(chg)):
        print(f"{w}: failed ops, parent {failed(par.get(w, {}))}, change {failed(chg.get(w, {}))} "
              "(a gain does not count when the change fails more ops)")
    print("\nruns (seed: parent -> change, correct/attempted/failed):")
    for w in sorted(set(par) | set(chg)):
        for s in sorted(set(par.get(w, {})) | set(chg.get(w, {}))):
            for side, runs in (("parent", par), ("change", chg)):
                r = runs.get(w, {}).get(s, {})
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r.get("metrics", {}).items())
                print(f"  {w} seed {s} {side}: correct={r.get('correct')} "
                      f"attempted={r.get('attempted')} failed={r.get('failed')} {vals}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("out")
    a = ap.parse_args()
    if a.cmd == "run":
        run_pairs(a)
    report(a.out)


if __name__ == "__main__":
    main()
