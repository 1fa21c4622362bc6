#!/usr/bin/env python3
"""Alternating A/B pairs of one perfbench workload between two checkouts.

For each seed, runs `perfbench/run.py` untraced in checkout A and in
checkout B, A first on odd pairs and B first on even ones (each checkout
builds its own copy on first use), and reads the new
detail report each run leaves under `<checkout>/.bench_build/results/`:
the gated end-to-end metric and `units`, the measured passes or cycles
that fit in the window. A 5 s `operators` window holds 2 or 3 passes, and
a pass count splits a metric into two clusters, so the summary reports
the gap within equal unit counts next to the overall one.

Each end-to-end metric is then judged against the `bound` and `better`
that A's BENCHMARK.json declares for it (the file is only read): WORSE
when B's median is worse than A's by more than bound x A's median,
UNRESOLVED when either side's quartile spread is wider than bound x its
median (unless every B run beats every A run), ok otherwise. The exit
status is 1 when any metric is WORSE or UNRESOLVED, so a change that
claims no gain can be checked with one command.

    python3 tools/bench_ab.py A_DIR B_DIR [--workload operators]
        [--seeds 1-10] [--seconds 5] [--metric cpu_s.per_unit]
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, secs):
    """One untraced run; returns its detail report."""
    pattern = os.path.join(checkout, ".bench_build", "results", f"{workload}-s{seed}-t0-*.json")
    before = set(glob.glob(pattern))
    subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                    str(seed), "--seconds", str(secs), "--trace", "0"],
                   cwd=checkout, check=True, stdout=subprocess.DEVNULL)
    (new,) = set(glob.glob(pattern)) - before
    with open(new) as fh:
        return json.load(fh)


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], q[2]


def verdict(a, b, bound, better):
    """WORSE, UNRESOLVED or ok for one metric's A runs and B runs."""
    sign = 1 if better == "lower" else -1
    ma, mb = statistics.median(a), statistics.median(b)
    if sign * (mb - ma) > bound * abs(ma):
        return "WORSE"
    wide = any(q3 - q1 > bound * abs(statistics.median(v))
               for v, (q1, q3) in ((a, quartiles(a)), (b, quartiles(b))))
    if wide and not max(sign * x for x in b) < min(sign * x for x in a):
        return "UNRESOLVED"
    return "ok"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", default="operators")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--metric", default="cpu_s.per_unit")
    args = ap.parse_args()

    pairs = []
    reports = []
    print("seed  A value  A units  B value  B units", flush=True)
    for i, s in enumerate(seeds(args.seeds)):
        first, second = (args.a, args.b) if i % 2 == 0 else (args.b, args.a)
        r1 = run(first, args.workload, s, args.seconds)
        r2 = run(second, args.workload, s, args.seconds)
        ra, rb = (r1, r2) if i % 2 == 0 else (r2, r1)
        va, vb = (r["end_to_end"][args.metric]["value"] for r in (ra, rb))
        pairs.append((s, va, ra["units"], vb, rb["units"]))
        reports.append((ra, rb))
        print(f"{s:4d}  {va:7.3f}  {ra['units']:7d}  {vb:7.3f}  {rb['units']:7d}", flush=True)

    a = [p[1] for p in pairs]
    b = [p[3] for p in pairs]
    q1, q3 = quartiles(a)
    lower = sum(vb < va for _, va, _, vb, _ in pairs)
    print(f"{args.metric}: A median {statistics.median(a):.3f} (IQR {q1:.3f}-{q3:.3f}), "
          f"B median {statistics.median(b):.3f}; B lower in {lower} of {len(pairs)} pairs")
    for u in sorted({p[2] for p in pairs} | {p[4] for p in pairs}):
        au = [p[1] for p in pairs if p[2] == u]
        bu = [p[3] for p in pairs if p[4] == u]
        if au and bu:
            print(f"  units {u}: A median {statistics.median(au):.3f} over {len(au)} runs, "
                  f"B median {statistics.median(bu):.3f} over {len(bu)} runs")
    with open(os.path.join(args.a, "BENCHMARK.json")) as fh:
        rules = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    failed = 0
    for name in sorted(reports[0][0]["end_to_end"]):
        sides = [[r[k]["end_to_end"][name]["value"] for r in reports] for k in (0, 1)]
        (aq1, aq3), (bq1, bq3) = (quartiles(v) for v in sides)
        rule = rules.get(name)
        v = verdict(*sides, rule["bound"], rule["better"]) if rule else "no bound"
        failed += v in ("WORSE", "UNRESOLVED")
        print(f"{name}: A {statistics.median(sides[0]):.4g} ({aq1:.4g}-{aq3:.4g}), "
              f"B {statistics.median(sides[1]):.4g} ({bq1:.4g}-{bq3:.4g}): {v}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
