#!/usr/bin/env python3
"""Summarize the detail reports perfbench/run.py leaves in .bench_build/results.

Per workload: the median of each end-to-end metric over untraced and over
traced runs side by side (their difference is the tracing overhead), the
named workload metrics, the host record of every run, and the traced
runs' top-level span coverage. `--json` prints the untraced medians and
quartiles instead.

    python3 perfbench/report.py [--json] [results-dir]
"""
import glob
import json
import os
import statistics
import sys


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], q[2]


def load(rdir):
    runs = []
    for f in sorted(glob.glob(os.path.join(rdir, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        raise SystemExit(f"no reports under {rdir}")
    return runs


def metric_units(runs):
    """End-to-end metric -> unit over all runs; reports written by an
    older benchmark version may lack some metrics."""
    units = {}
    for r in runs:
        for n, m in r["end_to_end"].items():
            units.setdefault(n, m["unit"])
    return units


def summary(runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        if not plain:
            continue
        metrics = {}
        for n, unit in metric_units(plain).items():
            vs = [r["end_to_end"][n]["value"] for r in plain if n in r["end_to_end"]]
            q1, q3 = quartiles(vs)
            med = statistics.median(vs)
            metrics[n] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                          "iqr_share": (q3 - q1) / med if med else 0.0, "runs": len(vs)}
        detail = {}
        for r in plain:
            for n, m in r["detail"]:
                detail.setdefault(n, {"unit": m["unit"], "values": []})["values"].append(m["value"])
        out[w] = {
            "runs": len(plain),
            "seeds": [r["seed"] for r in plain],
            "seconds": plain[0]["seconds"],
            "end_to_end": metrics,
            "detail_medians": {n: {"unit": d["unit"], "median": statistics.median(d["values"])}
                               for n, d in detail.items()},
            "host": {
                "nproc": sorted({r["host"]["nproc"] for r in plain}),
                "spark_master": sorted({r["host"]["spark_master"] for r in plain}),
                "jdbc_connections": sorted({r["host"]["jdbc_connections"] for r in plain}),
                "calib_start_s_median": statistics.median(r["host"]["calib_start_s"] for r in plain),
                "calib_end_s_median": statistics.median(r["host"]["calib_end_s"] for r in plain),
                "load_avg_start_median": statistics.median(r["host"]["load_avg_start"] for r in plain),
                "cpu_steal_share_median": statistics.median(r["host"].get("cpu_steal_share", 0.0)
                                                            for r in plain),
            },
        }
    return out


def main():
    args = [a for a in sys.argv[1:] if a != "--json"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rdir = args[0] if args else os.path.join(root, ".bench_build", "results")
    runs = load(rdir)
    if "--json" in sys.argv:
        print(json.dumps(summary(runs), indent=2))
        return
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        plain = [r for r in mine if not r["trace"]]
        traced = [r for r in mine if r["trace"]]
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced runs")
        print(f"  {'metric':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
        for n, unit in metric_units(mine).items():
            a = [r["end_to_end"][n]["value"] for r in plain if n in r["end_to_end"]]
            b = [r["end_to_end"][n]["value"] for r in traced if n in r["end_to_end"]]
            ma = statistics.median(a) if a else None
            mb = statistics.median(b) if b else None
            over = f"{(mb - ma) / ma:+.1%}" if ma and mb is not None else ""
            fmt = lambda v: f"{v:12.4f}" if v is not None else f"{'-':>12s}"
            print(f"  {n:24s} {fmt(ma)} {fmt(mb)} {over:>9s} {unit}")
        detail = {}
        for r in plain or traced:
            for n, m in r["detail"]:
                detail.setdefault(n, (m["unit"], []))[1].append(m["value"])
        for n, (unit, vs) in detail.items():
            print(f"  {n:28s} median {statistics.median(vs):12.4f} {unit}  (n={len(vs)})")
        cov = [r["top_span_coverage"] for r in traced if r.get("top_span_coverage")]
        if cov:
            print(f"  top-level span coverage: min {min(cov):.1%}, median {statistics.median(cov):.1%}")
        for r in mine:
            h = r["host"]
            print(f"  seed {r['seed']:>6} trace {int(r['trace'])}: nproc {h['nproc']} {h['spark_master']}"
                  f" jdbc {h['jdbc_connections']} load {h['load_avg_start']:.2f}->{h['load_avg_end']:.2f}"
                  f" calib {h['calib_start_s']:.3f}->{h['calib_end_s']:.3f} s"
                  f" steal {h.get('cpu_steal_share', 0.0):.1%}"
                  f" failures {len(r['failures'])}")


if __name__ == "__main__":
    main()
