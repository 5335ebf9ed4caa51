#!/usr/bin/env python3
"""Diff two sets of flightbench results by workload and metric.

Each side is a result file written by run.py (flightbench/out/*.json) or a
directory of them. Runs of one workload and trace mode are pooled, and each
metric is reported as the median of its runs with the quartile spread, so
ten seeds per side compare as ten seeds per side.

    python3 flightbench/compare.py BASE NEW          # base vs change
    python3 flightbench/compare.py --overhead UNTRACED TRACED

--overhead compares the end-to-end metrics of untraced runs with those the
traced runs recorded for the same workloads: the cost of tracing.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path


def load(path):
    """{(workload, traced): [result, ...]} from a file or a directory."""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        if f.name.endswith(".trace.json"):
            continue
        try:
            r = json.loads(f.read_text())
        except ValueError:
            continue
        if "context" not in r or "result" not in r:
            continue
        key = (r["context"]["workload"], bool(r["context"]["trace"]))
        runs.setdefault(key, []).append(r)
    return runs


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q = statistics.quantiles(values, n=4)
        spread = (q[2] - q[0]) / med if med else 0.0
    else:
        spread = float("nan")
    return med, spread


def metric_values(results, section):
    out = {}
    for r in results:
        metrics = r[section] if section != "printed" else {
            k: v["value"] for k, v in r["result"]["metrics"].items()}
        for k, v in metrics.items():
            out.setdefault(k, []).append(v)
    return out


def table(title, base, new, names=None):
    print(title)
    print(f"  {'metric':44s} {'base':>12s} {'spread':>7s} {'new':>12s} {'spread':>7s} {'change':>8s}")
    for k in names or sorted(set(base) | set(new)):
        if k not in base or k not in new:
            continue
        bm, bs = summary(base[k])
        nm, ns = summary(new[k])
        change = f"{(nm - bm) / bm:+8.1%}" if bm else "       -"
        print(f"  {k:44s} {bm:12.4g} {bs:7.3f} {nm:12.4g} {ns:7.3f} {change}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--overhead", action="store_true",
                    help="base = untraced runs, new = traced runs of the same workloads")
    a = ap.parse_args(argv)
    base, new = load(a.base), load(a.new)
    if a.overhead:
        for (w, traced), untraced_runs in sorted(base.items()):
            traced_runs = new.get((w, True))
            if traced or not traced_runs:
                continue
            table(f"{w}: tracing overhead (untraced vs traced, end to end)",
                  metric_values(untraced_runs, "end_to_end"),
                  metric_values(traced_runs, "end_to_end"))
        return 0
    for key in sorted(set(base) & set(new)):
        w, traced = key
        b, n = base[key], new[key]
        fails = [sum(r["result"]["failed"] for r in rs) for rs in (b, n)]
        print(f"{w} ({'traced' if traced else 'untraced'}): runs {len(b)} vs {len(n)}, "
              f"failed {fails[0]} vs {fails[1]}")
        table("  printed metrics", metric_values(b, "printed"), metric_values(n, "printed"))
        if not traced:
            table("  per-layer (recorded in untraced runs too)",
                  metric_values(b, "per_layer"), metric_values(n, "per_layer"))
    missing = sorted(set(base) ^ set(new))
    if missing:
        print("only on one side:", ", ".join(f"{w}{' traced' if t else ''}" for w, t in missing))
    return 0


if __name__ == "__main__":
    sys.exit(main())
