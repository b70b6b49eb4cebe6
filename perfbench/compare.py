#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark results.

    python3 perfbench/compare.py <parent_results> <change_results> [--benchmark BENCHMARK.json]

Each side is a directory (or a single file) of captured `perfbench/run.py`
outputs, one run per file. A capture may carry log prefixes such as sbt's
`[info] `; the parser strips them and takes the last JSON result object in
the file, plus the `detail` line for the workload name. Runs pair up in
seed order (the n-th parent run against the n-th change run).

For every workload and end-to-end metric it prints both sides' median and
quartiles, the pairs the change won, and a verdict against the metric's
bound in BENCHMARK.json:

- improved: the change wins at least nine tenths of the pairs and the
  medians differ by more than the parent's quartile spread;
- regressed: the change's median is worse than the parent's by more than
  the bound;
- unresolved: the parent's quartile spread is wider than the bound, and not
  every change run beats every parent run;
- no worse: otherwise.

It also compares the error rate (failed / attempted operations): any
failure on the change side where the parent had none is a regression.
With --all it adds every other metric of the `detail` lines (latencies,
per-layer metrics) with quartiles and pair wins, but no verdict: the
benchmark fixes no bound for them.
"""
import argparse
import json
import os
import re
import statistics
import sys

PREFIX = re.compile(r"^(\[[A-Za-z]+\]\s?)+")


def parse(text):
    """The last result object and the detail object of one captured run."""
    result = detail = None
    for raw in text.splitlines():
        line = PREFIX.sub("", raw.strip())
        if line.startswith("detail {"):
            try:
                detail = json.loads(line[len("detail "):])
            except ValueError:
                pass
        elif line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and {"correct", "attempted", "failed", "metrics"} <= set(obj):
                result = obj
    return result, detail


def load(path):
    """{workload: [(seed, result), ...]} for every parseable run under path."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path))
    runs = {}
    for f in files:
        with open(f, errors="replace") as fh:
            result, detail = parse(fh.read())
        if result is None:
            print(f"skipping {f}: no result line", file=sys.stderr)
            continue
        name = os.path.basename(f)
        workload = detail["workload"] if detail else name.split("-")[0]
        seed = detail["seed"] if detail else name
        # ungated metrics ride along under their own key
        result = dict(result, detail=detail["metrics"] if detail else {})
        runs.setdefault(workload, []).append((seed, result))
    for v in runs.values():
        v.sort(key=lambda sr: str(sr[0]))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, better, bound):
    """Verdict and pair wins for one metric; a and b are run-ordered lists."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    worse = sign * (ma - mb) / abs(ma) if ma else 0.0
    spread = (qa3 - qa1) / abs(ma) if ma else 0.0
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if pairs and wins >= 0.9 * len(pairs) and sign * (mb - ma) > qa3 - qa1:
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regressed"
    else:
        v = "no worse"
    return v, wins, losses


def compare(parent, change, spec, ungated=False):
    """Rows of (workload, metric, parent quartiles, change quartiles, wins,
    pairs, verdict) plus one error-rate row per workload; with `ungated`,
    also a row (verdict "-", wins counted as higher values) for every other
    detail metric both sides measured."""
    rows = []
    for workload in sorted(set(parent) & set(change)):
        pa, ch = parent[workload], change[workload]
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for _, r in pa if m["name"] in r["metrics"]]
            b = [r["metrics"][m["name"]]["value"] for _, r in ch if m["name"] in r["metrics"]]
            if not a or not b:
                continue
            v, wins, losses = verdict(a, b, m["better"], m["bound"])
            rows.append((workload, m["name"], quartiles(a), quartiles(b), wins,
                         min(len(a), len(b)), v))
        fa, aa = sum(r["failed"] for _, r in pa), sum(r["attempted"] for _, r in pa)
        fb, ab = sum(r["failed"] for _, r in ch), sum(r["attempted"] for _, r in ch)
        ra, rb = fa / max(1, aa), fb / max(1, ab)
        v = "regressed" if rb > ra else ("improved" if rb < ra else "no worse")
        rows.append((workload, "error_rate", (ra, ra, ra), (rb, rb, rb), 0,
                     min(len(pa), len(ch)), v))
        if ungated:
            gated = {m["name"] for m in spec["end_to_end"]} | {"error_rate"}
            names = sorted(set().union(*(r["detail"] for _, r in pa + ch)) - gated)
            for name in names:
                a = [r["detail"][name]["value"] for _, r in pa if name in r["detail"]]
                b = [r["detail"][name]["value"] for _, r in ch if name in r["detail"]]
                if a and b:
                    _, wins, _ = verdict(a, b, "higher", float("inf"))
                    rows.append((workload, name, quartiles(a), quartiles(b), wins,
                                 min(len(a), len(b)), "-"))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--all", action="store_true", help="also list ungated detail metrics")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        spec = json.load(f)
    rows = compare(load(a.parent), load(a.change), spec, ungated=a.all)
    print(f"{'workload':14s} {'metric':24s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>7s}  verdict")
    for w, m, qa, qb, wins, n, v in rows:
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        print(f"{w:14s} {m:24s} {fa:>30s} {fb:>30s} {wins:>3d}/{n:<3d}  {v}")
    return 1 if any(r[-1] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
