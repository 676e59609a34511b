#!/usr/bin/env python3
"""Compares two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds the stdout of `run.py` runs, appended one after another
(a run record line followed by its result line). For each workload and
metric it prints both sides' median and quartiles, the fraction of pairs
the change won (run i of one side against run i of the other; ties count
for neither side), and a verdict:

  failures    the change's runs failed more operations in total than
              the base's, so no gain is claimed for any of its metrics
  gain        the change won at least 9/10 of the pairs and the medians
              differ by more than the base's own quartile distance
  regression  the change's median is worse than the base's by more than
              the metric's bound in BENCHMARK.json
  unresolved  a side's quartile distance, as a share of its median, is
              wider than the bound, and neither is every change run better
              than every base run nor every one worse
  same        none of the above

Metrics without a bound (per-layer ones) get a verdict only when their
values repeat exactly within each side.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    """(workload, metrics dict, failed ops) for every result line, matched
    to the run record line printed before it."""
    runs, workload = [], None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "workload" in obj:
                workload = obj["workload"]
            elif "metrics" in obj and workload is not None:
                runs.append((workload, {k: v["value"] for k, v in obj["metrics"].items()},
                             obj["failed"]))
                workload = None
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def pairs_won(base, change, lower_better):
    """Share of pairs (base[i], change[i]) where the change is better."""
    n = min(len(base), len(change))
    won = sum(1 for b, c in zip(base, change) if (c < b if lower_better else c > b))
    return won / n if n else 0.0, n


def separated(base, change, lower_better):
    """1 when every change run is better than every base run, -1 when
    every one is worse, else 0."""
    if lower_better:
        base, change = [-x for x in base], [-x for x in change]
    if min(change) > max(base):
        return 1
    if max(change) < min(base):
        return -1
    return 0


def verdict(base, change, spec, base_failed=0, change_failed=0):
    lower = spec.get("better", "lower") == "lower"
    bound = spec.get("bound")
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    won, n = pairs_won(base, change, lower)
    if won >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        return "failures" if change_failed > base_failed else "gain"
    if bound is None:
        if len(set(base)) == 1 and len(set(change)) == 1:
            return "same" if base[0] == change[0] else "changed"
        return "unresolved"
    worse = (cmed - bmed) / bmed if lower else (bmed - cmed) / bmed
    if bmed and worse > bound:
        return "regression"
    if max(spread(base), spread(change)) > bound and separated(base, change, lower) == 0:
        return "unresolved"
    return "same"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load_runs(argv[1]), load_runs(argv[2])
    workloads = sorted({r[0] for r in base} | {r[0] for r in change})
    print(f"{'workload':<14} {'metric':<44} {'base q1/med/q3':>30} {'change q1/med/q3':>30}"
          f" {'won':>9} verdict")
    for w in workloads:
        b_runs = [m for x, m, _ in base if x == w]
        c_runs = [m for x, m, _ in change if x == w]
        b_failed = sum(f for x, _, f in base if x == w)
        c_failed = sum(f for x, _, f in change if x == w)
        names = [k for k in specs if any(k in m for m in b_runs) and any(k in m for m in c_runs)]
        for k in names:
            b = [m[k] for m in b_runs if k in m]
            c = [m[k] for m in c_runs if k in m]
            lower = specs[k].get("better", "lower") == "lower"
            won, n = pairs_won(b, c, lower)
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{w:<14} {k:<44} {fmt.format(*quartiles(b)):>30} "
                  f"{fmt.format(*quartiles(c)):>30} {won:>5.2f}/{n:<3} {verdict(b, c, specs[k], b_failed, c_failed)}")


if __name__ == "__main__":
    main(sys.argv)
