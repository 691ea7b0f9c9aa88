#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the records `run.py --out FILE` appended, one run per
line. For every workload and every metric both sets report (the
end-to-end metrics and the workload extras), it prints each set's
median and quartiles, the spread of the base set (interquartile range
over median), the change of the median against the metric's bound from
BENCHMARK.json, and the pairwise win rule: runs are paired by seed, and
NEW claims a gain only if it wins at least nine tenths of the pairs
(ties count for neither) and the medians differ by more than the base
set's interquartile range. A run whose host canary (graft.Bench's fixed
range->groupBy probe) took over 1.5x its set's median canary is flagged
as contaminated.

Comparing an untraced set with a traced set of the same code and seeds
gives the tracing overhead as the change of each timing.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LOWER_IS_BETTER_SUFFIXES = ("_s", "_ms", "_mb", "_frac", "_amp", "rmse")


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], []).append(r)
    return runs


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def values(run):
    out = {k: v["value"] for k, v in run.get("extra", {}).items()}
    out.update({k: v["value"] for k, v in run["metrics"].items()})
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def lower_is_better(name, e2e):
    if name in e2e:
        return e2e[name]["better"] == "lower"
    return name.endswith(LOWER_IS_BETTER_SUFFIXES)


def contaminated(runs):
    cs = [values(r).get("canary_s") for r in runs]
    cs = [c for c in cs if c is not None]
    if not cs:
        return []
    med = statistics.median(cs)
    return [r["seed"] for r in runs if values(r).get("canary_s", 0) > 1.5 * med]


def compare(base, new):
    e2e = spec()
    for wl in sorted(set(base) & set(new)):
        b_runs, n_runs = base[wl], new[wl]
        print(f"== {wl}: base {len(b_runs)} runs, new {len(n_runs)} runs")
        for label, runs in (("base", b_runs), ("new", n_runs)):
            bad = contaminated(runs)
            if bad:
                print(f"   {label}: canary over 1.5x median on seeds {bad}")
        names = sorted(set.intersection(*(set(values(r)) for r in b_runs + n_runs)))
        print(f"   {'metric':<18} {'base q1/med/q3':>30} {'new q1/med/q3':>30} "
              f"{'spread':>7} {'change':>8} {'bound':>6} verdict")
        for m in names:
            bv = [values(r)[m] for r in b_runs]
            nv = [values(r)[m] for r in n_runs]
            bq, nq = quartiles(bv), quartiles(nv)
            low = lower_is_better(m, e2e)
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("nan")
            worse = ((nq[1] - bq[1]) if low else (bq[1] - nq[1]))
            change = worse / bq[1] if bq[1] else float("nan")
            bound = e2e.get(m, {}).get("bound")
            by_seed = {r["seed"]: values(r)[m] for r in b_runs}
            pairs = [(by_seed[r["seed"]], values(r)[m]) for r in n_runs
                     if r["seed"] in by_seed]
            wins = sum(1 for b, n in pairs if (n < b if low else n > b))
            gain = (pairs and wins >= 0.9 * len(pairs)
                    and abs(nq[1] - bq[1]) > bq[2] - bq[0])
            if bound is None:
                verdict = "gain" if gain else "-"
            elif spread > bound and m != "setup_s":
                verdict = ("better in every pair" if wins == len(pairs) and pairs
                           else "unresolved (spread over bound)")
            elif change > bound:
                verdict = "REGRESSION"
            else:
                verdict = "gain" if gain else "within bound"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"   {m:<18} {fmt(bq):>30} {fmt(nq):>30} {spread:>7.3f} "
                  f"{change:>+8.3f} {bound if bound is not None else '-':>6} "
                  f"{verdict} ({wins}/{len(pairs)} pairs won)")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    compare(load(sys.argv[1]), load(sys.argv[2]))
