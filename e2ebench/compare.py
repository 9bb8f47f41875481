#!/usr/bin/env python3
"""Compare two sets of e2ebench results, metric by metric and workload by workload.

    python3 e2ebench/compare.py BASE_DIR NEW_DIR [--benchmark BENCHMARK.json]

Each directory holds one file per run, named ``<workload>-<seed>.<ext>``,
whose last line is the JSON object ``run.py`` prints (other files are
ignored). Runs of the same seed
in both directories form a pair. For each workload and metric the script
prints both medians with their quartiles and one verdict, following the
benchmark's comparison rules:

* ``improved``   -- the new side wins at least nine tenths of the pairs and
  the medians differ by more than the base side's quartile spread;
* ``worse``      -- the new median is worse than the base median by more than
  the metric's bound;
* ``unresolved`` -- the base side's own spread is wider than the bound, so
  "no change" cannot be told apart from noise (unless every new run beats
  every base run, which counts as improved);
* ``unchanged``  -- none of the above.

Per-layer metrics have no bound; they are reported with ``info`` verdicts
(improved / worse by the same pair rule, otherwise unchanged). Standard
library only.
"""
import argparse
import json
import os
import statistics
import sys


def load(d, workloads):
    """{workload: {seed: metrics}} from the run files in ``d``."""
    out = {}
    for name in sorted(os.listdir(d)):
        wl = next((w for w in sorted(workloads, key=len, reverse=True)
                   if name.startswith(w + "-")), None)
        if wl is None:
            continue
        seed = os.path.splitext(name[len(wl) + 1:])[0]
        with open(os.path.join(d, name)) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        try:
            r = json.loads(lines[-1])
        except (IndexError, ValueError):
            continue  # a log or a run that printed no result
        if not r.get("correct"):
            print(f"note {name}: run reported correct=false", file=sys.stderr)
        out.setdefault(wl, {})[seed] = {k: v["value"] for k, v in r["metrics"].items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def fmt(median, q):
    return f"{median:.4g} [{q[0]:.4g},{q[1]:.4g}]"


def verdict(base, new, pairs, better, bound):
    """Classify one metric x workload; see the module docstring."""
    mb, mn = statistics.median(base), statistics.median(new)
    q1, q3 = quartiles(base)
    spread = q3 - q1
    sign = 1.0 if better == "higher" else -1.0
    gain = sign * (mn - mb)  # > 0 means the new side is better
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    losses = sum(1 for b, n in pairs if sign * (n - b) < 0)
    decided = wins + losses
    all_better = all(sign * (n - b) > 0 for b in base for n in new)
    if decided and wins >= 0.9 * len(pairs) and gain > spread:
        return "improved"
    if bound is None:
        return "worse" if decided and losses >= 0.9 * len(pairs) and -gain > spread else "info"
    if mb != 0 and -gain / abs(mb) > bound:
        return "worse"
    if mb != 0 and spread / abs(mb) > bound:
        return "improved" if all_better else "unresolved"
    return "unchanged"


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of e2ebench results.")
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    specs = {m["name"]: (m.get("better", "lower"), m.get("bound")) for m in bench["end_to_end"]}
    specs.update({m["name"]: (m.get("better", "lower"), None) for m in bench["per_layer"]})
    base, new = load(a.base, workloads), load(a.new, workloads)
    print(f"{'workload':14s} {'metric':36s} {'base median [q1,q3]':>30s} "
          f"{'new median [q1,q3]':>30s} {'change':>8s}  verdict")
    worse = 0
    for wl in workloads:
        b_runs, n_runs = base.get(wl, {}), new.get(wl, {})
        if not b_runs or not n_runs:
            print(f"{wl:14s} (no runs on {'base' if not b_runs else 'new'} side)")
            continue
        for metric, (better, bound) in specs.items():
            bv = [m[metric] for m in b_runs.values() if metric in m]
            nv = [m[metric] for m in n_runs.values() if metric in m]
            if not bv or not nv:
                continue
            pairs = [(b_runs[s][metric], n_runs[s][metric]) for s in sorted(b_runs)
                     if s in n_runs and metric in b_runs[s] and metric in n_runs[s]]
            v = verdict(bv, nv, pairs, better, bound)
            worse += v == "worse"
            mb, mn = statistics.median(bv), statistics.median(nv)
            bq, nq = quartiles(bv), quartiles(nv)
            change = f"{100.0 * (mn - mb) / mb:+.1f}%" if mb else "n/a"
            print(f"{wl:14s} {metric:36s} {fmt(mb, bq):>30s} {fmt(mn, nq):>30s} "
                  f"{change:>8s}  {v} (n={len(bv)}/{len(nv)}, pairs={len(pairs)})")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
