#!/usr/bin/env python3
"""Rank metric deltas between two sets of benchmark runs.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory is searched for the `result.json` files that
`perfbench/run.py` writes (one per run; give each run its own `--out`).
Runs of the same workload and trace mode are paired by seed, otherwise in
order. For every workload, in its own table, and every metric:

- `better`/`worse`: the change wins (loses) at least 9 of 10 pairs, ties
  counting for neither, and the medians differ by more than the parent's
  interquartile range;
- `unresolved`: an end-to-end metric whose parent spread (IQR / median)
  is wider than its bound in BENCHMARK.json, unless every change run beats
  every parent run;
- `same`: otherwise. An end-to-end metric whose median worsens by more
  than its bound is flagged `over bound` whatever its verdict.

Rows are ranked by verdict, then by the workload's task-CPU verdict (the
tie-breaker), then by the size of the relative change.
"""
import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WIN_SHARE = 0.9
RANK = {"better": 0, "worse": 0, "unresolved": 1, "same": 2}


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "**", "result.json"), recursive=True)):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def pairs(ps, cs):
    by_seed = {r["seed"]: r for r in ps}
    common = [c for c in cs if c["seed"] in by_seed]
    if len(common) == len(cs) == len(ps):
        return [(by_seed[c["seed"]], c) for c in common]
    return list(zip(ps, cs))


def verdict(p, c, lower_better, bound=None):
    """Compare paired parent/change values of one metric."""
    sign = 1 if lower_better else -1
    wins = sum(sign * (b - a) < 0 for a, b in zip(p, c))
    losses = sum(sign * (b - a) > 0 for a, b in zip(p, c))
    pm, cm = stats.median(p), stats.median(c)
    iqr = 0.0
    if len(p) >= 2:
        q1, _, q3 = statistics.quantiles(p, n=4)
        iqr = q3 - q1
    gap = cm - pm
    rel = gap / pm if pm else 0.0
    n = len(p)
    if n and wins >= WIN_SHARE * n and abs(gap) > iqr and sign * gap < 0:
        v = "better"
    elif n and losses >= WIN_SHARE * n and abs(gap) > iqr and sign * gap > 0:
        v = "worse"
    elif bound is not None and stats.spread(p) > bound:
        v = "better" if all(sign * (b - a) < 0 for a in p for b in c) else "unresolved"
    else:
        v = "same"
    over = bound is not None and sign * rel > bound
    return {"parent": pm, "change": cm, "rel": rel, "iqr": iqr, "wins": wins,
            "losses": losses, "pairs": n, "verdict": v, "over_bound": over}


def compare(parent, change, bench):
    specs = {m["name"]: m for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    e2e = {m["name"] for m in bench.get("end_to_end", [])}
    rows = {}
    for key in sorted(set(parent) & set(change)):
        ps, cs = zip(*pairs(parent[key], change[key])) if parent[key] and change[key] else ((), ())
        section = "end_to_end" if key[1] == 0 else "per_layer"
        names = sorted(set(ps[0][section]) & set(cs[0][section])) if ps else []
        out = []
        for m in names:
            p = [r[section][m]["value"] for r in ps]
            c = [r[section][m]["value"] for r in cs]
            spec = specs.get(m, {})
            v = verdict(p, c, spec.get("better", "lower") == "lower",
                        spec.get("bound") if m in e2e else None)
            out.append({"metric": m, "unit": ps[0][section][m]["unit"], **v})
        cpu = next((r["verdict"] for r in out if r["metric"] == "task_cpu_s"), "same")
        out.sort(key=lambda r: (RANK[r["verdict"]], RANK[cpu], -abs(r["rel"])))
        rows[key] = out
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    rows = compare(load(a.parent), load(a.change), bench)
    if not rows:
        sys.exit("no workload has runs on both sides")
    for (w, trace), out in rows.items():
        print(f"\n## {w} ({'per-layer' if trace else 'end-to-end'})")
        print(f"{'metric':28s} {'unit':6s} {'parent':>12s} {'change':>12s} "
              f"{'delta':>8s} {'wins':>6s}  verdict")
        for r in out:
            flag = "  over bound" if r["over_bound"] else ""
            print(f"{r['metric']:28s} {r['unit']:6s} {r['parent']:12.4f} "
                  f"{r['change']:12.4f} {100 * r['rel']:+7.1f}% "
                  f"{r['wins']:>2d}/{r['pairs']:<3d}  {r['verdict']}{flag}")


if __name__ == "__main__":
    main()
