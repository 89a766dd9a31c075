#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py PARENT.log CHANGE.log

Each log is the concatenated stdout of `perfbench/run.py` runs (any number of
workloads and seeds, --trace 0). Runs are paired in the order they appear
within each workload; alternate which side runs first when you make them.

For every end-to-end metric x workload it prints both sides' median and
quartiles, the pairs the change won, and a verdict against the metric's
bound in BENCHMARK.json:

  improved    the change won >= 9/10 of the pairs and the medians differ by
              more than the parent's own quartile spread
  regressed   the change's median is worse than the parent's by more than
              the bound, and the parent's spread is within the bound
  unresolved  the parent's spread is wider than the bound, so a change of
              that size cannot be told from noise -- unless every change run
              reads better than every parent run
  pass        none of the above

One summary row per workload follows; a workload whose change failed more
operations than its parent is marked so, since a gain does not count then.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path):
    """{workload: [result dict, ...]} from a log of run.py outputs."""
    runs, detail = {}, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "perfbench" in obj:
                detail = obj["perfbench"]
            elif "metrics" in obj and detail is not None:
                if detail["trace"] == 0:
                    runs.setdefault(detail["workload"], []).append(obj)
                detail = None
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """Verdict for one metric x workload; see the module doc."""
    pm, cm = statistics.median(parent), statistics.median(change)
    p1, p3 = quartiles(parent)
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse = sign * (cm - pm) / pm if pm else 0.0
    all_better = all(sign * (c - p) < 0 for p in parent for c in change)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1 and worse < 0:
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regressed"
    else:
        v = "pass"
    return {"parent": (pm, p1, p3), "change": (cm,) + quartiles(change), "wins": wins,
            "pairs": len(pairs), "spread": spread, "worse": worse, "verdict": v}


def compare(spec, parent_runs, change_runs):
    """Rows (workload, metric, unit, result) and per-workload summaries."""
    rows, summary = [], {}
    for w in [x["name"] for x in spec["workloads"]]:
        p_runs, c_runs = parent_runs.get(w, []), change_runs.get(w, [])
        if not p_runs or not c_runs:
            summary[w] = "missing runs"
            continue
        verdicts = []
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in p_runs]
            c = [r["metrics"][m["name"]]["value"] for r in c_runs]
            r = verdict(p, c, m["better"], m["bound"])
            rows.append((w, m["name"], m["unit"], r))
            verdicts.append((m["name"], r["verdict"]))
        p_fail = sum(r["failed"] for r in p_runs)
        c_fail = sum(r["failed"] for r in c_runs)
        worst = next((v for v in ("regressed", "unresolved", "improved")
                      if any(x == v for _, x in verdicts)), "pass")
        names = [n for n, x in verdicts if x == worst]
        s = worst + (f" ({', '.join(names)})" if worst != "pass" else "")
        if c_fail > p_fail:
            s += f"; change failed {c_fail} operations, parent {p_fail}"
        summary[w] = s
    return rows, summary


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows, summary = compare(spec, load_runs(sys.argv[1]), load_runs(sys.argv[2]))
    print(f"{'workload':<10} {'metric':<18} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'won':>6} {'worse':>7}  verdict")
    for w, name, unit, r in rows:
        fmt = lambda t: f"{t[0]:.4g} [{t[1]:.4g}, {t[2]:.4g}] {unit}"
        print(f"{w:<10} {name:<18} {fmt(r['parent']):>30} {fmt(r['change']):>30} "
              f"{r['wins']:>2}/{r['pairs']:<3} {r['worse']:>+7.1%}  {r['verdict']}")
    print()
    for w, s in summary.items():
        print(f"{w:<10} {s}")


if __name__ == "__main__":
    main()
