"""Compare two sets of benchmark results: a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the result records run.py writes to
.bench_out/results/ (copy them aside after each side's runs). Only
untraced, correct records are used. Runs are paired by workload and seed.

For each workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the share of pairs the change won (ties
count for neither side) and a verdict:

  improved      the change won at least 9/10 of at least ten pairs, and
                the medians differ by more than the parent's quartile
                distance, in the better direction;
  worse         the change's median is worse than the parent's by more
                than the metric's bound;
  unresolved    the parent's quartile distance is wider than the bound
                and not every change run beats every parent run;
  within bound  otherwise.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") or not r.get("correct") or not isinstance(r.get("metrics"), dict):
            continue
        runs.setdefault(r["workload"], {})[r["seed"]] = {
            k: v["value"] for k, v in r["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, parent, change, pairs):
    lower = metric["better"] == "lower"
    better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for p, c in pairs if better(c, p))
    share = wins / len(pairs) if pairs else 0.0
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    if len(pairs) >= 10 and share >= 0.9 and abs(cm - pm) > (p3 - p1) and better(cm, pm):
        v = "improved"
    elif worse_by > metric["bound"]:
        v = "worse"
    elif pm and (p3 - p1) / abs(pm) > metric["bound"] and not all(
            better(c, p) for c in change for p in parent):
        v = "unresolved"
    else:
        v = "within bound"
    return (p1, pm, p3), (c1, cm, c3), share, v


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(argv[1]), load(argv[2])
    print(f"{'workload':10s} {'metric':12s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s}"
          f" {'pairs':>5s} {'won':>5s}  verdict")
    for w in [w["name"] for w in bench["workloads"]]:
        ps, cs = parent.get(w, {}), change.get(w, {})
        seeds = sorted(set(ps) & set(cs))
        for m in bench["end_to_end"]:
            pv = [r[m["name"]] for r in ps.values() if m["name"] in r]
            cv = [r[m["name"]] for r in cs.values() if m["name"] in r]
            if not pv or not cv:
                print(f"{w:10s} {m['name']:12s} {'(no runs)':>30s}")
                continue
            pairs = [(ps[s][m["name"]], cs[s][m["name"]]) for s in seeds]
            pq, cq, share, v = verdict(m, pv, cv, pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:10s} {m['name']:12s} {fmt(pq):>30s} {fmt(cq):>30s}"
                  f" {len(pairs):5d} {share:5.0%}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
