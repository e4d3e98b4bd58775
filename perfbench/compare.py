"""Compare two sets of benchmark runs, or show the spread of one set.

    python3 perfbench/compare.py PARENT_RUNS [CHANGE_RUNS]

Each argument is a directory of run records (the .json files run.py writes
to .bench_build/runs/) or a list of record files separated by commas.
Untraced records only. Per workload and end-to-end metric it prints each
set's median and quartiles and, with two sets, a verdict:

  better      the change wins at least 9/10 of the seed-matched pairs (ties
              count for neither) and the medians differ by more than the
              parent's interquartile range
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's spread (IQR / median) is wider than the bound,
              and not every change run beats every parent run
  same        none of the above
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(arg):
    files = []
    for part in arg.split(","):
        files += sorted(glob.glob(os.path.join(part, "*.json"))) if os.path.isdir(part) else [part]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if not r.get("trace"):
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def verdict(metric, parent, change):
    """parent, change: {seed: value}."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    a, b = list(parent.values()), list(change.values())
    qa1, ma, qa3 = quartiles(a)
    mb = statistics.median(b)

    def beats(x, y):
        return x < y if lower else x > y

    seeds = sorted(set(parent) & set(change))
    pairs = [(parent[s], change[s]) for s in seeds]
    wins = sum(1 for p, c in pairs if beats(c, p))
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > (qa3 - qa1):
        return "better", wins, len(pairs)
    worse_by = (mb - ma) / ma if lower else (ma - mb) / ma
    if worse_by > bound:
        return "worse", wins, len(pairs)
    if spread(a) > bound and not all(beats(c, p) for c in b for p in a):
        return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sets = [load(a) for a in argv[1:]]
    for w in sorted(set().union(*sets)):
        print("== %s" % w)
        for m in metrics:
            cols = []
            vals = []
            for s in sets:
                runs = s.get(w, [])
                v = {r["seed"]: r["e2e"][m["name"]] for r in runs}
                vals.append(v)
                if v:
                    q1, med, q3 = quartiles(list(v.values()))
                    cols.append("n=%-2d med %10.4g  q1 %10.4g  q3 %10.4g  spread %5.3f"
                                % (len(v), med, q1, q3, spread(list(v.values()))))
                else:
                    cols.append("no runs")
            line = "  %-18s bound %.2f  %s" % (m["name"], m["bound"], " | ".join(cols))
            if len(sets) == 2 and vals[0] and vals[1]:
                v, wins, pairs = verdict(m, vals[0], vals[1])
                line += "  -> %s (wins %d/%d)" % (v, wins, pairs)
            elif vals[0]:
                s = spread(list(vals[0].values()))
                line += "  -> %s" % ("steady" if s <= m["bound"] / 3 else
                                     "within bound" if s <= m["bound"] else "unresolved")
            print(line)


if __name__ == "__main__":
    main(sys.argv)
