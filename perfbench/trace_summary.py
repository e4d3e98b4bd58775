"""Summarise a traced run: self time per layer and span, tracing overhead,
and the run's context (nproc, load average, GC time, Spark conf).

    python3 perfbench/trace_summary.py TRACED_RECORD.json [UNTRACED_RECORD.json ...]

A span's self time is its duration minus the part of it that its child
spans cover. The layer is the span name up to its first dot. The overhead
is the traced run's end-to-end figures minus the median of the untraced
records given for the same workload.
"""
import collections
import json
import statistics
import sys


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    with open(argv[1]) as fh:
        traced = json.load(fh)
    spans_file = argv[1][:-len(".json")] + ".spans.jsonl"
    with open(spans_file) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    own = self_times(spans)
    by_layer = collections.defaultdict(lambda: [0, 0.0, 0.0])
    by_name = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = (s["end_ns"] - s["start_ns"]) / 1e6
        for key, table in ((s["name"].split(".")[0], by_layer), (s["name"], by_name)):
            table[key][0] += 1
            table[key][1] += dur
            table[key][2] += own[s["id"]]
    print("run: %s seed %s  nproc %s  load %s -> %s  jvm_gc_ms %s" % (
        traced["workload"], traced["seed"], traced.get("nproc"),
        traced.get("loadavg_before"), traced.get("loadavg_after"), traced.get("jvm_gc_ms")))
    for title, table in (("layer", by_layer), ("span", by_name)):
        print("\n%-40s %8s %12s %12s" % (title, "spans", "total_ms", "self_ms"))
        for k, (n, tot, slf) in sorted(table.items(), key=lambda kv: -kv[1][2]):
            print("%-40s %8d %12.1f %12.1f" % (k, n, tot, slf))
    untraced = []
    for f in argv[2:]:
        with open(f) as fh:
            r = json.load(fh)
        if r["workload"] == traced["workload"] and not r.get("trace"):
            untraced.append(r)
    if untraced:
        print("\ntracing overhead (traced minus median of %d untraced runs)" % len(untraced))
        for k, v in sorted(traced["e2e"].items()):
            base = statistics.median(r["e2e"][k] for r in untraced)
            print("  %-18s %12.4g %12.4g  %+8.4g (%+.1f%%)" % (
                k, v, base, v - base, 100.0 * (v - base) / base if base else 0.0))
    conf = traced.get("spark_conf") or {}
    if conf:
        print("\nspark conf")
        for k in sorted(conf):
            print("  %s=%s" % (k, conf[k]))


if __name__ == "__main__":
    main(sys.argv)
