"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload share_meta --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest --seed 1

The program is built from source first (perfbench/build.py). Inputs are
made from the seed: parquet tables are staged here from the base tables in
perfbench/data, reordered and split into files by the seed; synthetic logs,
request schedules and commit payloads are generated inside the JVM. Each run
writes a record (end-to-end, named and layer figures, nproc, load average,
Spark conf, GC time) to .bench_build/runs/; traced runs also write spans.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
TABLES = ["lineitem", "orders", "customer", "supplier", "nation", "region",
          "documents", "events"]
PARQUET_WORKLOADS = {"recipient", "llm_pipeline"}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def stage_inputs(seed, out):
    """Write every base table as a directory of 4 parquet files of equal
    size whose rows are a seeded permutation of the base rows: the seed
    changes the bytes, not the number or size of the files a query reads.
    Same seed, same bytes."""
    import numpy as np
    import pyarrow.parquet as pq
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    for i, t in enumerate(TABLES):
        table = pq.read_table(os.path.join(DATA, t + ".parquet"))
        rng = np.random.default_rng([seed, i])
        perm = rng.permutation(table.num_rows)
        d = os.path.join(out, t + ".parquet")
        os.makedirs(d)
        for j, idx in enumerate(np.array_split(perm, min(4, table.num_rows))):
            pq.write_table(table.take(idx), os.path.join(d, "part-%05d.parquet" % j))
    open(done, "w").close()
    return out


def digest_tree(root):
    import hashlib
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java(classpath, args, cwd, log):
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(cwd, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("run: JVM exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
            return -1


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def selftest(seed):
    classpath = build.build()
    base = os.path.join(BUILD, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    a = digest_tree(stage_inputs(seed, os.path.join(base, "parquet-a")))
    b = digest_tree(stage_inputs(seed, os.path.join(base, "parquet-b")))
    c = digest_tree(stage_inputs(seed + 1, os.path.join(base, "parquet-c")))
    log = os.path.join(base, "jvm.log")
    rc = java(classpath, ["--selftest", os.path.join(base, "jvm"), "--seed", str(seed)],
              base, log)
    print(tail(log, 3), end="")
    ok = rc == 0 and a == b and a != c
    print(json.dumps({"parquet_same_seed_identical": a == b,
                      "parquet_other_seed_differs": a != c, "jvm_selftest_rc": rc,
                      "passed": ok}))
    shutil.rmtree(base, ignore_errors=True)
    return 0 if ok else 1


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest(a.seed)
    e2e_units, layer_units = units()
    classpath = build.build()
    inputs = ""
    if a.workload in PARQUET_WORKLOADS:
        inputs = stage_inputs(a.seed, os.path.join(BUILD, "inputs", "seed-%d" % a.seed))
    tag = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace, int(time.time() * 1000))
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(work)
    record = os.path.join(runs, tag + ".json")
    log = os.path.join(runs, tag + ".log")
    load_before = loadavg()
    steal_before = steal_s()
    try:
        rc = java(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--inputs", inputs, "--work", work, "--record", record],
                  work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(tail(log))
        print("run: the JVM failed (exit %d); log in %s" % (rc, log), file=sys.stderr)
        return 1
    with open(record) as fh:
        rec = json.load(fh)
    rec.update({"nproc": os.cpu_count(), "loadavg_before": load_before,
                "loadavg_after": loadavg(), "steal_s": steal_s() - steal_before,
                "inputs_digest": digest_tree(inputs) if inputs else None})
    with open(record, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    if a.trace:
        # a layer the workload does not run reads 0
        unknown = set(rec["layers"]) - set(layer_units)
        if unknown:
            print("run: layer figures not in BENCHMARK.json: %s" % sorted(unknown), file=sys.stderr)
            return 1
        figures, wanted = {k: rec["layers"].get(k, 0.0) for k in layer_units}, layer_units
    else:
        figures, wanted = rec["e2e"], e2e_units
    missing = set(wanted) - set(figures)
    if missing:
        print("run: figures missing: %s" % sorted(missing), file=sys.stderr)
        return 1
    metrics = {k: {"value": figures[k], "unit": u} for k, u in wanted.items()}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
