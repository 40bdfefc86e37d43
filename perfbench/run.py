#!/usr/bin/env python3
"""Layer-attributed A/B benchmark of the Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload breadth --seed 1 --seconds 25 --trace 0

Workloads (BENCHMARK.json records why each was chosen):

  breadth  a fixed list of ten graded batch queries, then the q169 Iterate
           fixpoint, at sf0.01
  migrate  schema-driven copy of all tables, a seeded delta pass through the
           same path, a date-partitioned copy plus merge, an upsert, and a
           stateful streaming replay (q533)

Each run compiles the program and the benchmark into `.bench_build/` when
their sources changed, writes the seeded inputs under `.bench_build/work/`
(outside set-up and timing), runs the ops in one fresh JVM on local[nproc],
grades every output against its DuckDB oracle or closed-form expectation,
and prints one JSON line last: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A wrong or failed op makes the exit code non-zero.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, HERE)
import grade  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

DATA = inputs.DATA

# Seconds of `--seconds` per pass over the workload's op list: sized so that
# one run measures about `--seconds` at the baseline. The work is a function
# of (workload, seed, seconds) only, so both sides of an A/B do the same.
PASS_SECONDS = 30.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host():
    """Cores from the affinity mask (what `nproc` prints), heap the way
    the Tier-1 command sizes SPARK_DRIVER_MEM: half of MemTotal, 2..8 GB."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = min(8, max(2, mem_kb // 2097152))
    return cores, mem_kb, heap_gb


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no src/main/scala under "
                         f"{ROOT}; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def spark_jars():
    """The Spark jars the sbt build compiles against (its `unmanagedBase`);
    they include the Scala compiler."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt")
    return m.group(1)


def build():
    """Compile program + benchmark with the Scala compiler Spark ships,
    unless the classes on disk came from the same sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={BUILD}",
         "-cp", f"{spark_jars()}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def jvm(classes, heap_gb, work, args, log_path):
    """Run one PerfBench JVM to completion; its log goes to `log_path`.
    Set-up plus one pass took 41-57 s at the baseline; the limit leaves
    room for a slower change but ends a hung run."""
    timeout = 90 + 60 * args["passes"]
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_gb}g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.PerfBench"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run failed, the JVM did not finish "
                             f"within {timeout} s (log: {log_path})")
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(args["out"]) as f:
        return json.load(f)


# source files each migrate step reads as its input
MIGRATE_SOURCES = {
    "full_copy": lambda work: glob.glob(f"{DATA}/*.parquet"),
    "delta_copy": lambda work: glob.glob(f"{work}/inputs/delta/*.parquet"),
    "partition_copy": lambda work: [f"{DATA}/events.parquet"],
    "events_merge": lambda work: [f"{work}/inputs/merge/events.parquet"],
    "customer_upsert": lambda work: [f"{work}/inputs/upsert/customer.parquet"],
}


def hd_median(xs):
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) density, integrated
    over each one's cell ((i-1)/n, i/n). With a run's few ops of uneven
    cost it moves much less from run to run than the middle op alone."""
    xs = sorted(xs)
    n, a, steps = len(xs), (len(xs) + 1) / 2, 400

    def density(u):  # up to a constant factor, which the division cancels
        return (u * (1 - u)) ** (a - 1)

    w = [sum(density((i * steps + j + 0.5) / (n * steps)) for j in range(steps))
         for i in range(n)]
    return sum(x * wi for x, wi in zip(xs, w)) / sum(w)


def end_to_end(res, workload, work):
    ops = res["ops"]
    lat = [(op["end"] - op["start"]) / 1e3 for op in ops]
    by_pass = {}
    for op in ops:
        a, b = by_pass.get(op["pass"], (op["start"], op["end"]))
        by_pass[op["pass"]] = (min(a, op["start"]), max(b, op["end"]))
    m = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median((b - a) / 1e3 for a, b in by_pass.values()), "s"),
        "op_p50_s": (hd_median(lat), "s"),
        # p90: a run has too few ops for a percentile with ten beyond it
        "op_tail_s": (statistics.quantiles(lat, n=10, method="inclusive")[-1], "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }
    written = [op for op in ops if op["name"] in MIGRATE_SOURCES]
    if workload == "migrate":
        src = sum(os.path.getsize(f) for op in written
                  for f in MIGRATE_SOURCES[op["name"]](work))
        m["write_amp"] = (sum(op["bytes_written"] for op in written) / src, "ratio")
    return m


def migrate_rows(con, work):
    """Rows the first pass appended, skipped and quarantined in the delta
    copy, read back from its destination."""
    dest = f"{work}/migrate/pass1/db"
    delta = appended = quarantined = 0
    for t in inputs.DELTA:
        keys = ", ".join(inputs.TABLES[t][0])
        delta += con.execute(f"SELECT count(*) FROM '{work}/inputs/delta/{t}.parquet'").fetchone()[0]
        appended += con.execute(
            f"SELECT (SELECT count(*) FROM '{dest}/{t}.parquet/*.parquet')"
            f" - (SELECT count(DISTINCT ({keys})) FROM {t})").fetchone()[0]
        q = f"{dest}/{t}.parquet_quarantine"
        if os.path.isdir(q):
            quarantined += con.execute(f"SELECT count(*) FROM '{q}/*.parquet'").fetchone()[0]
    return {"WritePath.rows_skipped": delta - appended - quarantined,
            "WritePath.rows_quarantined": quarantined}


UNITS = {"_s": "s", "_mb": "MB", "cpu_util": "ratio", "rows": "rows"}


def unit(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("breadth", "migrate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores, mem_kb, heap_gb = host()
    classes = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "migrate":
        inputs.make(DATA, f"{work}/inputs", args.seed)
    passes = max(1, round(args.seconds / PASS_SECONDS))
    res = jvm(classes, heap_gb, work, {
        "workload": args.workload, "passes": passes, "trace": args.trace,
        "data": DATA, "work": work, "out": f"{work}/result.json", "cores": cores}, f"{work}/jvm.log")

    ops = res["ops"]
    con = inputs.connect(DATA)
    failures = {op["id"]: op["error"] for op in ops if op["error"]}
    outputs = {op["id"]: (op["name"], op["output"], op["oracle"]) for op in ops
               if op.get("output") and op["id"] not in failures}
    failures.update(grade.queries(con, outputs, os.path.join(BUILD, "oracle")))
    if args.workload == "migrate":
        inputs.views(con, args.seed)
        for p in sorted({op["pass"] for op in ops}):
            bad = grade.migrate_pass(con, f"{work}/migrate/pass{p}")
            if bad:
                # the last copy step of the pass owns the destination it left
                last = max(op["id"] for op in ops if op["pass"] == p
                           and op["name"] in MIGRATE_SOURCES)
                failures[last] = "; ".join(f"{k}: {v}" for k, v in sorted(bad.items()))
    for op_id, why in sorted(failures.items()):
        log(f"op {op_id} failed: {why}")

    e2e = end_to_end(res, args.workload, work)
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                stdout=subprocess.PIPE).stdout.strip()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": passes, "ops": len(ops),
        "host": {"nproc": cores, "mem_total_kb": mem_kb, "heap_gb": heap_gb,
                 "jvm": res["jvm"]["jvm"], "spark": res["jvm"]["spark"],
                 "commit": commit,
                 "sources_sha256": open(os.path.join(BUILD, "classes.stamp")).read()},
        "failures": {str(k): v for k, v in failures.items()},
        "op_s": [[op["name"], (op["end"] - op["start"]) / 1e3] for op in ops],
    }
    print(f"perfbench {args.workload} seed={args.seed} passes={passes} "
          f"ops={len(ops)} nproc={cores} MemTotal={mem_kb // 1024}MB "
          f"heap={heap_gb}g {res['jvm']['jvm']} Spark {res['jvm']['spark']} "
          f"commit={record['host']['commit'] or 'none'}")
    shown = dict(e2e)
    shown["failed_frac"] = (len(failures) / len(ops), "ratio")
    shown.setdefault("write_amp", (None, "ratio"))
    for name, (value, u) in shown.items():
        print(f"  {name:14s} {'n/a (no WritePath op)' if value is None else f'{value:.4f}'} {u}")
    if args.trace:
        layer = layers.per_layer(res, cores, passes)
        if args.workload == "migrate":
            layer.update(migrate_rows(con, work))
        else:
            layer.update({"WritePath.rows_skipped": 0, "WritePath.rows_quarantined": 0})
        layer["trace.wall_s"] = e2e["wall_s"][0]
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
        for k, v in layer.items():
            print(f"  {k:28s} {v:.4f} {unit(k)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if k != "write_amp"}
    record["metrics"] = metrics
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": not failures, "attempted": len(ops),
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
