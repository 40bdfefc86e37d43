"""Per-layer metrics of a traced run, attributed from outside the program.

The JVM side records op spans (build / action / call) and raw listener
records, all in epoch ms. One client runs one op at a time, so a job, an
executed query or a micro-batch belongs to the op whose span holds its start.
A job's layer is the file of its result stage's call site: `Tables.scala`
(parquet footer inference), `Iterate.scala` (lineage cuts), and
`CompletableFuture.java` (AQE query-stage jobs).
"""

MB = 1048576.0


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _owner(ops, t):
    for op in ops:
        if op["start"] <= t <= op["end"]:
            return op
    return None


def per_layer(res, cores, passes):
    """The per-layer metrics of one traced run, per pass of the op list."""
    ops, tr = res["ops"], res["trace"]
    jobs = [j for j in tr["jobs"] if _owner(ops, j["start"])]
    wall_ms = sum(op["end"] - op["start"] for op in ops)

    def spans(kind):
        return [(a, b) for op in ops for k, a, b in op["spans"] if k == kind]

    def jobs_in(intervals):
        return [j for j in jobs if any(a <= j["start"] <= b for a, b in intervals)]

    def job_s(js):
        return sum(j["end"] - j["start"] for j in js) / 1e3

    def by_file(name):
        return [j for j in jobs if j["file"] == name]

    build = spans("build")
    build_jobs = jobs_in(build)
    build_job_ms = sum(_union([(j["start"], j["end"]) for j in build_jobs], a, b)
                       for a, b in build)
    idle_ms = sum((op["end"] - op["start"])
                  - _union([(j["start"], j["end"]) for j in jobs],
                           op["start"], op["end"]) for op in ops)
    queries = [q for q in tr["queries"] if _owner(ops, q["t"])]
    batches = [b for b in tr["batches"] if _owner(ops, b["t"])]
    last_state = {}
    for b in batches:
        last_state[b["run"]] = b["state_rows"]
    calls = spans("call")
    write_jobs = jobs_in(calls)
    frames = [op["memo_frames"] for op in ops]
    cpu_s = sum(j["cpu_ns"] for j in jobs) / 1e9

    m = {
        "Tables.jobs": len(by_file("Tables.scala")),
        "Tables.job_s": job_s(by_file("Tables.scala")),
        "SparkEntry.build_s": sum(b - a for a, b in build) / 1e3,
        "SparkEntry.build_self_s": (sum(b - a for a, b in build) - build_job_ms) / 1e3,
        "SparkEntry.build_jobs": len(build_jobs),
        "plans.analysis_s": sum(q["analysis_s"] for q in queries),
        "plans.optimize_s": sum(q["optimize_s"] for q in queries),
        "plans.planning_s": sum(q["planning_s"] for q in queries),
        "plans.exchanges": sum(q["exchanges"] for q in queries),
        "Iterate.jobs": len(by_file("Iterate.scala")),
        "Iterate.job_s": job_s(by_file("Iterate.scala")),
        "exec.action_s": sum(b - a for a, b in spans("action")) / 1e3,
        "exec.jobs": len(jobs),
        "exec.aqe_jobs": len(by_file("CompletableFuture.java")),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.idle_s": idle_ms / 1e3,
        "exec.task_cpu_s": cpu_s,
        "exec.task_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "exec.cpu_util": cpu_s / (wall_ms / 1e3 * cores) if wall_ms else 0.0,
        "exec.task_gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "exec.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "exec.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "exec.spill_mb": sum(j["spill"] for j in jobs) / MB,
        "exec.input_rows": sum(j["input_rows"] for j in jobs),
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(b["batch_s"] for b in batches),
        "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches),
        "streaming.log_commit_s": sum(b["log_commit_s"] for b in batches),
        "streaming.state_rows": sum(last_state.values()),
        "streaming.state_commit_s": sum(b["state_commit_s"] for b in batches),
        "WritePath.call_s": sum(b - a for a, b in calls) / 1e3,
        "WritePath.bytes_written_mb": sum(j["out_bytes"] for j in write_jobs) / MB,
        "WritePath.files_written": sum(op.get("files_written", 0) for op in ops),
        "WritePath.rows_written": sum(j["out_rows"] for j in write_jobs),
        "memo.frames": frames[-1] if frames else 0,
        "memo.misses": sum(1 for a, b in zip([0] + frames, frames) if b > a),
    }
    # counts and times of the op list are per pass; memo and JVM are per run
    per_run = {"memo.frames", "memo.misses", "exec.cpu_util"}
    m = {k: (v if k in per_run else v / passes) for k, v in m.items()}
    m["jvm.jit_s"] = res["jvm"]["jit_s"]
    m["jvm.gc_s"] = res["jvm"]["gc_s"]
    return m
