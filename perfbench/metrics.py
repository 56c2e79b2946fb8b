"""Turns the harness's result file into the benchmark's metrics.

Each metric is (value, unit, samples). Pass 0 is the cold pass; the
later passes are warm. Latency percentiles and per-layer figures come
from the warm passes only, so a run's figures do not depend on how many
cold-start effects its first pass happened to absorb.
"""
import statistics

WRITE = ("write", "optimize")


def median(xs):
    return statistics.median(xs) if xs else None


def pct(xs, q):
    """Percentile by linear interpolation between closest ranks."""
    if not xs:
        return None
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def ratio(a, b):
    return a / b if b else None


def pass_s(p, key="wall_s"):
    """A pass's time: the sum of its ops' wall (or CPU) times, which leaves
    out the harness's own work between ops (checks, cache clearing, GC)."""
    return sum(op[key] for op in p["ops"])


def compute(res, launched, cpus, labelled_rows):
    passes = res["passes"]
    warm = passes[1:]
    ops_all = [op for p in passes for op in p["ops"]]
    ops_warm = [op for p in warm for op in p["ops"]]
    failed = [op for op in ops_all if not op.get("ok")]
    reads = [op["wall_s"] for op in ops_warm if op["kind"] == "read"]
    read_cpu = [op["cpu_s"] for op in ops_warm if op["kind"] == "read"]
    writes = [op["wall_s"] for op in ops_warm if op["kind"] in WRITE]
    wrote = [op for op in ops_all if op["kind"] in WRITE]
    rows_in = sum(op["rows_in"] for op in wrote)
    fits = [op for op in ops_warm if op["kind"] == "fit"]
    trans = [op for op in ops_warm if op["kind"] == "transform"]
    disc_s = sum(op["wall_s"] for op in fits + trans)
    amps = [p["space_amp"] for p in passes if "space_amp" in p]

    e2e = {
        "setup_s": (res["setup_cpu_s"], "s", 1),
        "setup_wall_s": (res["answered_ms"] / 1e3 - launched, "s", 1),
        "setup_session_s": (res["session_ms"] / 1e3 - launched, "s", 1),
        "cold_pass_s": (pass_s(passes[0]), "s", 1),
        "warm_pass_s": (median([pass_s(p) for p in warm]), "s", len(warm)),
        "cold_pass_cpu_s": (pass_s(passes[0], "cpu_s"), "s", 1),
        "warm_pass_cpu_s": (median([pass_s(p, "cpu_s") for p in warm]), "s", len(warm)),
        "read_cpu_p50_s": (pct(read_cpu, 0.5), "s", len(read_cpu)),
        "read_cpu_p90_s": (pct(read_cpu, 0.9), "s", len(read_cpu)),
        "read_p50_s": (pct(reads, 0.5), "s", len(reads)),
        "read_p90_s": (pct(reads, 0.9), "s", len(reads)),
        "write_p50_s": (pct(writes, 0.5), "s", len(writes)),
        "write_p90_s": (pct(writes, 0.9), "s", len(writes)),
        "write_bytes_per_row": (
            ratio(sum(op["bytes_written"] for op in wrote), rows_in),
            "B/row", len(wrote)),
        "space_amp": (median(amps), "ratio", len(amps)),
        "discretize_rows_per_s": (
            ratio(labelled_rows * len(fits), disc_s), "rows/s", len(fits)),
        "failed_frac": (len(failed) / len(ops_all), "ratio", len(ops_all)),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MiB", 1),
        "peak_heap_mb": (max(op["live_heap_bytes"] for op in ops_all) / 2**20,
                         "MiB", len(ops_all)),
    }
    layer = layers(warm, passes[0], cpus) if "jobs" in passes[0]["ops"][0] else {}
    if layer:
        # relocated workload-specific figures (see NOTES.md, "Metrics")
        layer["manifest.write_p50_s"] = e2e["write_p50_s"][:1] + ("s", len(writes))
        layer["manifest.write_p90_s"] = e2e["write_p90_s"][:1] + ("s", len(writes))
        layer["fs.write_bytes_per_row"] = e2e["write_bytes_per_row"]
        layer["manifest.space_amp"] = e2e["space_amp"]
        layer["ml.discretize_rows_per_s"] = e2e["discretize_rows_per_s"]
        layer["trace.warm_pass_s"] = e2e["warm_pass_s"]
        layer["setup.session_s"] = e2e["setup_session_s"]
        layer["setup.first_query_s"] = (
            e2e["setup_wall_s"][0] - e2e["setup_session_s"][0], "s", 1)
    return {
        "e2e": e2e,
        "layer": {k: (0.0 if v[0] is None else v[0],) + v[1:] for k, v in layer.items()},
        "attempted": len(ops_all),
        "failed": len(failed),
        "errors": [f"pass {p['index']} {op['name']}: {op.get('err')}"
                   for p in passes for op in p["ops"] if not op.get("ok")],
    }


def per_pass(warm, f):
    """Median over warm passes of a per-pass total."""
    return median([sum(f(op) for op in p["ops"]) for p in warm])


def gap_s(op):
    """Op wall time with no Spark job running."""
    return max(0.0, op["wall_s"] - op["exec_b_s"] - op["exec_a_s"])


def layers(warm, cold, cpus):
    n = len(warm)
    MIB = 1024.0 * 1024.0

    def tot(key, kinds=None, scale=1.0):
        return per_pass(warm, lambda op: op.get(key, 0) * scale
                        if kinds is None or op["kind"] in kinds else 0)

    def qtot(key):
        return per_pass(warm, lambda op: op[key] if op["layer"] == "queries" else 0)

    pass_wall = median([pass_s(p) for p in warm])
    cpu = tot("task_cpu_s")
    pruned = [op for p in warm for op in p["ops"] if "prune_total" in op]
    kept = sum(op["prune_kept"] for op in pruned)
    total = sum(op["prune_total"] for op in pruned)
    out = {
        "queries.build_s": (qtot("build_s"), "s"),
        "queries.build_jobs": (qtot("jobs_b"), "count"),
        "queries.eager_ops": (per_pass(warm, lambda op: 1 if op["layer"] == "queries"
                                       and op["jobs_b"] > 0 else 0), "count"),
        "codegen.classes": (tot("cg_classes"), "count"),
        "codegen.compile_s": (per_pass(warm, lambda op: op["cg_b_s"] + op["cg_a_s"]), "s"),
        "codegen.source_kb": (tot("cg_source_kb"), "KiB"),
        "codegen.cold_classes": (sum(op["cg_classes"] for op in cold["ops"]), "count"),
        "codegen.cold_compile_s": (sum(op["cg_b_s"] + op["cg_a_s"] for op in cold["ops"]), "s"),
        "plans.plan_s": (per_pass(warm, lambda op: op["plan_b_s"] + op["plan_a_s"]), "s"),
        "plans.cold_plan_s": (sum(op["plan_b_s"] + op["plan_a_s"] for op in cold["ops"]), "s"),
        "plans.executions": (tot("executions"), "count"),
        "exec.action_s": (tot("action_s"), "s"),
        "exec.job_s": (per_pass(warm, lambda op: op["exec_b_s"] + op["exec_a_s"]), "s"),
        "exec.jobs": (tot("jobs"), "count"),
        "exec.stages": (tot("stages"), "count"),
        "exec.tasks": (tot("tasks"), "count"),
        "exec.task_run_s": (tot("task_run_s"), "s"),
        "exec.task_cpu_s": (cpu, "s"),
        "exec.gc_s": (tot("gc_s"), "s"),
        "exec.sched_wait_s": (tot("sched_wait_s"), "s"),
        "exec.core_util": (ratio(cpu, pass_wall * cpus), "ratio"),
        "exec.driver_gap_s": (per_pass(warm, gap_s), "s"),
        "exec.input_mb": (tot("input_bytes", scale=1 / MIB), "MiB"),
        "exec.shuffle_write_mb": (tot("shuffle_write_bytes", scale=1 / MIB), "MiB"),
        "exec.shuffle_read_mb": (tot("shuffle_read_bytes", scale=1 / MIB), "MiB"),
        "exec.spill_mb": (tot("spill_bytes", scale=1 / MIB), "MiB"),
        "exec.failed_tasks": (tot("failed_tasks"), "count"),
        "ml.fit_s": (tot("wall_s", ("fit",)), "s"),
        "ml.fit_jobs": (tot("jobs", ("fit",)), "count"),
        "ml.fit_driver_s": (per_pass(warm, lambda op: gap_s(op)
                                     if op["kind"] == "fit" else 0), "s"),
        "ml.transform_s": (tot("wall_s", ("transform",)), "s"),
        "manifest.commit_s": (tot("wall_s", ("write",)), "s"),
        "manifest.commits": (tot("commits"), "count"),
        "manifest.conflicts": (tot("conflicts"), "count"),
        "manifest.files_added": (tot("files_added"), "count"),
        "manifest.files_removed": (tot("files_removed"), "count"),
        "manifest.optimize_s": (tot("wall_s", ("optimize",)), "s"),
        "manifest.prune_kept_frac": (ratio(kept, total), "ratio"),
        "fs.bytes_written_mb": (tot("fs_write_bytes", scale=1 / MIB), "MiB"),
        "fs.bytes_read_mb": (tot("fs_read_bytes", scale=1 / MIB), "MiB"),
        "fs.write_ops": (tot("fs_write_ops"), "count"),
        "fs.read_ops": (tot("fs_read_ops"), "count"),
        "fs.list_ops": (tot("fs_list_ops"), "count"),
        "cache.leaked_blocks": (tot("leaked_blocks"), "count"),
        "cache.leaked_mb": (tot("leaked_bytes", scale=1 / MIB), "MiB"),
    }
    return {k: v + (n,) for k, v in out.items()}


def print_table(m, workload, trace):
    rows = m["layer"] if trace else m["e2e"]
    title = "per-layer (traced, per warm pass)" if trace else "end-to-end"
    print(f"{workload}: {title} metrics")
    print(f"  {'metric':28} {'value':>14} {'unit':8} {'samples':>7}")
    for k, (v, unit, n) in rows.items():
        shown = "n/a" if v is None else f"{v:14.6g}"
        print(f"  {k:28} {shown:>14} {unit:8} {n:7d}")
    print(f"  ops attempted {m['attempted']}, failed or wrong {m['failed']}")
