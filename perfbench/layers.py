#!/usr/bin/env python3
"""Prints the per-layer table of a traced benchmark run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 60 --trace 1
    python3 perfbench/layers.py [.bench_build/perfbench/results/analytics-seed1-trace1.json]

With no argument it reads the newest traced result. Self time splits every warm
op's wall time into disjoint layers:

  exec      wall time with at least one Spark job running (listener spans)
  plans     Catalyst analysis/optimization/planning outside jobs
            (QueryPlanningTracker phases of every executed plan)
  codegen   Janino compile time outside jobs (CodegenMetrics)
  queries   the rest of a query builder's time (driver work in the build)
  ml        the rest of a discretizer fit/transform (driver-side loops)
  manifest  the rest of a ManifestTable call (metadata, commit protocol)
  driver    the rest of a query's forcing action (submission, observation)

exec, plans and codegen are measured by their own instruments; the owning
layer gets the remainder of its window. Where the instruments overlap
(planning or compilation while a job runs) the remainder would go
negative; that overlap is reported, and the layer times reconcile with op
wall time when it stays within a few percent. The table also lists the
ops that left storage blocks cached after their action.
"""
import glob
import json
import os
import sys

ORDER = ["exec", "plans", "codegen", "queries", "ml", "manifest", "driver"]


def split(op):
    """Disjoint self time per layer for one op, plus the overlap."""
    owner = op["layer"]
    out = dict.fromkeys(ORDER, 0.0)
    overlap = 0.0
    for win, rest in (("b", owner), ("a", "driver" if owner == "queries" else owner)):
        wall = op["build_s" if win == "b" else "action_s"]
        parts = {"exec": op[f"exec_{win}_s"], "plans": op[f"plan_{win}_s"],
                 "codegen": op[f"cg_{win}_s"]}
        left = wall - sum(parts.values())
        if left < 0:
            # instruments overlapped: shrink plans/codegen, never exec
            overlap += -left
            cut = min(-left, parts["plans"] + parts["codegen"])
            tot = parts["plans"] + parts["codegen"] or 1.0
            for k in ("plans", "codegen"):
                parts[k] -= cut * parts[k] / tot
            left = 0.0
        for k, v in parts.items():
            out[k] += v
        out[rest] += left
    return out, overlap


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else max(
        glob.glob(".bench_build/perfbench/results/*-trace1.json"), key=os.path.getmtime)
    res = json.load(open(path))
    passes = res["passes"]
    warm = passes[1:]
    tot = dict.fromkeys(ORDER, 0.0)
    per_op = {}
    wall = overlap = 0.0
    for p in warm:
        for op in p["ops"]:
            s, ov = split(op)
            overlap += ov
            wall += op["wall_s"]
            for k in ORDER:
                tot[k] += s[k]
            acc = per_op.setdefault(op["name"], [0.0, 0] + [0.0] * len(ORDER))
            acc[0] += op["wall_s"]
            acc[1] += 1
            for i, k in enumerate(ORDER):
                acc[2 + i] += s[k]
    pass_wall = sum(p["wall_s"] for p in warm)
    print(f"{os.path.basename(path)}: {len(warm)} warm passes, "
          f"{sum(len(p['ops']) for p in warm)} ops")
    print(f"\n{'layer':10} {'self s':>10} {'share':>7}")
    for k in ORDER:
        print(f"{k:10} {tot[k]:10.3f} {100 * tot[k] / wall:6.1f}%")
    layered = sum(tot.values())
    print(f"{'sum':10} {layered:10.3f}")
    print(f"\nop wall {wall:.3f} s; layers {layered:.3f} s; "
          f"instrument overlap {overlap:.3f} s ({100 * overlap / wall:.2f}% of op wall)")
    print(f"pass wall {pass_wall:.3f} s; time between ops (cleanup, checks) "
          f"{pass_wall - wall:.3f} s ({100 * (pass_wall - wall) / pass_wall:.2f}%)")
    if overlap > 0.05 * wall:
        print("WARNING: layer instruments overlap by more than 5% of op wall")

    print(f"\n{'op':28} {'n':>3} {'wall s':>8} " +
          " ".join(f"{k:>8}" for k in ORDER))
    for name, acc in sorted(per_op.items(), key=lambda kv: -kv[1][0]):
        print(f"{name:28} {acc[1]:3d} {acc[0] / acc[1]:8.3f} " +
              " ".join(f"{v / acc[1]:8.3f}" for v in acc[2:]))

    leaks = {}
    for p in passes:
        for op in p["ops"]:
            if op.get("leaked_blocks"):
                b, mb = leaks.get(op["name"], (0, 0.0))
                leaks[op["name"]] = (max(b, op["leaked_blocks"]),
                                     max(mb, op["leaked_bytes"] / 2 ** 20))
    print("\nops leaving cached blocks after their action (cleared by the harness):")
    if not leaks:
        print("  none")
    for name, (b, mb) in sorted(leaks.items()):
        print(f"  {name:28} {b:5d} blocks {mb:9.2f} MiB")


if __name__ == "__main__":
    main()
