"""One benchmark run: one workload, in this fresh process.

    python3 perfbench/run.py --workload ap_cluster --seed 1 --seconds 10 --trace 0

Set-up (session start, seeded inputs, warm-up, and for ann_churn the
index build) is timed as ``setup_s``.  The timed schedule then runs whole
cycles of the workload's operations until ``--seconds`` have passed (at
least one cycle), one operation at a time, each under its own Spark job
group; ``schedule_cpu_s`` is the process tree's CPU per cycle.  Outputs are checked against independent references after the
schedule.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` enables Spark's event log and
reports the per-layer metrics instead: the same names on every workload
(``LAYER_METRICS``), with the per-operation and per-module figures printed
on a ``layers`` line before the result.  See README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

WORKLOADS = {"ap_cluster": "wl_ap", "ann_churn": "wl_ann", "analytics_mix": "wl_mix"}
PACKAGE = "affinity_propagation_mapreduce_spark"


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_per_vector"):
        return "bytes"
    return "count"


# The traced run's result: one set of names for every workload, each the
# cost of one timed cycle in one layer (or a set-up stage, or peak memory).
SPARK_FIELDS = ("jobs", "tasks", "driver_s", "jvm_cpu_s", "python_s", "shuffle_bytes")
LAYER_METRICS = (
    ("setup.session_s", "setup.inputs_s", "setup.prepare_s", "cycle.wall_s")
    + tuple(f"spark.{f}" for f in SPARK_FIELDS)
    + ("spark.gc_s", "cpu.driver_s", "cpu.jvm_s", "cpu.workers_s",
       "mem.jvm_peak_rss_bytes", "mem.driver_peak_rss_bytes")
)


def cycle_layers(rec: harness.Recorder, costs, cycles: int, fixed: dict) -> dict:
    """Spark's cost of the timed schedule, summed over its operations'
    job groups and divided by the cycle count; ``fixed`` holds the set-up
    stages, the process CPU split and peak memory."""
    from evlog import op_layers

    rows = [op_layers(costs.get(o.group), o.t0, o.t1) for o in rec.ops]
    out = {f"spark.{f}": sum(r[f] for r in rows) / cycles for f in SPARK_FIELDS}
    out["spark.gc_s"] = sum(costs[o.group].gc_ms for o in rec.ops if o.group in costs) / 1e3 / cycles
    out.update(fixed)
    return {k: out[k] for k in LAYER_METRICS}


def op_details(mod, wl, rec: harness.Recorder, costs, extra: dict) -> dict:
    """Per operation kind and per module call: printed on the ``layers``
    line, since each workload has its own."""
    from evlog import op_layers

    out: dict[str, float] = {}
    kinds = mod.SPARK_KINDS
    ops = list(rec.ops) + ([wl.build_op] if getattr(wl, "build_op", None) else [])
    for kind in kinds:
        mine = [o for o in ops if o.kind == kind]
        rows = [op_layers(costs.get(o.group), o.t0, o.t1) for o in mine]
        out[f"{kind}.wall_s"] = harness.median([o.wall for o in mine])
        for field in SPARK_FIELDS:
            out[f"spark.{kind}.{field}"] = harness.median([r[field] for r in rows])
    if hasattr(wl, "module_of"):  # analytics_mix: per query
        out["mix.pass.wall_s"] = harness.median(wl.passes)
        for kind in mod.OP_KINDS:
            q = kind[len("mix."):]
            mine = rec.of(kind)
            rows = [op_layers(costs.get(o.group), o.t0, o.t1) for o in mine]
            out[f"{wl.module_of(q)}.{q}.wall_s"] = harness.median([o.wall for o in mine])
            out[f"spark.{q}.jobs"] = harness.median([r["jobs"] for r in rows])
            out[f"spark.{q}.driver_s"] = harness.median([r["driver_s"] for r in rows])
    timed_groups = [costs[o.group] for o in rec.ops if o.group in costs]
    out["spark.spill_bytes"] = sum(c.spill for c in timed_groups)
    for name, walls in rec.probes.items():
        out[name] = harness.median(walls)
    out.update(extra)
    return out


def report(mod, wl, rec: harness.Recorder) -> tuple[int, int, bool]:
    """Print one line per operation kind; return (attempted, failed,
    correct).  ``correct`` is false when an operation failed that is not
    the workload's known fault."""
    attempted = failed = unexpected = 0
    for kind in mod.OP_KINDS:
        ops = rec.of(kind)
        bad = [o for o in ops if not o.ok]
        attempted += len(ops)
        failed += len(bad)
        if kind not in mod.EXPECTED_FAIL:
            unexpected += len(bad)
        walls = [o.wall for o in ops]
        d = harness.drift(walls)
        print(
            f"op {kind} attempted={len(ops)} failed={len(bad)} "
            f"median_s={harness.median(walls):.4f} "
            f"drift={'n/a' if d is None else f'{d:.3f}'} "
            f"walls_s={[round(w, 3) for w in walls]}"
            + (f" first_failure={bad[0].why!r}" if bad else "")
        )
    if getattr(wl, "build_op", None) is not None:
        print(f"setup-op ann.build wall_s={wl.build_op.wall:.4f}")
    return attempted, failed, unexpected == 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = harness.checkout_root()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: the program ({PACKAGE}/) is not in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    mod = __import__(WORKLOADS[args.workload])

    base = os.path.join(root, ".perfbench_scratch")
    scratch = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(scratch)
    spark = None
    app_id = None
    try:
        env = harness.pinned_env(scratch)
        evdir = harness.write_spark_conf(scratch, bool(args.trace))
        stages = {}
        spark = harness.start_spark(f"perfbench-{args.workload}")
        app_id = spark.sparkContext.applicationId
        stages["session"] = time.monotonic() - T_START
        rec = harness.Recorder(spark)
        wl = mod.Workload(spark, scratch, args.seed)
        stages["inputs"] = time.monotonic() - T_START
        if hasattr(wl, "build"):
            wl.build(rec)
            stages["build"] = time.monotonic() - T_START
        wl.warm_up(rec)
        setup_s = time.monotonic() - T_START
        stages["warm_up"] = setup_s

        jvm = harness.jvm_pid()
        cpu0 = harness.tree_cpu_s()
        own0 = harness.proc_cpu_s(os.getpid())
        jvm0 = harness.proc_cpu_s(jvm) if jvm else 0.0
        t0 = time.monotonic()
        cycles = 0
        while cycles == 0 or time.monotonic() - t0 < args.seconds:
            wl.cycle(rec, cycles)
            cycles += 1
        schedule_cpu_s = (harness.tree_cpu_s() - cpu0) / cycles
        schedule_wall_s = time.monotonic() - t0
        driver_cpu_s = (harness.proc_cpu_s(os.getpid()) - own0) / cycles
        jvm_cpu_s = ((harness.proc_cpu_s(jvm) if jvm else 0.0) - jvm0) / cycles

        if args.trace:
            extra = wl.probes(rec)
            fixed = {
                "setup.session_s": stages["session"],
                "setup.inputs_s": stages["inputs"] - stages["session"],
                "setup.prepare_s": setup_s - stages["inputs"],
                "cycle.wall_s": schedule_wall_s / cycles,
                "cpu.driver_s": driver_cpu_s,
                "cpu.jvm_s": jvm_cpu_s,
                "cpu.workers_s": schedule_cpu_s - driver_cpu_s - jvm_cpu_s,
                "mem.jvm_peak_rss_bytes": float(harness.vm_hwm_bytes(jvm) if jvm else 0),
                "mem.driver_peak_rss_bytes": float(harness.vm_hwm_bytes(os.getpid())),
            }
        t_check = time.monotonic()
        wl.check(rec)
        stages["checks_s"] = time.monotonic() - t_check
        e2e = {"setup_s": setup_s, "schedule_cpu_s": schedule_cpu_s}
        harness.stop_spark(spark)
        spark = None
        if args.trace:
            import evlog

            costs = evlog.parse(evdir)
            details = op_details(mod, wl, rec, costs, extra)
            metrics = cycle_layers(rec, costs, cycles, fixed)
        else:
            metrics = e2e
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_run_dirs(scratch, app_id)
        try:
            os.rmdir(base)
        except OSError:
            pass

    print("env " + json.dumps(env, sort_keys=True))
    print("setup-stages-ending-at-s " + json.dumps({k: round(v, 3) for k, v in stages.items()}))
    print(f"schedule cycles={cycles} wall_s={schedule_wall_s:.3f} trace={args.trace}")
    attempted, failed, correct = report(mod, wl, rec)
    if args.trace:
        print("layers " + json.dumps({k: round(v, 4) for k, v in details.items()}))
        print("e2e-under-trace " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
