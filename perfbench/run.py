"""Layer-attributed benchmark of the spark-graft engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ops_sf0.1 --seed 1 --seconds 5 \\
        --trace 0

Workloads (see ``perfbench/README.md`` for why each was chosen and which
layers it exercises):

- ``ops_sf0.1`` — the twelve-op mix over seeded sf0.1 tables;
- ``write_path`` — the four file verbs, the curate pipeline and the
  stateful-sessions stream twin.

One process, ``local[4]``, one client in a closed loop.  Inputs are
generated from ``--seed`` under ``.perfbench_work/`` (removed at the end);
outputs are checked outside the timed sections.  ``--trace 1`` makes a
separate traced run that reports per-layer figures and writes its spans
to ``.perfbench_out/``.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ops_sf0.1", "write_path")

E2E_UNITS = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "op_p50_s": "s",
}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "operators.registry_load_s": "s",
    "operators.construct_s": "s",
    "operators.py4j_calls": "count",
    "plans.plan_s": "s",
    "plans.shuffles": "count",
    "plans.codegen_stages": "count",
    "operators.execute_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "sources.bytes_read": "bytes",
    "sources.rows_read": "rows",
    "fileops.list_s": "s",
    "fileops.match_s": "s",
    "fileops.copy_s": "s",
    "fileops.move_s": "s",
    "fileops.delete_s": "s",
    "fileops.fs_calls": "count",
    "fileops.bytes": "bytes",
    "pipelines.stage_rows": "rows",
    "pipelines.jobs": "count",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes",
    "operators.self_s": "s",
    "plans.self_s": "s",
    "fileops.self_s": "s",
    "pipelines.self_s": "s",
    "sinks.self_s": "s",
    "streaming.self_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}

# event-log roll-up key -> per-layer metric, for op job groups
_OP_EVENTS = {
    "jobs": "operators.jobs",
    "stages": "operators.stages",
    "tasks": "operators.tasks",
    "executor_run_s": "operators.executor_run_s",
    "executor_cpu_s": "operators.executor_cpu_s",
    "gc_s": "operators.gc_s",
    "shuffle_write_bytes": "operators.shuffle_write_bytes",
    "spill_bytes": "operators.spill_bytes",
    "bytes_read": "sources.bytes_read",
    "rows_read": "sources.rows_read",
    "codegen_stages": "plans.codegen_stages",
}


def _prepare_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit: the checkout on
    ``PYTHONPATH`` (workers unpickle engine functions by module), Spark's
    local and temp directories inside the work area, four local cores."""
    for sub in ("tmp", "spark_local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files in the work area, and no
    # perf-counter file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    for var in ("SPARK_MASTER", "MASTER"):
        os.environ.pop(var, None)


def _layer_metrics(result: dict, run, events: dict) -> dict:
    """Median over the traced passes of each per-layer figure; layers the
    workload bypasses read 0."""
    values = {name: [] for name in LAYER_UNITS}
    for lp in result["layer_passes"]:
        figures = {k: v for k, v in lp.items()
                   if k in LAYER_UNITS}
        for key, metric in _OP_EVENTS.items():
            figures[metric] = sum(
                events.get(g, {}).get(key, 0) for g in lp["groups"]
                if not g.startswith("curate_corpus#")
            )
        figures["pipelines.jobs"] = sum(
            events.get(g, {}).get("jobs", 0) for g in lp["groups"]
            if g.startswith("curate_corpus#")
        )
        for layer, self_s in lp["self"].items():
            if f"{layer}.self_s" in LAYER_UNITS:
                figures[f"{layer}.self_s"] = self_s
        for name in LAYER_UNITS:
            values[name].append(figures.get(name, 0))
    out = {name: statistics.median(v) if v else 0 for name, v in
           values.items()}
    out["session.get_spark_s"] = run.setup["get_spark_s"]
    out["operators.registry_load_s"] = run.setup["registry_load_s"]
    out["trace.overhead_s"] = result["overhead_s"]
    return out


def _print_op_split(spans: list[dict], events: dict) -> None:
    """One line per traced op call: the construct / plan / execute split
    of its wall, its py4j round-trips and its Spark jobs, stages, tasks."""
    children: dict[int, dict[str, float]] = {}
    for s in spans:
        if s["parent"] is not None:
            split = children.setdefault(s["parent"], {})
            split[s["name"]] = s["end"] - s["start"]
            if s["name"] == "operators.construct":
                split["py4j"] = s["py4j"]
    runs = [s for s in spans if s["name"] == "operators.run"]
    if not runs:
        return
    print("per-op split (traced passes; seconds):")
    print(f"  {'op#pass':<28} {'construct':>9} {'plan':>7} {'execute':>8}"
          f" {'wall':>7} {'py4j':>6} {'jobs':>5} {'stages':>6} {'tasks':>6}")
    for s in runs:
        split = children.get(s["id"], {})
        ev = events.get(s["group"], {})
        print(f"  {s['group']:<28} "
              f"{split.get('operators.construct', 0):>9.3f} "
              f"{split.get('plans.plan', 0):>7.3f} "
              f"{split.get('operators.execute', 0):>8.3f} "
              f"{s['end'] - s['start']:>7.3f} {split.get('py4j', 0):>6} "
              f"{ev.get('jobs', 0):>5} {ev.get('stages', 0):>6} "
              f"{ev.get('tasks', 0):>6}")


def _print_table(title: str, rows: dict) -> None:
    print(title)
    for name, (value, unit) in rows.items():
        print(f"  {name:<32} {value:>14.6g} {unit}")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "googlecloudstorage_blueprints_spark")):
        print("perfbench: the engine package is not in this checkout",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, work: str) -> dict:
    """Set up, run the workload, stop the JVM, print the figures; returns
    the JSON result."""
    _prepare_env(work)
    from perfbench import harness, trace

    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    tracer = trace.Tracer(bool(args.trace), run_id)
    run = harness.Run(root=ROOT, work=work, seed=args.seed, tracer=tracer)
    log_dir = os.path.join(work, "eventlog")
    extra = {}
    if args.trace:
        os.makedirs(log_dir)
        extra = trace.event_log_conf(log_dir)
    try:
        harness.set_up(run, extra)
        app_id = run.spark.sparkContext.applicationId
        # imported only now, so this process's set-up starts from the
        # same modules as a probe's
        from perfbench import workloads

        body = (workloads.run_ops if args.workload == "ops_sf0.1"
                else workloads.run_write_path)
        result = body(run, args.seconds)
    finally:
        harness.shut_down(run.spark)

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} attempted={run.attempted} "
          f"failed={run.failed}")
    named = {
        **result["named"],
        "error_rate": (run.failed / max(run.attempted, 1), "ratio"),
    }
    if args.trace:
        events = trace.read_event_log(log_dir, app_id)
        layers = _layer_metrics(result, run, events)
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layers.items()}
        _print_table("per-layer (median over traced passes):",
                     {k: (v["value"], v["unit"]) for k, v in metrics.items()})
        _print_op_split(tracer.spans, events)
    else:
        e2e = {"setup_s": run.setup["setup_s"], **result["e2e"]}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
        _print_table("end-to-end:", {k: (v["value"], v["unit"])
                                     for k, v in metrics.items()})
    _print_table("named figures:", named)

    finite = all(isinstance(m["value"], (int, float))
                 and math.isfinite(m["value"]) for m in metrics.values())
    return {
        "correct": run.failed == 0 and finite,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
