#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one closed-loop workload (one client; the next operation starts when
the previous one has returned and its output has been checked) against the
``ontograph_spark`` package of the checkout it sits in, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs the same operations with a Spark job group per span and the status
REST API on, prints the end-to-end and the per-layer metrics and writes
every span to ``.perfbench/traces/``. Metric names and units come from
BENCHMARK.json. Everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("construct", "ingest", "gate_entries")
#: untimed rounds of the workload's own operations before the window opens
WARMUP_ROUNDS = 1

#: per-layer metric -> (span name, span field); the median over the window's spans
SPAN_METRICS = {
    "sources.build_s": ("sources.build", "wall_s"),
    "sources.build_jobs": ("sources.build", "jobs"),
    "gate.plan_s": ("gate.plan", "wall_s"),
    "gate.exec_s": ("gate.exec", "wall_s"),
    "pipeline.construct.plan_s": ("pipeline.construct.plan", "wall_s"),
    "pipeline.construct.plan_jobs": ("pipeline.construct.plan", "jobs"),
    "pipeline.extract.s": ("pipeline.extract", "wall_s"),
    "pipeline.link.s": ("pipeline.link", "wall_s"),
    "pipeline.canon.s": ("pipeline.canon", "wall_s"),
    "pipeline.materialize.write_s": ("pipeline.materialize.write", "wall_s"),
    "pipeline.materialize.shuffle_bytes": ("pipeline.materialize.write", "shuffle_bytes"),
    "pipeline.materialize.task_skew": ("pipeline.materialize.write", "task_skew"),
    "store.commit_s": ("store.commit", "wall_s"),
    "store.commit_jobs": ("store.commit", "jobs"),
    "store.read_s": ("store.read", "wall_s"),
    "query.lookup.build_s": ("query.lookup.build", "wall_s"),
    "query.lookup.build_jobs": ("query.lookup.build", "jobs"),
    "query.lookup.plan_s": ("query.lookup.plan", "wall_s"),
    "query.lookup.exec_s": ("query.lookup.exec", "wall_s"),
    "query.lookup.rows": ("query.lookup.exec", "rows"),
    "query.lookup.shuffle_bytes": ("query.lookup.exec", "shuffle_bytes"),
    "query.lookup.task_skew": ("query.lookup.exec", "task_skew"),
}
#: per-operation Spark totals (median over the workload's operations)
OP_METRICS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.task_time_s": "task_time_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.spill_bytes": "spill_bytes",
}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _load(name: str):
    import importlib

    module, cls = {
        "construct": ("wl_construct", "Construct"),
        "ingest": ("wl_ingest", "Ingest"),
        "gate_entries": ("wl_gate", "GateEntries"),
    }[name]
    return getattr(importlib.import_module(module), cls)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    try:
        cls = _load(args.workload)
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from a checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units()

    import harness as H

    work = H.WorkDir(ROOT, args.workload, args.seed)
    spark = H.build_spark(work, f"perfbench-{args.workload}", trace)
    setup_parts = {"spark_s": time.monotonic() - T_START}
    attempted = failed = 0
    try:
        tracer = H.Tracer(spark, trace)
        wl = cls(spark, work, args.seed, tracer)
        wl.setup()
        setup_parts["inputs_s"] = time.monotonic() - T_START - setup_parts["spark_s"]
        # warm-up: the same rounds, untimed, so the JIT and the Python
        # workers are warm when the window opens
        for _ in range(WARMUP_ROUNDS):
            for op in wl.ops():
                op()
        setup_s = time.monotonic() - T_START
        setup_parts["warmup_s"] = setup_s - setup_parts["spark_s"] - setup_parts["inputs_s"]

        noise = H.HostNoise()
        tracer.timed = True
        noise.start()
        deadline = time.monotonic() + args.seconds
        jvm = H.jvm_pid()
        rounds: list[list[float]] = []
        round_cpu: list[float] = []
        # whole rounds only: the window decides whether a round starts; a
        # round with a failed operation is counted but not timed
        while time.monotonic() < deadline or not (rounds or failed):
            cpu0 = H.tree_cpu_s(jvm)
            walls = []
            for op in wl.ops():
                attempted += 1
                try:
                    walls.append(op())
                except H.CheckFailed:
                    raise
                except Exception:  # noqa: BLE001 — a failing operation is counted, not fatal
                    traceback.print_exc()
                    failed += 1
                    walls.append(None)
            if None not in walls:
                rounds.append(walls)
                round_cpu.append(H.tree_cpu_s(jvm) - cpu0)
        host = noise.stop()
        if trace and hasattr(wl, "stage_probes"):
            wl.stage_probes()
        tracer.timed = False
        if not rounds:
            print(
                f"perfbench: no round of the window completed ({failed} of {attempted} "
                "operations failed); no result",
                file=sys.stderr,
            )
            return 1
        wl.prove_checks()

        metrics = {
            "setup_s": setup_s,
            "round_s": H.median(sum(r) for r in rounds),
            "round_cpu_s": H.median(round_cpu),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": trace,
            "setup_parts": setup_parts,
            "rounds": rounds,
            "round_cpu": round_cpu,
            "host": host,
            "layers": wl.layer_metrics(),
            **metrics,
        }
        units = dict(e2e_units)
        if trace:
            tracer.resolve()
            layers = {k: 0.0 for k in layer_units}
            for name, (span, field) in SPAN_METRICS.items():
                layers[name] = tracer.med(span, field)
            ops = [sp for sp in tracer.spans if sp["timed"] and sp["name"].endswith(".op")]
            for name, field in OP_METRICS.items():
                layers[name] = H.median(sp["tree"][field] for sp in ops)
            layers.update(record["layers"])
            metrics.update(layers)
            units.update(layer_units)
            tracer.write(
                os.path.join(work.traces, f"{args.workload}-seed{args.seed}.json"),
                {"record": record},
            )
        print(json.dumps(record, default=str), file=sys.stderr)
    except H.CheckFailed as e:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(attempted, 1), "failed": failed, "metrics": {}}))
        return 1
    finally:
        H.stop_spark(spark)
        work.remove()

    print(
        json.dumps(
            {
                "correct": True,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
