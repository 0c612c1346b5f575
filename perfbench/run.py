"""Benchmark of the migration engine: three seeded workloads on
``local[nproc]``, end-to-end metrics untraced, per-layer metrics traced.

    python3 perfbench/run.py --workload bulk_migrate --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``--workload all`` runs every workload
in one session and prints each one's own metrics by name.
Human-readable lines come first; the last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``.  With ``--trace 0`` the metrics are the end-to-end
figures every workload reports:

- ``setup_s``: session start, plus the median of three input builds,
  plus the rest of set-up and the warm-up;
- ``op_s``: the median time of the workload's operation — one
  ``migrate()`` (bulk_migrate); one mutation file from its due time
  until both sinks hold it (dual_write_stream); one pass of
  validate_table, sample_validate, merkle_scoped_repair,
  dedup_survivors and mmr_select (validate_dedup);
- ``rows_per_s``: the median throughput of the workload's main step —
  rows migrated, burst rows drained into both sinks, origin rows
  through validate, spot-check and repair.

``--seconds`` sets how many operations run (see
``workloads.op_count``), not a deadline.  With ``--trace 1`` the
metrics are per-layer figures: the median, over traced operations, of
the Spark work each caused (see ``trace.py``), plus the session start
and the tracing overhead.  Spans and every layer's own figures are
written to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import types
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "perfbench"
WORKLOAD_NAMES = ("bulk_migrate", "dual_write_stream", "validate_dedup")
END_TO_END = {"setup_s": "s", "op_s": "s", "rows_per_s": "rows/s"}
PER_LAYER = {
    "session_start_s": "s",
    "op_wall_s": "s",
    "op_driver_s": "s",
    "op_jobs": "count",
    "op_tasks": "count",
    "op_executor_cpu_s": "s",
    "op_executor_run_s": "s",
    "op_shuffle_write_mb": "MB",
    "op_shuffle_read_mb": "MB",
    "op_input_mb": "MB",
    "op_output_mb": "MB",
    "trace_overhead_s": "s",
}


def pin_machine(work: Path) -> dict:
    """Pin the session's shape through the engine's own env knobs and
    keep every scratch file inside ``work``.  Must run before pyspark
    starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    driver_gb = max(1, min(4, mem_gb // 4))
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    return {"nproc": cpus, "mem_gb": mem_gb, "driver_memory_gb": driver_gb}


def stop_jvm(gateway) -> None:
    """End the JVM pyspark started: it exits when its stdin closes."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def per_layer(spans: list[dict], op_span: str) -> tuple[dict, dict]:
    """(medians over ``op_span`` spans, medians per span name)."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    layers = {
        name: {
            k: statistics.median(s[k] for s in group)
            for k in group[0]
            if isinstance(group[0][k], (int, float))
            and k not in ("span_id", "parent", "start", "end")
        }
        | {"calls": len(group)}
        for name, group in by_name.items()
    }
    ops = layers.get(op_span, {})
    return {f"op_{k}": v for k, v in ops.items()}, layers


def run(args) -> int:
    work = BENCH / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return run_session(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()


def run_session(args, work: Path) -> int:
    machine = pin_machine(work)
    sys.path.insert(0, str(ROOT))

    import pyspark

    from cassandra_data_migration_spark import session
    from cassandra_data_migration_spark.operators import graph, similarity
    from cassandra_data_migration_spark.plans import (
        migrate, repair, throttle, validate,
    )
    from cassandra_data_migration_spark.streaming import dual_write
    from perfbench import workloads
    from perfbench.trace import Tracer

    mods = types.SimpleNamespace(
        migrate=migrate, throttle=throttle, validate=validate, repair=repair,
        dual_write=dual_write, graph=graph, similarity=similarity,
    )
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf |= {
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        }
    t0, wall0 = time.perf_counter(), time.time()
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = Tracer(sc, uuid.uuid4().hex[:12], traced=bool(args.trace))
        tracer.record("session.get_spark", wall0, wall0 + session_s)
        sizes = workloads.SIZES[args.scale]
        names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
        outcomes = {}
        for name in names:
            ctx = workloads.Ctx(
                spark, tracer, str(work / name), args.seed, args.seconds, sizes
            )
            os.makedirs(ctx.work)
            outcome, setup_s = workloads.WORKLOADS[name](ctx, mods)
            outcomes[name] = (outcome, setup_s + session_s)
            spark.catalog.clearCache()
        info = machine | {
            "load_avg": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "seed": args.seed,
            "scale": args.scale,
        }
        spans = tracer.report(sc.uiWebUrl, sc.applicationId) if args.trace else []
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        stop_jvm(gateway)

    attempted = sum(o.attempted for o, _ in outcomes.values())
    failed = sum(o.failed for o, _ in outcomes.values())
    print("machine " + json.dumps(info))
    for name, (o, setup_s) in outcomes.items():
        print(f"workload {name} " + json.dumps(o.info))
        print(f"  setup_s {setup_s:.4f} s")
        for metric, (value, unit) in o.named.items():
            print(f"  {metric} {value:.6g} {unit}")
        print(f"  failed_op_share {o.failed / o.attempted:.6g} ratio "
              f"({o.failed} of {o.attempted})")

    if args.workload == "all":
        metrics = {
            f"{name}.setup_s": (setup_s, "s") for name, (_, setup_s) in outcomes.items()
        }
        for o, _ in outcomes.values():
            metrics |= o.named
    elif not args.trace:
        o, setup_s = outcomes[args.workload]
        values = {"setup_s": setup_s, "op_s": o.op_s, "rows_per_s": o.rows_per_s}
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    else:
        o, _ = outcomes[args.workload]
        ops, layers = per_layer(spans, o.op_span)
        out = BENCH / "out"
        out.mkdir(exist_ok=True)
        with open(out / f"spans-{args.workload}-{args.seed}.json", "w") as f:
            json.dump({"info": info, "layers": layers, "spans": spans}, f, indent=1)
        for name, m in sorted(layers.items()):
            print(f"layer {name} " + " ".join(
                f"{k}={v:.6g}" for k, v in m.items()))
        values = ops | {
            "session_start_s": session_s,
            "trace_overhead_s": o.trace_overhead_s,
        }
        metrics = {k: (values[k], unit) for k, unit in PER_LAYER.items()}
        print(f"  trace_overhead_s {o.trace_overhead_s:.6g} s "
              "(median traced operation minus median untraced one)")

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
