"""sf0.1 -> sf1 scale gate (VERDICT r7 "Next round" #1).

Builds a 10x corpus from the sf0.1 fixtures (key-shifted replication:
copy 0 is the original rows, copies 1-9 shift every key column by
copy * 1e9 and vary document text with a per-copy token so dedup
multiplicity stays realistic instead of exploding pair counts), then
runs the most expensive contract queries at BOTH scales in one JVM,
recording per-query wall seconds and shuffle-read bytes (completed-
stage deltas from the status API).

The headline number per query is the SCALING EXPONENT
``log10(t_sf1 / t_sf01)`` — 1.0 is perfectly linear in the 10x data,
<= ~1.2 passes the gate (constant factors + AQE noise), anything
materially super-linear is a round fix.  Shuffle bytes get the same
exponent so a wall regression can be attributed to data volume vs
plan shape.

Usage: python tools/scale_gate.py [--skip-build] [--only a,b] [--all]
``--all`` sweeps every contract query (VERDICT r8 ask #2) under a
per-query watchdog wall cap; default mode runs the expensive TARGETS.
Writes ``--out`` (default SCALE_PROBE_r09.json) and prints a table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cassandra_data_migration_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
WORK = "/tmp/sf1_gate"
STRIDE = 1_000_000_000
COPIES = 10

# key columns shifted per copy (FK consistency: orders.o_custkey moves
# with customer.c_custkey, lineitem.l_orderkey with orders.o_orderkey)
SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
VERBATIM = ["region", "nation", "supplier", "part"]

# the ~25 most expensive contract queries by BENCH_FULL (excluding
# connector_write_audit — a fixed-cost seam audit, not a data path)
TARGETS = [
    "repair_pipeline_pruned", "dup_clusters", "classifier_auc",
    "dedup_survivors", "stream_cow_upsert", "prefix_filter_pairs",
    "lsh_index_incremental", "mmr_diverse_select",
    "lab_migration_report", "winnow_fingerprints",
    "dedup_ngram_jaccard", "minhash_lsh_dedup", "repair_pipeline",
    "bucketed_join", "local_quorum_repair", "stream_cms",
    "replica_ownership_nts", "stream_mv_refresh", "stream_cell_lww",
    "snapshot_changes_feed", "stream_attribution", "cow_merge_upsert",
    "kmv_set_ops", "stream_irate", "histogram_quantile_rated",
    # round-8 additions: artifact probes and the liveness family —
    # probes should stay near-flat (pruned partitions / O(state))
    "ivf_index_probe", "ivf_index_append", "bpe_vocab_persisted",
    "alert_node_down", "stream_node_down",
]


def build_fixture(spark, work: str = WORK, n_copies: int = COPIES) -> None:
    copies = spark.range(n_copies).select(F.col("id").alias("_copy"))
    for t, keys in SHIFTS.items():
        df = spark.read.parquet(f"{SF01}/{t}.parquet")
        out = df.crossJoin(F.broadcast(copies))
        for k in keys:
            out = out.withColumn(k, F.col(k) + F.col("_copy") * STRIDE)
        if t == "documents":
            # vary the text per copy so exact-duplicate groups stay the
            # fixture's natural size — a 10x-duplicated corpus measures
            # multiplicity collapse (tools/scale_probe.py does that),
            # this gate measures VOLUME scaling
            out = out.withColumn(
                "text",
                F.when(F.col("_copy") == 0, F.col("text")).otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" c"),
                        F.col("_copy").cast("string"),
                    )
                ),
            )
        out.drop("_copy").write.mode("overwrite").parquet(
            f"{work}/{t}.parquet"
        )
    for t in VERBATIM:
        spark.read.parquet(f"{SF01}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{work}/{t}.parquet")


def _stages(spark) -> list:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=complete",
        timeout=10,
    ) as r:
        return json.loads(r.read())


def total_shuffle(spark) -> int:
    """Completed-stage shuffle-read bytes so far (status API); -1 when
    the UI is unavailable.  Deltas around a query give its shuffle
    figure.  The one stage-API scraper ``bench.py`` and the scale
    probes share."""
    try:
        return sum(s.get("shuffleReadBytes", 0) for s in _stages(spark))
    except Exception:
        return -1


def peak_memory_since(spark, seen_stage_ids: set) -> tuple[int, int, set]:
    """Memory high-water marks over stages completed since
    ``seen_stage_ids``: ``(stage_sum_peak, max_task_peak, seen)``.

    - ``stage_sum_peak`` — max per-stage ``peakExecutionMemory``.  The
      stage-level figure Spark reports is the SUM of task peaks across
      the stage, so this metric is ~proportional to data volume (it is
      what rounds ≤ 8 recorded as "peak task memory").
    - ``max_task_peak`` — the true per-TASK peakExecutionMemory max
      (taskMetricsDistributions p100 via withSummaries): the single-
      task high-water mark that decides whether one hot bucket blows
      an executor at scale.  This is the metric the bounded-bucket
      candidate cap bounds BY DESIGN, and the one the gate flags on.
    """
    try:
        stages = _stages(spark)
    except Exception:
        return -1, -1, seen_stage_ids
    ids = {(s["stageId"], s["attemptId"]) for s in stages}
    new = [
        s
        for s in stages
        if (s["stageId"], s["attemptId"]) not in seen_stage_ids
    ]
    stage_sum = max((s.get("peakExecutionMemory", 0) for s in new), default=0)
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    task_peak = 0
    for s in new:
        if s.get("peakExecutionMemory", 0) == 0:
            continue
        try:
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages/"
                f"{s['stageId']}/{s['attemptId']}?withSummaries=true",
                timeout=10,
            ) as r:
                det = json.loads(r.read())
            dist = (det.get("taskMetricsDistributions") or {}).get(
                "peakExecutionMemory"
            ) or []
            if dist:
                task_peak = max(task_peak, int(dist[-1]))
        except Exception:
            continue
    return stage_sum, task_peak, ids


def _timed_count(spark, fn, sf_dir: str, wall_cap_s: float):
    """Run ``fn(spark, sf_dir).count()`` with a watchdog that cancels
    the job group after ``wall_cap_s`` — the generous per-query cap
    the full-suite sweep needs so one pathological query can't stall
    the gate (VERDICT r8 ask #2)."""
    import threading

    group = f"scale-gate-{id(fn)}-{time.monotonic_ns()}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "scale gate query", interruptOnCancel=True)
    timer = threading.Timer(
        wall_cap_s, lambda: sc.cancelJobGroup(group)
    )
    timer.daemon = True
    timer.start()
    try:
        return fn(spark, sf_dir).count()
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--all",
        action="store_true",
        help="sweep EVERY contract query, not just the expensive "
        "TARGETS list — the cheap ones are where an accidental "
        "driver-side materialization hides (it stays fast at sf0.1)",
    )
    ap.add_argument("--wall-cap", type=float, default=300.0)
    ap.add_argument(
        "--no-plateau",
        action="store_true",
        help="skip the third-scale-point plateau adjudication for "
        "memory-only flags",
    )
    ap.add_argument("--plateau-copies", default="20,40,80")
    ap.add_argument(
        "--plateau-for",
        default="",
        help="comma-separated queries to run through the plateau "
        "escalation even when unflagged — for adjudicating large "
        "ABSOLUTE task peaks whose exponents pass the gate "
        "(VERDICT r10 #4: salted_join / bucketed_join)",
    )
    ap.add_argument("--out", default="SCALE_PROBE_r10.json")
    args = ap.parse_args()

    spark = get_spark(
        app_name="cdm-scale-gate",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_build:
        t0 = time.perf_counter()
        build_fixture(spark)
        print(f"built {WORK} in {time.perf_counter() - t0:.1f}s")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    if args.all:
        # TARGETS first (the expensive tail sets the wall), then the rest
        targets = [t for t in TARGETS if t in qs] + [
            t for t in qs if t not in TARGETS
        ]
    else:
        targets = [t for t in TARGETS if t in qs]
    if args.only:
        keep = set(args.only.split(","))
        targets = [t for t in targets if t in keep]

    results: dict[str, dict] = {t: {} for t in targets}
    for sf_name, sf_dir in (("sf01", SF01), ("sf1", WORK)):
        # warm JVM/footers; pre-warm the repair lake layout so the
        # pruned repair reports steady-state cost at both scales
        qs["pricing_summary"](spark, sf_dir).count()
        try:
            entry_mod._repair_lake_layout(spark, sf_dir)
        except Exception:
            pass
        seen: set = set()
        _, _, seen = peak_memory_since(spark, seen)
        for t in targets:
            sh0 = total_shuffle(spark)
            t0 = time.perf_counter()
            try:
                n = _timed_count(spark, qs[t], sf_dir, args.wall_cap)
                wall = round(time.perf_counter() - t0, 3)
                err = None
            except Exception as e:  # keep probing the rest
                wall, n, err = round(time.perf_counter() - t0, 3), -1, repr(e)[:200]
            peak, task_peak, seen = peak_memory_since(spark, seen)
            results[t][sf_name] = {
                "wall_s": wall,
                "rows": n,
                "shuffle_bytes": max(0, total_shuffle(spark) - sh0),
                "peak_task_memory_bytes": peak,
                "max_task_peak_bytes": task_peak,
                **({"err": err} if err else {}),
            }
            print(f"{sf_name:5s} {t:28s} {wall:8.2f}s rows={n}")

    for t in targets:
        a, b = results[t].get("sf01"), results[t].get("sf1")
        if a and b and a["wall_s"] > 0 and not a.get("err") and not b.get("err"):
            results[t]["wall_exponent"] = round(
                math.log10(max(b["wall_s"] / a["wall_s"], 1e-9)), 3
            )
            if a["shuffle_bytes"] > 0 and b["shuffle_bytes"] > 0:
                results[t]["shuffle_exponent"] = round(
                    math.log10(b["shuffle_bytes"] / a["shuffle_bytes"]), 3
                )
            pa = a.get("peak_task_memory_bytes", 0)
            pb = b.get("peak_task_memory_bytes", 0)
            if pa > 0 and pb > 0:
                results[t]["peak_memory_exponent"] = round(
                    math.log10(pb / pa), 3
                )
            ta = a.get("max_task_peak_bytes", 0)
            tb = b.get("max_task_peak_bytes", 0)
            if ta > 0 and tb > 0:
                results[t]["task_peak_exponent"] = round(
                    math.log10(tb / ta), 3
                )

    # gate verdict: wall exponent > 1.2 or peak-memory exponent > 1.3
    # is a flag (1.0 = linear in the 10× data; constant factors + AQE
    # noise allow the slack).  Sub-second sf0.1 queries get wall slack
    # (fixed JVM/plan overhead dominates and exaggerates the ratio) but
    # their MEMORY exponent still gates — that's the driver-side-
    # materialization tell the full sweep exists to catch.
    # memory gates on the TASK-level exponent (max single-task peak —
    # what the bounded-bucket cap bounds by design); the stage-sum
    # metric stays recorded for r8 comparability but tracks data
    # volume, not a per-task bound
    flagged = []
    mem_only = []
    for t in targets:
        r = results[t]
        a = r.get("sf01", {})
        we = r.get("wall_exponent")
        me = r.get("task_peak_exponent", r.get("peak_memory_exponent"))
        wall_bad = (
            we is not None and we > 1.2 and a.get("wall_s", 0) >= 1.0
        )
        mem_bad = (
            me is not None
            and me > 1.3
            # a task peak under 64 MB at sf1 cannot threaten an
            # executor; exponents on near-zero baselines are noise
            and r.get("sf1", {}).get("max_task_peak_bytes", 0) > 64 << 20
        )
        errs = a.get("err") or r.get("sf1", {}).get("err")
        if wall_bad or mem_bad or errs:
            flagged.append(t)
            if mem_bad and not wall_bad and not errs:
                mem_only.append(t)

    # Plateau adjudication (VERDICT r9 #2): a memory-ONLY flag can be
    # a per-task bound still filling toward its ceiling rather than
    # unbounded growth — per-task hash-agg/join state tracks per-task
    # INPUT, and per-task input stops growing once files split at
    # spark.sql.files.maxPartitionBytes (and hash aggregation spills
    # past its memory fraction regardless).  Measure instead of
    # journaling: escalate through larger replication points and
    # retire the flag at the first point whose task peak stays within
    # 15% of the previous point — the full trajectory lands in the
    # artifact so the verdict sees where (or whether) the growth
    # stopped.
    forced = [
        t for t in args.plateau_for.split(",") if t and t in targets
    ]
    mem_only = sorted(set(mem_only) | set(forced))
    if mem_only and not args.no_plateau:
        points = [int(c) for c in args.plateau_copies.split(",")]
        last_peak = {
            t: results[t].get("sf1", {}).get("max_task_peak_bytes", 0)
            for t in mem_only
        }
        traj = {
            t: [{"copies": COPIES, "max_task_peak_bytes": last_peak[t]}]
            for t in mem_only
        }
        open_flags = set(mem_only)
        for n_copies in points:
            if not open_flags:
                break
            work2 = f"/tmp/sf{n_copies}x_gate"
            if not os.path.isdir(f"{work2}/orders.parquet"):
                t0 = time.perf_counter()
                build_fixture(spark, work2, n_copies)
                print(f"built {work2} in {time.perf_counter() - t0:.1f}s")
            qs["pricing_summary"](spark, work2).count()
            seen2: set = set()
            _, _, seen2 = peak_memory_since(spark, seen2)
            for t in sorted(open_flags):
                t0 = time.perf_counter()
                try:
                    _timed_count(spark, qs[t], work2, args.wall_cap)
                    err2 = None
                except Exception as e:
                    err2 = repr(e)[:200]
                wall2 = round(time.perf_counter() - t0, 3)
                _, task_peak2, seen2 = peak_memory_since(spark, seen2)
                ratio = (
                    task_peak2 / last_peak[t] if last_peak[t] else None
                )
                traj[t].append(
                    {
                        "copies": n_copies,
                        "wall_s": wall2,
                        "max_task_peak_bytes": task_peak2,
                        "peak_ratio_vs_prev_point": (
                            round(ratio, 3) if ratio else None
                        ),
                        **({"err": err2} if err2 else {}),
                    }
                )
                plateau = err2 is None and ratio is not None and ratio <= 1.15
                print(
                    f"plateau {t}@{n_copies}x: "
                    f"{last_peak[t] / 1e6:.1f} -> {task_peak2 / 1e6:.1f} MB "
                    f"({'retired' if plateau else 'still growing'})"
                )
                last_peak[t] = max(task_peak2, 1)
                if plateau:
                    open_flags.discard(t)
                    if t in flagged:  # forced queries were never flags
                        flagged.remove(t)
        for t in mem_only:
            results[t]["plateau"] = {
                "trajectory": traj[t],
                "plateaued": t not in open_flags,
            }
    out = {
        "scale_gate": {
            "sf01_dir": SF01,
            "sf1_dir": WORK,
            "copies": COPIES,
            "wall_cap_s": args.wall_cap,
            "flagged": flagged,
            "queries": results,
        }
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"flagged ({len(flagged)}): {flagged}")
    print(
        "\n| query | sf0.1 s | sf1 s | wall exp | shuffle exp |"
        " stage-sum-mem exp | task-peak exp | sf1 task peak MB |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for t in targets:
        r = results[t]
        a, b = r.get("sf01", {}), r.get("sf1", {})
        print(
            f"| {t} | {a.get('wall_s', '-')} | {b.get('wall_s', '-')} |"
            f" {r.get('wall_exponent', '-')} |"
            f" {r.get('shuffle_exponent', '-')} |"
            f" {r.get('peak_memory_exponent', '-')} |"
            f" {r.get('task_peak_exponent', '-')} |"
            f" {round(b.get('max_task_peak_bytes', 0) / 1e6, 1)} |"
        )


if __name__ == "__main__":
    main()
