"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from cassandra_data_migration_spark.session import get_spark  # noqa: E402
from tools.scale_gate import total_shuffle  # noqa: E402


# The 15 most expensive queries by the round-11 committed snapshot.
# Their HEADLINE numbers are the median of SPARK_GRAFT_HEAD_REPS
# (default 3) repetitions — the first taken in rotation position like
# every other query, the rest interleaved round-robin at the end of
# the run — because single-shot numbers for multi-second queries
# carry a measured ×1.4-1.9 same-code spread (tools/rep_spread.py,
# rounds 10-11) plus a first-position one-off that no warm fully
# absorbs; medianizing the head is VERDICT r11 "Next round" #3.  Raw
# samples (including the old-methodology single-shot first rep) are
# kept in the artifact under "head_reps".  The tail stays single-shot.
REP_HEAD = [
    "dup_clusters", "dedup_survivors", "prefix_filter_pairs",
    "stream_cow_upsert", "lab_migration_report", "mmr_diverse_select",
    "dedup_ngram_jaccard", "winnow_fingerprints", "repair_pipeline",
    "connector_write_audit", "ngram_novelty", "stream_attribution",
    "kmv_set_ops", "stream_mv_refresh", "repair_pipeline_pruned",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(
        app_name="cdm-spark-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # a full run creates far more than the default 1,000
            # retained stages; eviction makes the cumulative shuffle
            # total SHRINK and late per-query deltas go negative
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    # warm the JVM + parquet footers once so per-query times measure the
    # plan, not session startup
    try:
        queries["pricing_summary"](spark, sf_dir).count()
    except Exception:
        pass
    # materialize the one-off trained/laid-out artifacts OUTSIDE the
    # timed section: at steady state the repair bucket layout, the IVF
    # index, and the BPE merge table are each built once per corpus
    # version and amortized across every downstream run, so their
    # bench entries should report steady-state (probe/repair) cost,
    # not the one-off build (VERDICT r7 bench-accounting note)
    for warm in (
        "_repair_lake_layout",
        "_ensure_ivf_index",
        "_ensure_ivf_refined",
        "_ensure_ivf_incremental",
        "_ensure_lsh_index",
        "_ensure_bpe_merges",
        # the fake-DSv2 connector seam's per-process first-use cost
        # migrated between connector_scan and connector_write_audit
        # depending on run order (r7->r8); warm it once so both report
        # steady state
        "_ensure_connector_seam",
        # round 9: persisted PQ codebook / SQ8 bounds artifacts
        "_ensure_pq_codebook",
        "_ensure_sq8_bounds",
    ):
        try:
            getattr(entry_mod, warm)(spark, sf_dir)
        except Exception:
            pass

    # warm the Structured Streaming machinery once (micro-batch
    # planner, commit-log classes, noop sink): whichever stream query
    # bench's rotation order happens to run first otherwise carries a
    # multi-second one-off that moves between rounds as the window
    # rotates (stream_cell_lww showed 9.2 s in one run, 2.8 s
    # standalone)
    try:
        import tempfile

        d = tempfile.mkdtemp(prefix="bench_stream_warm_")
        spark.range(1).write.mode("overwrite").parquet(f"{d}/src")
        (
            spark.readStream.schema("id long")
            .parquet(f"{d}/src")
            .writeStream.format("noop")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )
    except Exception:
        pass

    # warm the dedup-family codegen path once at tiny SF: the first
    # dedup query in a run otherwise pays a +1.5-2.5 s one-off
    # JIT/codegen start that lands on whichever family member the
    # rotation puts first (measured round 11: the absorber moved with
    # the head order and distorted that query's cross-round number).
    # Same steady-state rationale as the artifact/streaming warms.
    try:
        queries["dup_clusters"](spark, "/root/testdata/sf0.001").count()
    except Exception:
        pass

    # host-speed calibration: a FIXED workload (3× the warm headline
    # query + a CPU-bound spin) whose wall time tracks the host, not
    # the code under test.  Cross-round comparisons should divide
    # per-query times by this — r4's apparent "regressions" were a
    # ~25-50% host slowdown, untangled only by a worktree A/B.
    def _calibrate() -> float:
        t_cal = time.perf_counter()
        try:
            for _ in range(3):
                queries["pricing_summary"](spark, sf_dir).count()
        except Exception:
            pass
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 1103515245 + i) & 0x7FFFFFFF
        return round(time.perf_counter() - t_cal, 4)

    # noise gate (VERDICT r9 #7): round 9's five bench attempts
    # spanned 260-388 s on identical code because the host was
    # externally loaded.  If calibration exceeds the gate, wait for a
    # quieter window and retake it (bounded retries) rather than
    # snapshotting a number that isn't comparable across rounds; the
    # artifact records every attempt plus the load average so the
    # verdict can see exactly how quiet the window was.
    cal_gate = float(os.environ.get("SPARK_GRAFT_CAL_GATE", "1.15"))
    cal_retries = int(os.environ.get("SPARK_GRAFT_CAL_RETRIES", "4"))
    cal_attempts = [_calibrate()]
    while cal_attempts[-1] > cal_gate and len(cal_attempts) <= cal_retries:
        time.sleep(20)
        cal_attempts.append(_calibrate())
    calibration_sec = min(cal_attempts)
    calibration_gate = "passed" if calibration_sec <= cal_gate else "forced"
    try:
        load_avg_start = list(os.getloadavg())
    except OSError:
        load_avg_start = None

    # fault-isolated: one broken query must never take down the whole
    # bench artifact — record its error and keep timing the rest
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    shuffle_mb: dict[str, float] = {}
    per_query_timeout = float(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT", "300"))
    sc = spark.sparkContext

    def _timed_run(name: str, fn) -> float | None:
        """One timed execution of a query (clearCache + job-group
        watchdog, identical to the historical single-shot loop).
        Returns the wall seconds, or None after recording the error."""
        # drop any frames the previous query persisted: 187 queries'
        # leftover caches otherwise accumulate in one JVM and skew the
        # tail of the run (operators re-persist internally as needed)
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        t0 = time.perf_counter()
        # watchdog: cancel this query's Spark jobs if it runs away —
        # count() then raises and we record the error instead of hanging
        sc.setJobGroup(name, name, interruptOnCancel=True)
        watchdog = threading.Timer(
            per_query_timeout, lambda g=name: sc.cancelJobGroup(g)
        )
        watchdog.daemon = True
        watchdog.start()
        try:
            rows[name] = fn(spark, sf_dir).count()
            return round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return None
        finally:
            watchdog.cancel()
            sc.setJobGroup("", "")

    for name, fn in queries.items():
        shuf_before = total_shuffle(spark)
        t0 = time.perf_counter()
        t = _timed_run(name, fn)
        timings[name] = t if t is not None else round(
            time.perf_counter() - t0, 4
        )
        shuf_after = total_shuffle(spark)
        if shuf_before >= 0 and shuf_after >= 0:
            delta = shuf_after - shuf_before
            # a negative delta means the UI evicted retained stages
            # mid-run (cumulative total shrank) — flag, don't record a
            # wrong number
            shuffle_mb[name] = (
                round(delta / 1e6, 2) if delta >= 0 else None
            )

    # median-of-N head reps (see REP_HEAD): rep 1 is the in-rotation
    # single-shot above; the remaining reps run interleaved so host
    # drift hits every head query equally (tools/rep_spread.py shape)
    head_reps = max(1, int(os.environ.get("SPARK_GRAFT_HEAD_REPS", "3")))
    head_samples: dict[str, list[float]] = {
        n: [timings[n]]
        for n in REP_HEAD
        if n in timings and n not in errors
    }
    for _ in range(head_reps - 1):
        for name in REP_HEAD:
            if name not in head_samples or name in errors:
                continue
            t = _timed_run(name, queries[name])
            if t is not None:
                head_samples[name].append(t)
    for name, xs in head_samples.items():
        if len(xs) > 1:
            timings[name] = round(statistics.median(xs), 4)
    total = round(sum(timings.values()), 4)
    try:
        load_avg_end = list(os.getloadavg())
    except OSError:
        load_avg_end = None
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The full per-query map (199 entries, ~5.4 KB as JSON) exceeds the
    # driver's 2,000-char stdout tail capture, so it goes to a sibling
    # file; the FINAL stdout line is a compact summary that always fits.
    full = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "calibration_sec": calibration_sec,
        "calibration_attempts": cal_attempts,
        "calibration_gate": calibration_gate,
        "load_avg_start": load_avg_start,
        "load_avg_end": load_avg_end,
        "queries": timings,
        "rows": rows,
        "shuffle_read_mb": shuffle_mb,
        "head_reps": head_samples,  # raw samples; [0] = single-shot
        "sf": sf_val,
    }
    if errors:
        full["errors"] = errors
    # Output-path selection (VERDICT r10 #5): the driver re-runs bench
    # after the builder's final commit, and writing the tracked
    # BENCH_FULL.json unconditionally dirtied the tree and forked the
    # committed snapshot every round.  Default is now the gitignored
    # BENCH_LOCAL.json; the builder snapshots explicitly with
    # `--out BENCH_FULL.json` (or SPARK_GRAFT_BENCH_OUT).
    out_name = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    if "--out" in sys.argv:
        idx = sys.argv.index("--out")
        if idx + 1 < len(sys.argv):  # bare trailing --out: keep default
            out_name = sys.argv[idx + 1]
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), out_name
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)

    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    out = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "calibration_sec": calibration_sec,
        "calibration_gate": calibration_gate,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries": slowest,  # slowest 10; full map in BENCH_FULL.json
        "full": full_path,
    }
    # direct comparable to BASELINE.md's "CDM 50K rows/s" tier: rows
    # moved by the bulk migrate (largest table) over its wall time
    for key in ("migrate_bulk", "migrate_pipeline"):
        if key in rows and timings.get(key) and key not in errors:
            out["migrate_rows_per_sec"] = round(rows[key] / timings[key])
            out["migrate_rows_per_sec_query"] = key
            break
    line = json.dumps(out)
    if len(line) > 1900:  # belt-and-braces: never exceed the capture
        out.pop("queries", None)
        line = json.dumps(out)
    print(line)
    try:
        spark.stop()
    except Exception:
        pass


if __name__ == "__main__":
    main()
