"""Streaming state is BOUNDED, not O(stream): replay a long event
stream (many micro-batches, event time advancing far past the
watermark) through the stream-stream interval join and assert the
state store's row count plateaus at O(rate x window) instead of
growing with the input.

This pins the claim in streaming/attribution.py's docstring — the
two-sided time bound lets Spark derive a state watermark and evict
buffered rows — with a measurement, not an argument: the driver reads
``stateOperators[].numRowsTotal`` from the query progress of every
micro-batch.

Provider note: eviction semantics are state-store-provider
independent, and the plateau test runs on BOTH — the default
HDFS-backed provider and RocksDB (the provider production runs set
through ``spark.sql.streaming.stateStore.providerClass``), with the
rocksdb* custom metrics asserted so a silently-ignored conf can't
fake coverage.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from cassandra_data_migration_spark.streaming.attribution import (
    attribution_join_stream,
)

SLICE_MIN = 10          # minutes of event time per source file
N_SLICES = 14           # 140 min of stream, far beyond the watermark
EVENTS_PER_SLICE = 40   # clicks + purchases per slice
BASE_US = 1_700_000_000_000_000  # fixed epoch base, deterministic


def _write_slices(spark, src_dir):
    """N_SLICES parquet files, one 10-minute slice of event time each:
    interleaved clicks and purchases for a rotating set of users."""
    rows_per_slice = []
    for s in range(N_SLICES):
        rows = []
        for i in range(EVENTS_PER_SLICE):
            ts_us = BASE_US + (s * SLICE_MIN * 60 + i * 12) * 1_000_000
            etype = "click" if i % 2 == 0 else "purchase"
            rows.append(
                (
                    s * EVENTS_PER_SLICE + i,  # event_id
                    i % 7,                      # user_id
                    etype,
                    ts_us,
                    float(10 + i),
                )
            )
        rows_per_slice.append(rows)
    schema = "event_id long, user_id int, event_type string, ts_us long, value double"
    for s, rows in enumerate(rows_per_slice):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .drop("ts_us")
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )
    return spark.read.parquet(src_dir).schema


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


import pytest  # noqa: E402


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_interval_join_state_plateaus(spark, tmp_path, provider):
    """Parameterized over BOTH state-store providers: at 100 TB the
    RocksDB provider is the configuration that actually runs (set
    through ``spark.sql.streaming.stateStore.providerClass``), so the
    bound is proven where it matters, not only on the test-default
    provider."""
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = _write_slices(spark, src)

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    if provider == "rocksdb":
        spark.conf.set(conf_key, ROCKSDB_PROVIDER)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one slice per micro-batch
            .parquet(src)
        )
        joined = attribution_join_stream(
            stream, attribution_window="10 minutes", watermark="10 minutes"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        if provider == "rocksdb":
            spark.conf.unset(conf_key)

    progresses = [
        __import__("json").loads(j.json) for j in q.recentProgress
    ]
    if provider == "rocksdb":
        # prove the provider actually engaged: RocksDB emits its own
        # custom state metrics in the progress telemetry
        metrics = [
            m
            for p in progresses
            for op in p.get("stateOperators", [])
            for m in op.get("customMetrics", {})
        ]
        assert any(m.startswith("rocksdb") for m in metrics), (
            f"no rocksdb custom metrics in progress: {sorted(set(metrics))[:10]}"
        )

    # recentProgress is the public per-batch telemetry
    state_rows = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progresses
        if p["stateOperators"]
    ]
    assert len(state_rows) >= N_SLICES - 2, "expected ~one batch per slice"

    total_input = N_SLICES * EVENTS_PER_SLICE
    peak = max(state_rows)
    tail = state_rows[len(state_rows) // 2 :]
    # bounded: the state never holds more than a few slices' worth of
    # rows (window + watermark + in-flight slice on each side), and in
    # particular never approaches the full input
    bound = 6 * EVENTS_PER_SLICE
    assert peak <= bound, f"state peaked at {peak} rows (> {bound})"
    assert peak < total_input / 3
    # plateau: late batches hold no more state than the overall peak
    # reached in the warm-up half (no monotone growth)
    assert max(tail) <= peak

    # and the join still produced the right shape of output
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert got.filter(F.col("click_ts") > F.col("purchase_ts")).count() == 0


def test_state_rows_scale_with_window_not_stream_length(spark, tmp_path):
    """Double the stream length -> same state peak (the bound depends
    on rate x window only)."""
    import json

    def run(n_slices, tag):
        src = str(tmp_path / f"src_{tag}")
        rows_schema = None
        for s in range(n_slices):
            rows = []
            for i in range(EVENTS_PER_SLICE):
                ts_us = BASE_US + (s * SLICE_MIN * 60 + i * 12) * 1_000_000
                rows.append(
                    (
                        s * EVENTS_PER_SLICE + i,
                        i % 7,
                        "click" if i % 2 == 0 else "purchase",
                        ts_us,
                        float(i),
                    )
                )
            df = spark.createDataFrame(
                rows,
                "event_id long, user_id int, event_type string, ts_us long, value double",
            )
            (
                df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
                .drop("ts_us")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
            rows_schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(rows_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        joined = attribution_join_stream(
            stream, attribution_window="10 minutes", watermark="10 minutes"
        )
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return max(
            sum(op["numRowsTotal"] for op in p["stateOperators"])
            for p in (json.loads(j.json) for j in q.recentProgress)
            if p["stateOperators"]
        )

    peak_short = run(6, "short")
    peak_long = run(12, "long")
    # 2x the stream, ~same state: allow slack for batch alignment
    assert peak_long <= peak_short * 1.5


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_cell_lww_view_state_bounded_by_cells(spark, tmp_path, provider):
    """The streaming cell-LWW view's state is one row per live
    (key, column) pair — NOT per cell version: replaying 3 slices of
    many versions of the same few cells must plateau state at the
    distinct-cell count, on both providers."""
    from cassandra_data_migration_spark.streaming import await_or_raise
    from cassandra_data_migration_spark.streaming.cells import (
        cell_lww_view_stream,
    )

    src = str(tmp_path / "src")
    schema = (
        "pk long, column_name string, value_cents long, "
        "writetime_us long, is_tombstone boolean"
    )
    # 3 slices x 400 versions over only 8 keys x 2 columns = 16 cells
    for s in range(3):
        rows = [
            (i % 8, "ab"[(i // 8) % 2], i, s * 1000 + i, False)
            for i in range(400)
        ]
        spark.createDataFrame(rows, schema).repartition(1).write.mode(
            "append"
        ).parquet(src)

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    if provider == "rocksdb":
        spark.conf.set(conf_key, ROCKSDB_PROVIDER)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            cell_lww_view_stream(stream, value_col="value_cents")
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)
    finally:
        if provider == "rocksdb":
            spark.conf.unset(conf_key)

    import json as _json

    progresses = [_json.loads(j.json) for j in q.recentProgress]
    state_rows = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progresses
        if p.get("stateOperators")
    ]
    assert state_rows, "no state telemetry captured"
    # state = live cells (16), never version count (1200)
    assert max(state_rows) == 16, state_rows
    if provider == "rocksdb":
        metrics = [
            m
            for p in progresses
            for op in p.get("stateOperators", [])
            for m in op.get("customMetrics", {})
        ]
        assert any(m.startswith("rocksdb") for m in metrics)
