"""Round-10 hardening: regression tests for the five advice findings
— sibling-table COW temp clobbering, heartbeat-gated bucketed-table
sweeps, empty-manifest snapshot reads, loud streaming timeouts, and
overwrite semantics in the fake connector."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _make_cow_table(spark, target, n=4000, files=4):
    spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    ).repartitionByRange(files, "k").sortWithinPartitions("k").write.parquet(
        target
    )


def test_cow_merge_spares_sibling_table_temps(spark, tmp_path):
    """A merge on table A must sweep only A's OWN crashed-merge debris,
    never a sibling table's in-flight temp staged under the same
    parent directory (the two-tables-one-parent layout is normal)."""
    from cassandra_data_migration_spark.sources.lakehouse import cow_merge

    a = str(tmp_path / "table_a")
    b = str(tmp_path / "table_b")
    _make_cow_table(spark, a)
    _make_cow_table(spark, b)

    # B has an in-flight merge staging dir (inside B, per protocol)
    b_inflight = os.path.join(b, "_cow_inflight123")
    os.makedirs(b_inflight)
    marker = os.path.join(b_inflight, "part-0.parquet.inprogress")
    open(marker, "w").write("x")

    # A has debris from ITS OWN crashed merge — that one must go
    a_stale = os.path.join(a, "_cow_stale456")
    os.makedirs(a_stale)
    open(os.path.join(a_stale, "junk"), "w").write("y")

    upd = spark.createDataFrame([(1, -1)], "k long, v long")
    cow_merge(spark, a, upd, "k")

    assert os.path.exists(marker), "merge on A deleted B's in-flight temp"
    assert not os.path.exists(a_stale), "A's own debris not swept"
    # and the merge itself worked, with its temp cleaned up
    assert not [
        d for d in os.listdir(a) if d.startswith("_cow_")
    ], "A left its own staging dir behind"
    got = {r["k"]: r["v"] for r in spark.read.parquet(a).collect()}
    assert got[1] == -1 and got[2] == 14


def test_cow_temps_invisible_to_readers(spark, tmp_path):
    """Staging inside the table dir must not leak into reads: an
    in-flight _cow_ dir full of parquet is ignored by the plain
    directory read (underscore prefix = hidden to Spark listing)."""
    target = str(tmp_path / "t")
    _make_cow_table(spark, target, n=100, files=1)
    tmp = os.path.join(target, "_cow_abc")
    spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ).write.parquet(tmp)
    assert spark.read.parquet(target).count() == 100


def test_bucketed_sweep_gated_on_heartbeat(spark, tmp_path):
    """The dead-session sweep keys on the HEARTBEAT file a live session
    re-touches every call — an old dir with a fresh heartbeat is a
    long-lived live session and must survive; an old heartbeat is a
    dead session and is reclaimed."""
    import time
    from urllib.parse import urlparse

    from cassandra_data_migration_spark.sources.tables import (
        ensure_bucketed_table,
    )

    warehouse = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path
    os.makedirs(warehouse, exist_ok=True)
    base = "hbtest_sweep"
    live = os.path.join(warehouse, f"{base}__otherapp_live")
    dead = os.path.join(warehouse, f"{base}__otherapp_dead")
    # older than the 24 h sweep window
    old = time.time() - 25 * 3600
    for d in (live, dead):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_graft_heartbeat"), "w").close()
        os.utime(d, (old, old))
    # live session: dir is old but heartbeat freshly touched
    os.utime(os.path.join(dead, "_graft_heartbeat"), (old, old))

    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    try:
        out = ensure_bucketed_table(spark, df, base, "k", num_buckets=2)
        assert out.count() == 2
        assert os.path.isdir(live), "fresh-heartbeat dir swept (live session!)"
        assert not os.path.isdir(dead), "stale-heartbeat dir not reclaimed"
        # our own table now carries a heartbeat for future sweeps
        app_tag = spark.sparkContext.applicationId.replace("-", "_").replace(
            ".", "_"
        )
        assert os.path.exists(
            os.path.join(warehouse, f"{base}__{app_tag}", "_graft_heartbeat")
        )
        # and a daemon thread keeps touching it for sessions that hold
        # the returned DataFrame without re-calling ensure_...
        from cassandra_data_migration_spark.sources import tables as tbl_mod

        # keyed by applicationId (id(spark) can be recycled after GC,
        # letting a new session silently skip daemon start) and the
        # registration is liveness-checked on re-entry
        key = (spark.sparkContext.applicationId, f"{base}__{app_tag}")
        assert key in tbl_mod._HEARTBEAT_DAEMONS
        assert tbl_mod._HEARTBEAT_DAEMONS[key].daemon
        assert tbl_mod._HEARTBEAT_DAEMONS[key].is_alive()
    finally:
        import shutil

        app_tag = spark.sparkContext.applicationId.replace("-", "_").replace(
            ".", "_"
        )
        spark.sql(f"DROP TABLE IF EXISTS {base}__{app_tag}")
        for d in (live, dead):
            shutil.rmtree(d, ignore_errors=True)


def test_read_snapshot_empty_manifest_typed_empty(spark, tmp_path):
    """Deleting every key commits a zero-file version; reading it must
    return an EMPTY DataFrame with the table schema, not raise — and
    the version before it stays time-travel readable."""
    from cassandra_data_migration_spark.sources.lakehouse import (
        cow_delete,
        read_snapshot,
        snapshot_commit,
        snapshot_versions,
    )

    target = str(tmp_path / "t")
    _make_cow_table(spark, target, n=200, files=2)
    snapshot_commit(target)
    all_keys = spark.range(0, 200).select(F.col("id").alias("k"))
    cow_delete(spark, target, all_keys, "k")

    versions = snapshot_versions(target)
    assert len(versions) == 2
    latest = read_snapshot(spark, target)
    assert latest.count() == 0
    assert [f.name for f in latest.schema.fields] == ["k", "v"]
    assert [f.dataType.simpleString() for f in latest.schema.fields] == [
        "bigint",
        "bigint",
    ]
    # prior version still fully readable
    assert read_snapshot(spark, target, versions[0]).count() == 200


def test_await_or_raise_times_out_loudly():
    from cassandra_data_migration_spark.streaming import await_or_raise

    class FakeQuery:
        name = "fq"
        id = "fq-id"

        def __init__(self, done):
            self.done = done
            self.stopped = False

        def awaitTermination(self, t):
            return self.done

        def stop(self):
            self.stopped = True

    ok = FakeQuery(done=True)
    await_or_raise(ok, 1)  # no raise
    assert not ok.stopped

    hung = FakeQuery(done=False)
    with pytest.raises(TimeoutError, match="did not"):
        await_or_raise(hung, 1)
    assert hung.stopped, "hung query must be stopped before raising"


def test_fake_cassandra_overwrite_replaces_rows(spark, tmp_path):
    """mode('overwrite') through the connector seam must REPLACE the
    table contents, not silently append duplicates."""
    from cassandra_data_migration_spark.sources.connector import (
        CassandraTableSource,
    )
    from cassandra_data_migration_spark.sources.fake_cassandra import (
        register_fake_cassandra,
    )

    register_fake_cassandra(spark)
    src = CassandraTableSource(keyspace=str(tmp_path))
    src.write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "users",
    )
    src.write(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        "users",
        mode="overwrite",
    )
    rows = sorted(map(tuple, src.read(spark, "users").collect()))
    assert rows == [(3, "c")], f"overwrite appended instead: {rows}"


def test_state_scaled_shuffle_sizing_and_restore(spark):
    from cassandra_data_migration_spark.streaming import (
        state_scaled_shuffle,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # tiny input -> floor
    with state_scaled_shuffle(spark, 1 << 20) as n:
        assert n == 8
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # big input -> capped at 2x parallelism, never unbounded
    cap = 2 * spark.sparkContext.defaultParallelism
    with state_scaled_shuffle(spark, 10 << 40) as n:
        assert n == max(8, cap)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # mid-size: one partition per 32 MB
    with state_scaled_shuffle(spark, 320 << 20) as n:
        assert n == max(8, min(max(8, cap), 10))
    # conf restored even when the body raises
    try:
        with state_scaled_shuffle(spark, 1 << 20):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_state_partitions_survive_resume_with_different_session_conf(
    spark, tmp_path
):
    """The premise of state_scaled_shuffle: state-store partitioning is
    fixed by the FIRST checkpoint and later runs keep it even when the
    session's shuffle-partition setting differs — so results stay
    correct across resume, and the helper's choice is a one-time,
    per-stream decision."""
    from cassandra_data_migration_spark.streaming import (
        await_or_raise,
        state_scaled_shuffle,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v long"
    spark.createDataFrame(
        [(1, 10), (2, 20)], schema
    ).repartition(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("k").agg(F.sum("v").alias("total"))

        def s(b, bid):
            b.withColumn("_bid", F.lit(bid)).write.mode("append").parquet(
                sink
            )

        q = (
            agg.writeStream.foreachBatch(s)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 120)

    # first run under the scaled (8-partition) state layout
    with state_scaled_shuffle(spark, 1 << 20) as n:
        assert n == 8
        run_once()
    # resume under a DIFFERENT shuffle setting with new data — the
    # checkpointed state layout must win, results stay correct
    spark.createDataFrame(
        [(1, 5), (3, 7)], schema
    ).repartition(1).write.mode("append").parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        run_once()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.desc("_bid"))
    final = {
        r["k"]: r["total"]
        for r in spark.read.parquet(sink)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert final == {1: 15, 2: 20, 3: 7}, final


def test_dual_write_streams_into_connector_seam(spark, tmp_path):
    """Z1's real target sink is the Cassandra connector; wire the dual
    writer's target leg through CassandraTableSource.write (served by
    the fake under the real format name) so the STREAMING write path
    of the seam executes end-to-end, not just batch writes."""
    from cassandra_data_migration_spark.sources.connector import (
        CassandraTableSource,
    )
    from cassandra_data_migration_spark.sources.fake_cassandra import (
        register_fake_cassandra,
    )
    from cassandra_data_migration_spark.streaming import await_or_raise
    from cassandra_data_migration_spark.streaming.dual_write import (
        make_dual_writer,
        parquet_appender,
        read_sink,
    )

    register_fake_cassandra(spark)
    ks = str(tmp_path / "ks")
    os.makedirs(ks)
    src_table = CassandraTableSource(keyspace=ks)

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k long, v long"
    ).repartition(2).write.parquet(feed)
    stream = spark.readStream.schema("k long, v long").parquet(feed)

    origin = str(tmp_path / "origin")
    writer = make_dual_writer(
        parquet_appender(origin),
        lambda batch, bid: src_table.write(batch, "mutations"),
    )
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 120)

    through_connector = {
        r["k"]: r["v"]
        for r in src_table.read(spark, "mutations").collect()
    }
    origin_rows = {
        r["k"]: r["v"] for r in read_sink(spark, origin).collect()
    }
    assert through_connector == origin_rows == {i: i * 10 for i in range(50)}
