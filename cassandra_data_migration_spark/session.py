"""SparkSession factory with defaults tuned for the target scale.

The reference sizes its scans at ~10 MB per split
(``spark.cdm.perfops.numParts`` ideal = table-size / 10 MB,
docs/04-cdm-approach.md:459,472) and boosts memory fractions for big
jobs (docs/04-cdm-approach.md:506-516).  On a real cluster a 100 TB
table at 128 MB/split is ~800k tasks — fine for Spark's scheduler —
so we keep Spark's default ``maxPartitionBytes`` for scans and rely
on AQE to coalesce/skew-split shuffles at runtime instead of
hand-picking a shuffle partition count per stage.

Everything here is plain public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half the
    machine's physical memory in whole GiB, capped at 24g and at least
    1g, so the JVM never grows past what the machine can back."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // (1 << 30) // 2))}g"


def get_spark(
    app_name: str = "cassandra-data-migration-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - AQE on (coalesce partitions + skew-join handling): at 100 TB the
      static shuffle-partition count is always wrong for some stage.
    - Arrow enabled: every Pandas-UDF boundary is Arrow-batched.
    - Session timezone UTC: deterministic timestamp semantics across
      engines (the DuckDB oracle reads naive/UTC parquet timestamps).
    - Broadcast threshold left at default (10 MB) but AQE will also
      convert eligible joins at runtime from actual sizes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes partitions by BYTES, which under-counts
        # compute-dense stages: the exact-Jaccard verify/candidate
        # stages exchange ~1-3 MB of hashed-set arrays whose per-row
        # array_intersect work is thousands of ops, and the default
        # 1 MB floor coalesced them to 2-4 tasks — a measured 2-3 s
        # serial tail on 32 idle cores (guide §2.5 "synthetic keys",
        # §7.2; interleaved A/B at sf0.1: prefix_filter_pairs ×0.69,
        # dup_clusters ×0.76, dedup_survivors ×0.70, 24-query mix
        # ×0.91-0.92, no query beyond noise in the other direction).
        # A lower floor is scale-neutral: production post-shuffle
        # partitions are 10-100 MB+, far above either floor, so the
        # knob only engages where the byte proxy breaks — small
        # compute-heavy intermediates.  Clusters that want the stock
        # floor back pass it through ``extra_conf``.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # 200+ whole-stage-codegen'd plans in one JVM overflow the
        # default 240 MB reserved code cache; once it fills, the JIT
        # stops compiling and late queries run interpreted (3-6x
        # slower — measured on the full bench run).  Spark's own docs
        # recommend raising it for codegen-heavy workloads.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        # Resume safety (plans/tracker.py reconcile_with_target)
        # depends on file commits being all-or-nothing PER JOB: a
        # killed write must leave zero visible rows, so "any rows in a
        # pending bucket" can only mean post-commit-pre-record crash.
        # Committer algorithm v2 moves task output into the
        # destination as EACH task commits — a killed v2 job leaves
        # partial bucket data and reconcile would mark the bucket
        # PASSED with missing rows.  Pin v1 regardless of the Hadoop
        # profile's default.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "1",
        )
    )
    # Streaming state stays on Spark's default provider: tiny test
    # states pay RocksDB's per-task setup for no benefit.  Production
    # runs with large keyed state pass
    # ``spark.sql.streaming.stateStore.providerClass`` through
    # ``extra_conf`` (tests/test_state_bounds.py runs the RocksDB one).
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
