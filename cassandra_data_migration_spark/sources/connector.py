"""Table-source seam: the engine's read/write boundary as an
interface, so the SAME plans run against parquet fixtures in tests
and a live Cassandra cluster in deployment.

The reference's front door is a cluster scan with token-range
splitting and server-side predicate pushdown
(docs/04-cdm-approach.md:290-316 — partition-range jobs via
``spark.cdm.filter.cassandra.partition.min/max``;
lab/cdm-config/cdm.properties:25-29 — ``numParts`` /
``fetchSizeInRows``).  Spark's public Cassandra connector
(``org.apache.spark.sql.cassandra``, the Datastax spark-cassandra-
connector) exposes exactly those levers as DataSource options, so the
translation layer here is thin and PURE — option dicts and CQL
predicate strings that unit tests can assert on without a cluster.

Why a seam and not just ``spark.read.parquet``: every plan in
``plans/`` and ``operators/`` takes DataFrames, so they are already
storage-agnostic; the only place that knows where bytes live is
``sources``.  Swapping fixture parquet for a cluster scan must not
touch a single operator — that is the deployability property the
seam pins down (and ``tests/test_connector_seam.py`` proves by
routing ``load_table`` through a recording fake).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Spark's session-catalog name for the public Cassandra connector.
CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"


class TableSource:
    """Read/write boundary for one logical keyspace of tables.

    ``read`` returns a DataFrame scan that Catalyst can prune/push
    into; ``write`` appends a DataFrame to the named table.  Pushdown
    hints that the backend can evaluate server-side (token ranges,
    writetime floors) are passed at read time so the source can
    translate them instead of Spark filtering post-scan.
    """

    def read(
        self,
        spark: SparkSession,
        table: str,
        *,
        token_min: int | None = None,
        token_max: int | None = None,
        writetime_min_us: int | None = None,
    ) -> DataFrame:
        raise NotImplementedError

    def write(self, df: DataFrame, table: str, mode: str = "append") -> None:
        raise NotImplementedError


def cassandra_reader_options(
    keyspace: str,
    table: str,
    *,
    num_parts: int | None = None,
    fetch_size_rows: int | None = None,
    consistency: str | None = None,
) -> dict[str, str]:
    """The reference's perfops knobs translated to spark-cassandra-
    connector options (docs/04-cdm-approach.md:459-485: ``numParts``
    default 5000 ~ table-size/10MB; ``fetchSizeInRows`` default 1000).

    - ``numParts`` maps to ``spark.cassandra.input.split.sizeInMB``
      semantics: the connector splits the token ring by estimated
      size; we surface the direct split-count intent via the
      documented option.
    - ``fetchSizeInRows`` maps to ``spark.cassandra.input.fetch.sizeInRows``
      (CQL paging page size — the same wire behavior as the
      reference's paged SELECT).
    """
    opts = {"keyspace": keyspace, "table": table}
    if num_parts is not None:
        # connector splits by size; 10 MB/split is the reference's own
        # sizing rule, so numParts is carried as the split hint
        opts["spark.cassandra.input.split.sizeInMB"] = "10"
        opts["numParts.hint"] = str(num_parts)
    if fetch_size_rows is not None:
        opts["spark.cassandra.input.fetch.sizeInRows"] = str(fetch_size_rows)
    if consistency is not None:
        opts["spark.cassandra.input.consistency.level"] = consistency
    return opts


def cassandra_writer_options(
    keyspace: str,
    table: str,
    *,
    batch_size_rows: int | None = None,
    rate_limit_rows_per_sec: int | None = None,
    consistency: str | None = None,
) -> dict[str, str]:
    """The reference's write-side perfops knobs translated to
    spark-cassandra-connector output options — the write twin of
    :func:`cassandra_reader_options` (lab/cdm-config/cdm.properties:
    28-31: ``spark.cdm.perfops.batchSize`` /
    ``spark.cdm.perfops.ratelimit.target``).

    - ``batchSize`` (rows per unlogged CQL batch, CDM auto-rule T2)
      maps to ``spark.cassandra.output.batch.size.rows`` — the
      documented connector option with identical semantics.
    - ``ratelimit.target`` (rows/s cap) travels as its own CDM
      property name; the connector's native throttle is MB-based
      (``output.throughputMBPerSec``), so the rows/s intent is kept
      verbatim for the deployment layer; the engine itself does not
      pace writes.
    - consistency maps to ``spark.cassandra.output.consistency.level``.
    """
    opts = {"keyspace": keyspace, "table": table}
    if batch_size_rows is not None:
        opts["spark.cassandra.output.batch.size.rows"] = str(batch_size_rows)
    if rate_limit_rows_per_sec is not None:
        opts["spark.cdm.perfops.ratelimit.target"] = str(
            rate_limit_rows_per_sec
        )
    if consistency is not None:
        opts["spark.cassandra.output.consistency.level"] = consistency
    return opts


def token_range_predicate(
    partition_key_cols: list[str],
    token_min: int | None,
    token_max: int | None,
) -> str | None:
    """CQL/SQL predicate for a token-range slice — the connector
    pushes ``token(pk) >= x AND token(pk) <= y`` to the server
    (partition-range migration, docs/04-cdm-approach.md:290-316).
    Murmur3 token bounds are closed on both ends, matching CDM's
    min/max properties."""
    if token_min is None and token_max is None:
        return None
    keys = ", ".join(partition_key_cols)
    parts = []
    if token_min is not None:
        parts.append(f"token({keys}) >= {token_min}")
    if token_max is not None:
        parts.append(f"token({keys}) <= {token_max}")
    return " AND ".join(parts)


def writetime_predicate(
    writetime_col: str, writetime_min_us: int | None
) -> str | None:
    """Incremental-migration floor: only rows written at/after T µs
    (docs/04-cdm-approach.md:322-331,
    ``spark.cdm.feature.writetime.filter.min``)."""
    if writetime_min_us is None:
        return None
    return f"writetime({writetime_col}) >= {writetime_min_us}"


@dataclass
class CassandraTableSource(TableSource):
    """Connector-backed source: live cluster scans with token-range
    and writetime pushdown.  Requires the spark-cassandra-connector
    jar on the classpath (not present in the test sandbox — the
    option/predicate translation above is unit-tested pure, and
    ``read`` fails fast with a deploy hint if the format is absent).

    ``partition_keys`` maps table -> partition-key columns (needed to
    phrase ``token(...)`` pushdown); ``writetime_cols`` maps table ->
    the regular column whose writetime stands for row writetime
    (CDM's convention: any non-key column carries it)."""

    keyspace: str
    partition_keys: dict[str, list[str]] = field(default_factory=dict)
    writetime_cols: dict[str, str] = field(default_factory=dict)
    num_parts: int | None = None
    fetch_size_rows: int | None = None
    # the DataSource format to resolve — CASSANDRA_FORMAT in deployment;
    # tests register sources.fake_cassandra under that same name so
    # read()/write() execute end-to-end without a cluster
    format: str = CASSANDRA_FORMAT

    def read(
        self,
        spark: SparkSession,
        table: str,
        *,
        token_min: int | None = None,
        token_max: int | None = None,
        writetime_min_us: int | None = None,
    ) -> DataFrame:
        opts = cassandra_reader_options(
            self.keyspace,
            table,
            num_parts=self.num_parts,
            fetch_size_rows=self.fetch_size_rows,
        )
        # token bounds ALSO travel as the reference's own partition
        # filter properties (docs/04-cdm-approach.md:290-316,
        # spark.cdm.filter.cassandra.partition.min/max) so the SOURCE
        # can prune server-side — the fake evaluates them page-level,
        # a real deployment's CDM job consumes them directly; the
        # Spark-side token() filter below stays as the exactness guard
        if token_min is not None:
            opts["spark.cdm.filter.cassandra.partition.min"] = str(token_min)
        if token_max is not None:
            opts["spark.cdm.filter.cassandra.partition.max"] = str(token_max)
        reader = spark.read.format(self.format).options(**opts)
        try:
            df = reader.load()
        except Exception as exc:  # noqa: BLE001 — translate to a deploy hint
            raise RuntimeError(
                "Cassandra connector format "
                f"'{self.format}' unavailable: add the "
                "spark-cassandra-connector jar (--packages "
                "com.datastax.spark:spark-cassandra-connector_2.13) "
                "and spark.cassandra.connection.host to the session"
            ) from exc
        tok = token_range_predicate(
            self.partition_keys.get(table, []), token_min, token_max
        )
        if tok is not None:
            # the connector recognizes token() comparisons and pushes
            # them into the CQL WHERE clause (server-side slice, no
            # full-ring read)
            df = df.filter(F.expr(tok))
        wt = self.writetime_cols.get(table)
        if wt is not None and writetime_min_us is not None:
            df = df.filter(
                F.expr(f"writetime({wt})") >= F.lit(writetime_min_us)
            )
        return df

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        *,
        batch_size_rows: int | None = None,
        rate_limit_rows_per_sec: int | None = None,
        consistency: str | None = None,
    ) -> None:
        opts = cassandra_writer_options(
            self.keyspace,
            table,
            batch_size_rows=batch_size_rows,
            rate_limit_rows_per_sec=rate_limit_rows_per_sec,
            consistency=consistency,
        )
        df.write.format(self.format).options(**opts).mode(mode).save()


# fixture tables' partition-key columns (the token-hashed part) —
# what a CQL ``token(...)`` slice would hash on if these tables lived
# in Cassandra
FIXTURE_PARTITION_KEYS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "doc_id",
}


@dataclass
class ParquetFixtureSource(TableSource):
    """Fixture-backed source over a ``sf*/`` parquet directory — the
    test/bench implementation.  Token-range and writetime pushdown
    degrade to Spark-side filters with the SAME semantics the
    connector would push server-side (bucketed key hash standing in
    for the Murmur3 token; derived writetime from the event-time
    column), so plans exercise identical logic either way."""

    sf_dir: str

    def read(
        self,
        spark: SparkSession,
        table: str,
        *,
        token_min: int | None = None,
        token_max: int | None = None,
        writetime_min_us: int | None = None,
    ) -> DataFrame:
        from cassandra_data_migration_spark.sources.tables import (
            TS_COLS,
            _read_fixture,
        )

        df = _read_fixture(spark, self.sf_dir, table)
        if token_min is not None or token_max is not None:
            from cassandra_data_migration_spark.operators.filters import (
                token_range_filter,
            )

            pk = FIXTURE_PARTITION_KEYS[table]
            df = token_range_filter(
                df,
                pk,
                token_min if token_min is not None else 0,
                token_max if token_max is not None else 31,
                num_buckets=32,
            )
        if writetime_min_us is not None and table in TS_COLS:
            from cassandra_data_migration_spark.functions.metadata import (
                attach_derived_writetime,
            )

            ts_col = TS_COLS[table][0]
            df = attach_derived_writetime(df, ts_col).filter(
                F.col("_writetime") >= F.lit(writetime_min_us)
            )
        return df

    def write(self, df: DataFrame, table: str, mode: str = "append") -> None:
        df.write.mode(mode).parquet(
            f"{self.sf_dir.rstrip('/')}/{table}.parquet"
        )
