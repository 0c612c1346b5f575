"""Z7: continuous validation loop.

Exercise 6 re-runs count+sample diffs every 60 s
(lab/exercises/06-validation-monitoring.md:410-449).  Each tick
re-runs the J1/J2 validation plan against both stores and collects
the verdict — the always-on version of plans.validate.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import SparkSession

from cassandra_data_migration_spark.plans.validate import TableValidation, validate_table


def validation_tick(
    spark: SparkSession,
    origin_path: str,
    target_path: str,
    pk: list[str],
    table: str = "",
) -> TableValidation:
    """One validation pass (the body of the 60 s loop)."""
    return validate_table(
        spark.read.parquet(origin_path),
        spark.read.parquet(target_path),
        pk,
        table,
    )


def continuous_validation(
    spark: SparkSession,
    origin_path: str,
    target_path: str,
    pk: list[str],
    interval_secs: float = 60.0,
    max_ticks: int | None = None,
    on_result: Callable[[TableValidation], None] | None = None,
) -> list[TableValidation]:
    """The reference's driver loop shape (while true / sleep 60 —
    docs/07-challenges-risks.md:884-913): batch re-validation on a
    timer.  ``max_ticks`` bounds it for tests."""
    results: list[TableValidation] = []
    tick = 0
    while max_ticks is None or tick < max_ticks:
        res = validation_tick(spark, origin_path, target_path, pk, f"tick_{tick}")
        results.append(res)
        if on_result:
            on_result(res)
        tick += 1
        if max_ticks is not None and tick >= max_ticks:
            break
        time.sleep(interval_secs)
    return results
