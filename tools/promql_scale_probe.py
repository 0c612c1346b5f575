"""Scale probe for the PromQL evaluation family (streaming/promql.py).

Claim: cost is one window pass over the samples (shuffle keyed on the
series labels) plus O(series) extrapolation math — so wall scales
with SAMPLE count, shuffle stays proportional to samples, and the
series cardinality only widens the tiny output.  Tiers: 1M and 10M
samples, each at 1K and 100K series (same sample count, 100x the
series), for rate / irate / deriv.

Usage: python tools/promql_scale_probe.py
Prints one JSON object on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cassandra_data_migration_spark.session import get_spark  # noqa: E402
from scale_gate import total_shuffle  # noqa: E402
from cassandra_data_migration_spark.streaming.promql import (  # noqa: E402
    deriv,
    extrapolated_rate,
    irate,
)

WORK = "/tmp/promql_scale_probe"


def build(spark, n: int, n_series: int, path: str) -> None:
    """n scrape samples over n_series counters: per-series scrapes a
    minute apart, value = a deterministic monotone counter with a
    reset at the halfway scrape."""
    per = n // n_series
    (
        spark.range(0, n)
        .select(
            (F.col("id") % n_series).alias("sid"),
            ((F.col("id") / n_series).cast("long") * 60_000).alias("ts_ms"),
            F.when(
                (F.col("id") / n_series).cast("long") < per // 2,
                (F.col("id") / n_series).cast("long") * 7,
            )
            .otherwise(
                ((F.col("id") / n_series).cast("long") - per // 2) * 7
            )
            .alias("value"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(path)
    )


def main() -> None:
    spark = get_spark(
        app_name="cdm-promql-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for tier, n in (("1m", 1_000_000), ("10m", 10_000_000)):
        out[tier] = {}
        for n_series in (1_000, 100_000):
            path = f"{WORK}/{tier}_{n_series}"
            build(spark, n, n_series, path)
            df = spark.read.parquet(path)
            end_ms = (n // n_series) * 60_000
            res = {}
            for name, fn in (
                (
                    "rate",
                    lambda d: extrapolated_rate(
                        d, ["sid"], range_start_ms=0, range_end_ms=end_ms
                    ),
                ),
                ("irate", lambda d: irate(d, ["sid"])),
                ("deriv", lambda d: deriv(d, ["sid"])),
            ):
                s0 = total_shuffle(spark)
                t0 = time.time()
                cnt = fn(df).count()
                s1 = total_shuffle(spark)
                res[name] = {
                    "wall_s": round(time.time() - t0, 2),
                    "out_rows": cnt,
                    # a failed UI read must read as UNKNOWN, never as
                    # a measured 0 (SCALING.md cites these numbers)
                    "shuffle_mb": (
                        round(max(s1 - s0, 0) / 1e6, 1)
                        if s0 >= 0 and s1 >= 0
                        else None
                    ),
                }
                assert cnt == n_series
            out[tier][f"series_{n_series}"] = res
            print(f"{tier}/{n_series}: {res}", file=sys.stderr)
    print(json.dumps({"promql_probe": out}, indent=1))


if __name__ == "__main__":
    main()
