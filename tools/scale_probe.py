"""Scale probe for the dedup/similarity family (VERDICT r3 #2).

Builds scaled corpora from the sf0.1 documents fixture —

- ``x10``: every document duplicated 10x under fresh doc_ids (what a
  crawl with 90% duplication looks like: ~sf1 row count, and the
  multiplicity failure mode a dedup pass exists to find), and
- ``x10skew``: the same, plus a shared boilerplate sentence appended
  to 30% of docs (a Zipf-head shingle hot enough to break naive
  pair generation — every doc sharing it is a candidate pair).

Then runs the four sub-quadratic dedup operators at 1x / 10x /
10x-skew, recording wall seconds and SHUFFLE READ BYTES per query
(from Spark's status API via a per-query job group), and prints a
markdown table for SCALING.md plus one JSON line.

Sub-quadratic claim being probed: 10x input must cost ~10x-30x wall
and shuffle (linear-ish with the multiplicity collapse), NOT 100x
(all-pairs).  Usage: python tools/scale_probe.py [--skip-build]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cassandra_data_migration_spark.session import get_spark  # noqa: E402
from scale_gate import total_shuffle  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
WORK = "/tmp/scale_probe"
BOILER = (
    " subscribe to our newsletter for updates terms of service apply"
    " all rights reserved contact support for help"
)


def build_corpora(spark) -> None:
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    copies = spark.range(10).select(F.col("id").alias("_copy"))
    x10 = (
        docs.crossJoin(F.broadcast(copies))
        .withColumn("doc_id", F.col("doc_id") + F.col("_copy") * (n * 10))
        .drop("_copy")
    )
    x10.write.mode("overwrite").parquet(f"{WORK}/x10")
    # skew tier: md5-seeded 30% of docs get the same boilerplate tail
    skew = x10.withColumn(
        "text",
        F.when(
            F.pmod(
                F.abs(F.xxhash64(F.col("doc_id").cast("string"))), F.lit(10)
            )
            < 3,
            F.concat(F.col("text"), F.lit(BOILER)),
        ).otherwise(F.col("text")),
    )
    skew.write.mode("overwrite").parquet(f"{WORK}/x10skew")
    print(
        f"built: x10={spark.read.parquet(f'{WORK}/x10').count()} docs, "
        f"x10skew has boilerplate on "
        f"{skew.filter(F.col('text').endswith(BOILER)).count()} docs"
    )


def run_probe() -> None:
    spark = get_spark(
        app_name="cdm-scale-probe",
        extra_conf={
            "spark.ui.enabled": "true",
            # stage eviction shrinks the cumulative shuffle total and
            # sends deltas negative (see bench.py)
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "--skip-build" not in sys.argv:
        build_corpora(spark)

    from cassandra_data_migration_spark.operators.aggregates import (
        hll_distinct_audit,
        kmv_set_ops_audit,
    )
    from cassandra_data_migration_spark.operators.dedup import (
        minhash_lsh_dedup,
        prefix_filter_pairs,
        substring_dup_spans,
    )
    from cassandra_data_migration_spark.operators.graph import dup_clusters

    def load(tier: str):
        if tier == "1x":
            return spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return spark.read.parquet(f"{WORK}/{tier}")

    ops = {
        "minhash_lsh_dedup": lambda d: minhash_lsh_dedup(
            d, n=3, num_hashes=4, band_size=2, jaccard_threshold=0.5
        ),
        "prefix_filter_pairs": lambda d: prefix_filter_pairs(
            d, n=3, threshold=0.5
        ),
        "substring_dup_spans": lambda d: substring_dup_spans(d, k=5),
        "dup_clusters": lambda d: dup_clusters(d, n=3, threshold=0.5),
        # sketches: O(m)/O(k) state — estimates over TEXT values must be
        # IDENTICAL at 1x vs 10x duplication (distinct sets unchanged),
        # while wall/shuffle grow only with the scan
        "hll_distinct_text": lambda d: hll_distinct_audit(d, "lang", "text"),
        "kmv_gram_overlap": lambda d: kmv_set_ops_audit(
            *(
                lambda g: (
                    g.filter(F.col("sid") < 10).select("v"),
                    g.filter(F.col("sid") >= 10).select("v"),
                )
            )(
                d.select(
                    F.substring("source", 4, 10).cast("int").alias("sid"),
                    F.explode(
                        F.when(
                            F.length("text") - 9 >= 1,
                            F.transform(
                                F.sequence(
                                    F.lit(1), F.length("text") - 9
                                ),
                                lambda i: F.substring(F.col("text"), i, 10),
                            ),
                        ).otherwise(F.array().cast("array<string>"))
                    ).alias("v"),
                )
            ),
            "v",
        ),
    }

    results: dict[str, dict[str, dict[str, float]]] = {}
    for tier in ("1x", "x10", "x10skew"):
        docs = load(tier)
        for name, fn in ops.items():
            group = f"{name}@{tier}"
            spark.sparkContext.setJobGroup(group, group)
            before = total_shuffle(spark)
            t0 = time.perf_counter()
            n_rows = fn(docs).count()
            wall = round(time.perf_counter() - t0, 2)
            after = total_shuffle(spark)
            results.setdefault(name, {})[tier] = {
                "wall_s": wall,
                "rows": n_rows,
                "shuffle_read_mb": round((after - before) / 1e6, 1)
                if after >= 0 and before >= 0 and after >= before
                else -1,
            }
            print(f"{group:36s} {wall:8.2f}s  {n_rows:>9} rows", flush=True)
            spark.sparkContext.setJobGroup("", "")

    print("\n| query | 1x wall | 10x wall | 10x-skew wall | 1x shuf MB | 10x shuf MB | skew shuf MB |")
    print("|---|---|---|---|---|---|---|")
    for name, tiers in results.items():
        r1, r10, rs = tiers["1x"], tiers["x10"], tiers["x10skew"]
        print(
            f"| {name} | {r1['wall_s']} s | {r10['wall_s']} s | "
            f"{rs['wall_s']} s | {r1['shuffle_read_mb']} | "
            f"{r10['shuffle_read_mb']} | {rs['shuffle_read_mb']} |"
        )
    print(json.dumps({"probe": results}))


if __name__ == "__main__":
    argparse.ArgumentParser().parse_known_args()
    run_probe()
