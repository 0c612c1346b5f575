"""Scale probe for the cell-semantics family (round 10) plus the
state-scaled streaming A/B.

Cells tiers: 1x = sf0.1 events (~100K cell versions); x10 = every
event duplicated 10x under fresh event_ids with user_ids UNCHANGED —
the adversarial direction for this family, because it multiplies the
versions per (key, column) for compaction, the replica rows per key
for read repair, and the per-key op-chain length for the CAS fold
(the one place a per-key array grows).  Sub-linear-per-row claim:
10x input should cost ~10x wall/shuffle or less (argmax and folds
collapse multiplicity), never more.

Streaming A/B: each stateful query at the session's 32 shuffle
partitions vs through ``state_scaled_shuffle`` (8 at this input
size), demonstrating the fixed per-state-partition microbatch tax
that motivates the helper.

Usage: python tools/cells_scale_probe.py [--skip-build]
Writes SCALE_PROBE additions as one JSON object on stdout.
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

SF_DIR = "/root/testdata/sf0.1"
WORK = "/tmp/cells_scale_probe"


def build(spark) -> None:
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n = ev.count()
    copies = spark.range(10).select(F.col("id").alias("_copy"))
    x10 = (
        ev.crossJoin(F.broadcast(copies))
        .withColumn("event_id", F.col("event_id") + F.col("_copy") * (n * 10))
        .drop("_copy")
    )
    x10.write.mode("overwrite").parquet(f"{WORK}/x10/events.parquet")
    print(f"built x10: {n} -> {n*10} events, users unchanged", file=sys.stderr)


def timed(spark, fn):
    before = total_shuffle(spark)
    t0 = time.time()
    rows = fn().count()
    wall = round(time.time() - t0, 2)
    after = total_shuffle(spark)
    return {
        "wall_s": wall,
        "rows": rows,
        "shuffle_read_mb": round((after - before) / 1e6, 1),
    }


def main() -> None:
    spark = get_spark(
        app_name="cdm-cells-probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "--skip-build" not in sys.argv:
        build(spark)

    import __spark_entry__ as m

    out: dict = {"cells_probe": {}, "stream_state_ab": {}}
    for tier, d in (("1x", SF_DIR), ("x10", f"{WORK}/x10")):
        tier_out = {}
        for name in ("cell_compaction", "quorum_read_repair", "cas_replay", "tombstone_gc"):
            tier_out[name] = timed(
                spark, lambda n=name, dd=d: m.queries()[n](spark, dd)
            )
            print(f"{tier} {name}: {tier_out[name]}", file=sys.stderr)
        out["cells_probe"][tier] = tier_out

    # streaming A/B: raw q_ function (session 32 partitions) vs the
    # registered state-scaled wrapper
    for name in (
        "stream_attribution",
        "stream_dual_write",
        "stream_cow_upsert",
        "stream_windowed_rate",
    ):
        raw = timed(spark, lambda: getattr(m, "q_" + name)(spark, SF_DIR))
        scaled = timed(spark, lambda: m.queries()[name](spark, SF_DIR))
        assert raw["rows"] == scaled["rows"], (name, raw, scaled)
        out["stream_state_ab"][name] = {
            "raw_32_parts": raw,
            "state_scaled": scaled,
        }
        print(f"A/B {name}: {out['stream_state_ab'][name]}", file=sys.stderr)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
