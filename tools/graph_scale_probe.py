"""Scale probe for the graph family (VERDICT r4 #6).

`dup_clusters`/`dedup_survivors` carry the suite's top shuffle, and
their cost is dominated by connected components.  This probe measures
BOTH CC algorithms — min-label propagation (O(diameter) rounds) and
alternating large-star/small-star (O(log² n) rounds, Kiveris et al.
SoCC'14) — across the two graph shapes that decide which one you
want:

- **dup graphs** (near-clique clusters from the real sf0.1 documents
  fixture at 1x and 10x duplication — the x10 tier is ~sf1 row
  count): tiny diameter, label-prop converges in 2-4 rounds and the
  star algorithm's per-round cost (two groupBy+join phases + a
  fixpoint probe) is pure overhead.
- **chain graphs** (path of n nodes, the adversarial worst case a
  substring-duplicate chain produces): label-prop needs `diameter`
  rounds — unusable — while star needs O(log² n).

Also probes pagerank at 1x/x10 (fixed 5 iterations, cost must scale
with edges, not quadratically).

Records wall seconds, shuffle-read bytes (status API per job group),
and ROUNDS-TO-CONVERGENCE via the `stats` hook on both CC entry
points.  Prints a markdown table for SCALING.md plus one JSON line
(merged into SCALE_PROBE_r05.json).

Algorithm-selection threshold derived from the measurements (see
SCALING.md §graph): label-prop first with max_iter ≈ 25, automatic
fallback to star on non-convergence — on low-diameter dup graphs
label-prop is cheaper per round AND needs fewer rounds; on chains the
fallback bound is what saves the job.  That is exactly what
`connected_components` implements; this probe is the evidence.

Usage: python tools/graph_scale_probe.py [--skip-build]
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
WORK = "/tmp/scale_probe"


def build_edge_sets(spark) -> None:
    """Materialize candidate-pair edge tables once so both CC
    algorithms cluster the IDENTICAL edge set (pair generation cost
    is the dedup probe's subject, not this one's)."""
    from cassandra_data_migration_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if not os.path.exists(f"{WORK}/x10"):
        # reuse the dedup probe's corpus builder for the 10x tier
        from tools.scale_probe import build_corpora

        build_corpora(spark)
    docs10 = spark.read.parquet(f"{WORK}/x10")
    for tag, docs in (("dup_1x", docs1), ("dup_x10", docs10)):
        prefix_filter_pairs(docs, n=3, threshold=0.5).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).write.mode("overwrite").parquet(f"{WORK}/edges_{tag}")


def chain(spark, n: int):
    """Path graph 0-1-2-…-n: diameter n, one component."""
    nodes = spark.range(n).select(F.col("id"))
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .repartition(32)
    )
    return edges, nodes


def run_probe() -> None:
    spark = get_spark(
        app_name="cdm-graph-scale-probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "--skip-build" not in sys.argv:
        build_edge_sets(spark)

    from cassandra_data_migration_spark.operators.graph import (
        connected_components,
        connected_components_star,
        pagerank,
    )

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs10 = spark.read.parquet(f"{WORK}/x10")

    def dup_graph(tag, docs):
        edges = spark.read.parquet(f"{WORK}/edges_{tag}")
        return edges, docs.select(F.col("doc_id").alias("id"))

    graphs = {
        "dup_1x": lambda: dup_graph("dup_1x", docs1),
        "dup_x10": lambda: dup_graph("dup_x10", docs10),
        "chain_50k": lambda: chain(spark, 50_000),
        "chain_500k": lambda: chain(spark, 500_000),
    }
    algos = {
        # auto = the production entry point: label-prop + fallback
        "cc_auto": lambda e, n, st: connected_components(
            e, n, "id", stats=st
        ),
        "cc_star": lambda e, n, st: connected_components_star(
            e, n, "id", stats=st
        ),
    }

    results: dict[str, dict] = {}
    for gname, build in graphs.items():
        edges, nodes = build()
        edges = edges.persist()
        n_edges = edges.count()
        for aname, fn in algos.items():
            group = f"{aname}@{gname}"
            spark.sparkContext.setJobGroup(group, group)
            st: dict = {}
            before = total_shuffle(spark)
            t0 = time.perf_counter()
            out = fn(edges, nodes, st)
            n_comp = out.select("component").distinct().count()
            wall = round(time.perf_counter() - t0, 2)
            after = total_shuffle(spark)
            results.setdefault(gname, {"edges": n_edges})[aname] = {
                "wall_s": wall,
                "components": n_comp,
                "shuffle_read_mb": round((after - before) / 1e6, 1)
                if 0 <= before <= after
                else -1,
                **st,
            }
            print(
                f"{group:24s} {wall:8.2f}s  {n_comp:>8} comps  "
                f"rounds={st}",
                flush=True,
            )
            spark.sparkContext.setJobGroup("", "")
        # both algorithms must agree on the partition they induce
        a = algos["cc_auto"](edges, nodes, {})
        b = algos["cc_star"](edges, nodes, {})
        mism = (
            a.alias("a")
            .join(b.alias("b"), "id")
            .filter(F.col("a.component") != F.col("b.component"))
            .limit(1)
            .count()
        )
        results[gname]["algorithms_agree"] = mism == 0
        edges.unpersist()

    # pagerank: fixed-iteration cost must track edge count
    for gname, docs in (("dup_1x", docs1), ("dup_x10", docs10)):
        edges = spark.read.parquet(f"{WORK}/edges_{gname}")
        nodes = docs.select(F.col("doc_id").alias("id"))
        group = f"pagerank@{gname}"
        spark.sparkContext.setJobGroup(group, group)
        before = total_shuffle(spark)
        t0 = time.perf_counter()
        n = pagerank(edges, nodes, iterations=5).count()
        wall = round(time.perf_counter() - t0, 2)
        after = total_shuffle(spark)
        results[gname]["pagerank"] = {
            "wall_s": wall,
            "rows": n,
            "shuffle_read_mb": round((after - before) / 1e6, 1)
            if 0 <= before <= after
            else -1,
        }
        print(f"{group:24s} {wall:8.2f}s  {n:>8} rows", flush=True)
        spark.sparkContext.setJobGroup("", "")

    print("\n| graph | edges | cc_auto wall | rounds | cc_star wall | rounds | agree |")
    print("|---|---|---|---|---|---|---|")
    for gname, r in results.items():
        au, stx = r["cc_auto"], r["cc_star"]
        au_r = (
            f"{au.get('label_rounds', '?')}"
            + ("→star " + str(au.get("star_rounds")) if au.get("fell_back_to_star") else "")
        )
        print(
            f"| {gname} | {r['edges']} | {au['wall_s']} s | {au_r} | "
            f"{stx['wall_s']} s | {stx.get('star_rounds', '?')} | "
            f"{r['algorithms_agree']} |"
        )
    print(json.dumps({"graph_probe": results}))


if __name__ == "__main__":
    run_probe()
