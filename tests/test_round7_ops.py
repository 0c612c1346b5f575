"""Round-4 additions: binned overlapping-interval range join and the
count-min sketch family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_data_migration_spark.operators.joins import binned_range_join


def _brute_pairs(points, intervals):
    return sorted(
        (p_id, i_id)
        for p_id, p in points
        for i_id, lo, hi in intervals
        if lo <= p <= hi
    )


def _spark_pairs(spark, points, intervals, bin_width, on_keys=False):
    if on_keys:
        pts = spark.createDataFrame(
            [(pid, k, p) for pid, k, p in points], "pid long, k long, p long"
        )
        iv = spark.createDataFrame(
            [(iid, k, lo, hi) for iid, k, lo, hi in intervals],
            "iid long, k long, lo long, hi long",
        )
        out = binned_range_join(pts, iv, "p", "lo", "hi", bin_width, on=["k"])
    else:
        pts = spark.createDataFrame(points, "pid long, p long")
        iv = spark.createDataFrame(intervals, "iid long, lo long, hi long")
        out = binned_range_join(pts, iv, "p", "lo", "hi", bin_width)
    return sorted((r["pid"], r["iid"]) for r in out.select("pid", "iid").collect())


def test_binned_range_join_matches_brute_force_overlapping(spark):
    import random

    rng = random.Random(7)
    points = [(i, rng.randrange(0, 200)) for i in range(60)]
    # heavily overlapping intervals, spans 0..40
    intervals = [
        (i, lo, lo + rng.randrange(0, 40))
        for i, lo in ((i, rng.randrange(0, 200)) for i in range(80))
    ]
    want = _brute_pairs(
        [(p, v) for p, v in points], [(i, lo, hi) for i, lo, hi in intervals]
    )
    # the pair set must be identical at ANY bin width (losslessness
    # does not depend on tuning)
    for w in (1, 7, 16, 1000):
        assert _spark_pairs(spark, points, intervals, w) == want


def test_binned_range_join_no_duplicate_pairs(spark):
    # an interval spanning many bins must still match a point once
    points = [(1, 50)]
    intervals = [(9, 0, 100)]
    got = _spark_pairs(spark, points, intervals, bin_width=4)
    assert got == [(1, 9)]


def test_binned_range_join_boundaries_inclusive(spark):
    points = [(1, 10), (2, 20), (3, 9), (4, 21)]
    intervals = [(5, 10, 20)]
    got = _spark_pairs(spark, points, intervals, bin_width=8)
    assert got == [(1, 5), (2, 5)]


def test_binned_range_join_negative_values(spark):
    # floor-division binning must stay consistent below zero
    points = [(1, -5), (2, -17), (3, 0)]
    intervals = [(7, -20, -4), (8, -3, 2)]
    got = _spark_pairs(spark, points, intervals, bin_width=8)
    assert got == [(1, 7), (2, 7), (3, 8)]


def test_binned_range_join_with_equi_key(spark):
    points = [(1, 100, 5), (2, 200, 5)]
    intervals = [(7, 100, 0, 10), (8, 200, 6, 10), (9, 100, 5, 5)]
    got = _spark_pairs(spark, points, intervals, 4, on_keys=True)
    assert got == [(1, 7), (1, 9)]


def test_cms_never_undercounts_any_term(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        cms_sketch,
        cms_token_estimates,
    )
    from cassandra_data_migration_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents").limit(100)
    # floor_ppm=0: audit EVERY term, not only heavy ones
    # depth=1/width=64: every bucket collides, so the theorem is
    # exercised where estimates genuinely exceed truth
    out = cms_token_estimates(docs, depth=1, width=64, floor_ppm=0).collect()
    assert out
    assert all(r["over_ok"] for r in out)
    assert all(r["est_cnt"] >= r["true_cnt"] for r in out)
    # the estimate is not a disguised exact count
    assert any(r["est_cnt"] > r["true_cnt"] for r in out)


def test_cms_sketch_merges_by_cell_sum(spark):
    from pyspark.sql import functions as F

    from cassandra_data_migration_spark.operators.aggregates import cms_sketch

    a = spark.createDataFrame([("x",), ("y",), ("x",)], "term string")
    b = spark.createDataFrame([("y",), ("z",)], "term string")
    both = a.union(b)
    merged = (
        cms_sketch(a, width=64)
        .unionByName(cms_sketch(b, width=64))
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    whole = cms_sketch(both, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_cms_estimates_partitioning_invariant(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        cms_token_estimates,
    )
    from cassandra_data_migration_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents").limit(60)
    one = cms_token_estimates(docs.coalesce(1), width=256)
    many = cms_token_estimates(docs.repartition(13), width=256)
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, many.collect())
    )


def _mmr_brute(vecs, k, lam=700_000, scale=1000, query=None):
    query = min(vecs) if query is None else query
    q = [int(__import__("math").floor(x * scale + 0.5)) for x in vecs[query]]
    qv = {
        i: [int(__import__("math").floor(x * scale + 0.5)) for x in v]
        for i, v in vecs.items()
    }
    rel = {i: sum(a * b for a, b in zip(v, q)) for i, v in qv.items()}
    inv = 1_000_000 - lam
    first = max(rel, key=lambda i: (rel[i], -i))
    picked = [(1, first, rel[first])]
    while len(picked) < k and len(picked) < len(vecs):
        chosen = {p[1] for p in picked}
        best = None
        for i in qv:
            if i in chosen:
                continue
            maxsim = max(
                sum(a * b for a, b in zip(qv[i], qv[j])) for j in chosen
            )
            score = lam * rel[i] - inv * maxsim
            if best is None or (score, -i) > best[0]:
                best = ((score, -i), i)
        picked.append((len(picked) + 1, best[1], rel[best[1]]))
    return picked


def _mmr_frame(spark, vecs):
    import numpy as np

    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    # quantize through float32 exactly as the Spark column does
    return df, {
        i: [float(np.float32(x)) for x in v] for i, v in vecs.items()
    }


def _mmr_got(df, **kw):
    from cassandra_data_migration_spark.operators.similarity import mmr_select

    return sorted(
        (r["step"], r["vec_id"], r["rel"]) for r in mmr_select(df, **kw).collect()
    )


def test_mmr_select_matches_greedy_brute_force(spark):
    import random

    rng = random.Random(11)
    df, vecs32 = _mmr_frame(
        spark, {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(30)}
    )
    assert _mmr_got(df, k=6) == sorted(_mmr_brute(vecs32, k=6))


def test_mmr_select_runs_one_job_per_round(spark):
    import random

    from cassandra_data_migration_spark.operators.similarity import mmr_select

    rng = random.Random(5)
    df, _ = _mmr_frame(
        spark, {i: [rng.uniform(-1, 1) for _ in range(16)] for i in range(100)}
    )
    sc = spark.sparkContext
    group = "mmr-select-job-count"
    sc.setJobGroup(group, group)
    try:
        mmr_select(df, k=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the query lookup, the first pick, then one job per later round
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1 + 1 + 7


def test_mmr_select_ties_pick_smallest_id(spark):
    # ids i and i + 6 are exact duplicates, so their scores tie at every
    # step; each even id is a 2x (collinear) copy of an odd one
    base = [[0.6, -0.2, 0.1, 0.3], [0.1, 0.5, -0.4, 0.2], [-0.3, 0.1, 0.7, 0.0]]
    vecs = {}
    for i in range(12):
        v = base[i % 3]
        vecs[i] = v if i % 2 else [2 * x for x in v]
    df, vecs32 = _mmr_frame(spark, vecs)
    for k in (4, 12):
        assert _mmr_got(df, k=k) == sorted(_mmr_brute(vecs32, k=k))


def test_mmr_select_query_id_matches_brute_force(spark):
    import random

    rng = random.Random(23)
    df, vecs32 = _mmr_frame(
        spark, {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(30)}
    )
    want = _mmr_brute(vecs32, k=6, query=17)
    assert want != _mmr_brute(vecs32, k=6)
    assert _mmr_got(df, k=6, query_id=17) == sorted(want)


def test_mmr_select_leaves_no_cached_frames(spark):
    import random

    rng = random.Random(3)
    df, _ = _mmr_frame(
        spark, {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(20)}
    )
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    _mmr_got(df, k=6)
    _mmr_got(df, k=50)  # stops early when the corpus runs out
    assert cached().size() == before


def test_mmr_select_partitioning_invariant_and_k_capped(spark):
    from cassandra_data_migration_spark.operators.similarity import mmr_select
    from cassandra_data_migration_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings").limit(40)
    a = sorted(map(tuple, mmr_select(emb.coalesce(1), k=5).collect()))
    b = sorted(map(tuple, mmr_select(emb.repartition(17), k=5).collect()))
    assert a == b and len(a) == 5
    # k larger than the corpus: selection stops at the corpus size
    tiny = emb.limit(3)
    assert mmr_select(tiny, k=10).count() == 3


def test_stream_cms_equals_batch_and_survives_redelivery(spark, tmp_path):
    """Mergeable-summary property under streaming: folding per-file
    micro-batches of the token stream into the persisted sketch must
    equal the one-shot batch sketch, and re-running the same stream
    over the same checkpointed state (or a redelivered batch id) must
    not double-count."""
    from cassandra_data_migration_spark.operators.aggregates import cms_sketch
    from cassandra_data_migration_spark.streaming.cms import (
        cms_maintain_stream,
    )

    rows = [("a",), ("b",), ("a",), ("c",), ("b",), ("a",)]
    d = str(tmp_path)
    src, sk = f"{d}/src", f"{d}/sketch"
    for row in rows:
        spark.createDataFrame([row], "term string").repartition(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    q = cms_maintain_stream(stream, sk, width=64, checkpoint=f"{d}/ckpt")
    q.awaitTermination(120)
    batch = cms_sketch(
        spark.createDataFrame(rows, "term string"), width=64
    )
    streamed = spark.read.parquet(sk)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # TRUE at-least-once redelivery: delete the LAST checkpoint commit
    # so Spark re-runs that batch id under the SAME lineage — the
    # marker gate must skip it (no double count).
    import os

    commits = sorted(os.listdir(f"{d}/ckpt/commits"))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(f"{d}/ckpt/commits/{last}")
    # the local ChecksumFileSystem keeps a shadow CRC that would block
    # the re-run batch's commit rename
    crc = f"{d}/ckpt/commits/.{last}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    q2 = cms_maintain_stream(
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src),
        sk,
        width=64,
        checkpoint=f"{d}/ckpt",
    )
    q2.awaitTermination(120)
    assert sorted(map(tuple, spark.read.parquet(sk).collect())) == sorted(
        map(tuple, batch.collect())
    )
    # FRESH checkpoint against existing sketch: batch ids restart at 0,
    # so a bare id compare would drop genuinely new batches as replays
    # — the lineage gate must FAIL FAST instead (silent undercount is
    # the failure mode this guards).
    import pyspark.errors

    q3 = cms_maintain_stream(
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src),
        sk,
        width=64,
        checkpoint=f"{d}/ckpt_fresh",
    )
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        q3.awaitTermination(120)
        if q3.exception() is not None:
            raise q3.exception()
    # sketch untouched by the failed lineage
    assert sorted(map(tuple, spark.read.parquet(sk).collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_binned_range_join_property_random_widths(spark):
    """Hypothesis sweep: for arbitrary integer points/intervals (any
    sign, inverted spans allowed) and any bin width, the pair set must
    equal the brute-force BETWEEN join."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vals = st.integers(min_value=-1000, max_value=1000)

    @settings(max_examples=12, deadline=None)
    @given(
        pts=st.lists(vals, min_size=1, max_size=12),
        ivs=st.lists(st.tuples(vals, vals), min_size=1, max_size=12),
        w=st.integers(min_value=1, max_value=500),
    )
    def check(pts, ivs, w):
        points = [(i, p) for i, p in enumerate(pts)]
        intervals = [
            (100 + j, min(a, b), max(a, b)) for j, (a, b) in enumerate(ivs)
        ]
        assert _spark_pairs(spark, points, intervals, w) == _brute_pairs(
            points, intervals
        )

    check()


# ---------------------------------------------------------------- HLL


def test_hll_registers_merge_by_max(spark):
    # the mergeable-summary property: registers built on any split of
    # the corpus, max-merged, equal the whole-corpus registers — and
    # max-merge is idempotent, so replaying a split changes nothing
    from cassandra_data_migration_spark.operators.aggregates import (
        hll_registers,
    )

    vals = [(i % 3, f"v{i}") for i in range(500)]
    df = spark.createDataFrame(vals, "g int, v string")
    whole = {
        (r["g"], r["j"]): r["m_rank"]
        for r in hll_registers(df, "v", ["g"]).collect()
    }
    a = hll_registers(df.filter(F.col("v") < "v3"), "v", ["g"])
    b = hll_registers(df.filter(F.col("v") >= "v3"), "v", ["g"])
    merged = {}
    for part in (a, b, b):  # b twice: replay must be a no-op
        for r in part.collect():
            k = (r["g"], r["j"])
            merged[k] = max(merged.get(k, 0), r["m_rank"])
    assert merged == whole


def test_hll_estimate_accuracy_and_branches(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        hll_distinct_audit,
    )

    # small group -> linear counting; big group -> raw estimator
    rows = [("small", f"s{i}") for i in range(40)] + [
        ("big", f"b{i}") for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in hll_distinct_audit(df, "g", "v").collect()}
    assert out["small"]["used_linear_counting"]
    assert not out["big"]["used_linear_counting"]
    for g, true in (("small", 40), ("big", 4000)):
        assert out[g]["true_distinct"] == true
        assert out[g]["within_3sigma"], (g, out[g]["est_distinct"])


def test_hll_rank_distribution_is_geometric(spark):
    # sanity on the bit plumbing: P(rank >= k) = 2^-(k-1); with 20k
    # draws the observed mean of rank (=2 exactly for the untruncated
    # geometric) must land near 2
    from cassandra_data_migration_spark.operators.aggregates import (
        hll_registers,
    )

    df = spark.range(20000).selectExpr("cast(id as string) as v")
    regs = hll_registers(df, "v", b=1)  # 2 registers, ranks from all rows
    # registers take MAX so use the cell path instead: recompute ranks
    from cassandra_data_migration_spark.operators.aggregates import (
        _hll_rank,
        _W_HEX_ALIAS,
    )

    cells = df.select(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("hll"), F.col("v"))), 1, 15
        ).alias(_W_HEX_ALIAS)
    ).withColumn("p", _hll_rank())
    mean = cells.agg(F.avg("p")).first()[0]
    assert 1.95 < mean < 2.05, mean


def test_xml_roundtrip_preserves_types_and_escaping(spark, tmp_path):
    from cassandra_data_migration_spark.sources.files import (
        xml_export,
        xml_import,
    )

    df = spark.createDataFrame(
        [
            (1, "a<b&c>d", 3.5),
            (2, 'quote"and\'tick', -0.25),
            (3, "plain", 0.0),
        ],
        "id int, s string, x double",
    )
    p = str(tmp_path / "xmlrt")
    xml_export(df, p, row_tag="r", root_tag="rs")
    back = xml_import(spark, p, schema=df.schema, row_tag="r")
    assert sorted(back.collect()) == sorted(df.collect())


def test_stream_hll_equals_batch_and_redelivery_is_noop(spark, tmp_path):
    """Streamed HLL registers must equal the one-shot batch registers
    under any slicing, and — because max-merge is idempotent — a full
    replay from a fresh checkpoint (every batch redelivered, no
    batch-id gate consulted) must leave the state bit-identical."""
    from cassandra_data_migration_spark.operators.aggregates import (
        hll_registers,
    )
    from cassandra_data_migration_spark.streaming.hll import (
        hll_maintain_stream,
    )

    rows = [("g1", f"v{i % 7}") for i in range(20)] + [
        ("g2", f"w{i}") for i in range(30)
    ]
    d = str(tmp_path)
    src, sk = f"{d}/src", f"{d}/sketch"
    for i in range(0, len(rows), 10):
        spark.createDataFrame(
            rows[i : i + 10], "grp string, v string"
        ).repartition(1).write.mode("append").parquet(src)

    def start(ckpt):
        return hll_maintain_stream(
            spark.readStream.schema("grp string, v string")
            .option("maxFilesPerTrigger", "2")
            .parquet(src),
            sk,
            "v",
            ["grp"],
            b=4,
            checkpoint=ckpt,
        )

    q = start(f"{d}/ckpt")
    q.awaitTermination(120)
    batch = hll_registers(
        spark.createDataFrame(rows, "grp string, v string"), "v", ["grp"], b=4
    )
    expect = sorted(map(tuple, batch.collect()))
    assert sorted(map(tuple, spark.read.parquet(sk).collect())) == expect
    q2 = start(f"{d}/ckpt2")  # full redelivery
    q2.awaitTermination(120)
    assert sorted(map(tuple, spark.read.parquet(sk).collect())) == expect


# ---------------------------------------------------------------- KMV


def test_kmv_min_union_merge_is_idempotent(spark):
    # the sketch of A∪B equals the k smallest of sketch(A) ∪ sketch(B),
    # and re-merging either side again changes nothing (min-union is
    # idempotent like HLL's max-merge)
    from cassandra_data_migration_spark.operators.aggregates import (
        kmv_sketch,
    )

    a = spark.range(0, 800).selectExpr("concat('a', id) as v")
    b = spark.range(0, 900).selectExpr(
        "concat(if(id % 3 = 0, 'a', 'b'), id) as v"
    )
    k = 64
    whole = sorted(
        r["h"] for r in kmv_sketch(a.unionByName(b), "v", k).collect()
    )
    sa, sb = kmv_sketch(a, "v", k), kmv_sketch(b, "v", k)
    merged = sa.unionByName(sb).unionByName(sb).distinct().orderBy("h").limit(k)
    assert sorted(r["h"] for r in merged.collect()) == whole


def test_kmv_estimates_are_accurate(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        kmv_set_ops_audit,
    )

    # |A|=3000, |B|=2500, |A∩B|=1500 exactly
    a = spark.range(0, 3000).selectExpr("concat('x', id) as v")
    b = spark.range(1500, 4000).selectExpr("concat('x', id) as v")
    r = kmv_set_ops_audit(a, b, "v", k=256).first()
    assert r["true_a"] == 3000 and r["true_b"] == 2500
    assert r["true_union"] == 4000 and r["true_intersection"] == 1500
    assert r["within_3sigma"]
    for est, true in (
        (r["est_a"], 3000),
        (r["est_b"], 2500),
        (r["est_union"], 4000),
        (r["est_intersection"], 1500),
    ):
        assert abs(est - true) <= 0.25 * true, (est, true)
    assert abs(r["est_jaccard_ppm"] - 375000) <= 95000  # J = 1500/4000


def test_kmv_exact_branch_below_k(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        kmv_set_ops_audit,
    )

    a = spark.range(0, 40).selectExpr("concat('x', id) as v")
    b = spark.range(20, 60).selectExpr("concat('x', id) as v")
    r = kmv_set_ops_audit(a, b, "v", k=256).first()
    # everything fits in the sketches: all answers exact
    assert (r["est_a"], r["est_b"], r["est_union"]) == (40, 40, 60)
    assert r["est_intersection"] == 20
    assert r["est_jaccard_ppm"] == 333333  # floor(20/60 * 1e6)


def test_stream_reservoir_equals_batch_and_redelivery_is_noop(spark, tmp_path):
    """Streamed A-ES reservoir must equal the batch weighted sample
    under any slicing, and a full replay from a fresh checkpoint must
    leave the winners bit-identical (min-k merge of content-hash keys
    is idempotent)."""
    from cassandra_data_migration_spark.operators.sampling import (
        weighted_sample_per_group,
    )
    from cassandra_data_migration_spark.streaming.reservoir import (
        weighted_reservoir_stream,
    )

    rows = [(f"g{i % 4}", i, 1 + (i * 7) % 50) for i in range(120)]
    d = str(tmp_path)
    src, st = f"{d}/src", f"{d}/state"
    for i in range(0, len(rows), 40):
        spark.createDataFrame(
            rows[i : i + 40], "grp string, id long, wt long"
        ).repartition(1).write.mode("append").parquet(src)

    def start(ckpt):
        return weighted_reservoir_stream(
            spark.readStream.schema("grp string, id long, wt long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            st,
            "grp",
            "id",
            "wt",
            k=3,
            checkpoint=ckpt,
        )

    q = start(f"{d}/ckpt")
    q.awaitTermination(120)
    batch = weighted_sample_per_group(
        spark.createDataFrame(rows, "grp string, id long, wt long"),
        "grp",
        "id",
        "wt",
        k=3,
    )
    expect = sorted(map(tuple, batch.collect()))
    got = sorted(
        map(tuple, spark.read.parquet(st).select("grp", "id", "wt").collect())
    )
    assert got == expect and len(expect) == 12
    q2 = start(f"{d}/ckpt2")  # full redelivery
    q2.awaitTermination(120)
    got2 = sorted(
        map(tuple, spark.read.parquet(st).select("grp", "id", "wt").collect())
    )
    assert got2 == expect


def test_pit_join_boundaries_are_exclusive_and_total(spark):
    # a fact ON a version boundary joins the NEWER version only, and
    # every fact inside the covered span joins exactly one version
    from cassandra_data_migration_spark.operators.joins import (
        pit_dimension_join,
    )

    dim = spark.createDataFrame(
        [(1, 0, 0, 10), (1, 1, 10, 20), (1, 2, 20, 999)],
        "k long, ver int, valid_from long, valid_to long",
    )
    fact = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 19), (1, 20), (1, 500), (1, 0)],
        "k long, ts long",
    )
    out = pit_dimension_join(fact, dim, ["k"], "ts").select(
        fact["ts"], dim["ver"]
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [(0, 0), (5, 0), (10, 1), (19, 1), (20, 2), (500, 2)]


# ---------------------------------------------------------------- k-core


def _brute_k_core(edges, k):
    edges = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        doomed = {v for v, d in deg.items() if d < k}
        if not doomed:
            return sorted(deg.items())
        edges = {e for e in edges if e[0] not in doomed and e[1] not in doomed}


def test_k_core_matches_brute_force_peeling(spark):
    import random

    from cassandra_data_migration_spark.operators.graph import k_core

    rng = random.Random(11)
    for trial in range(3):
        raw = {
            tuple(sorted((rng.randrange(30), rng.randrange(30))))
            for _ in range(70)
        }
        edges = [(a, b) for a, b in raw if a != b]
        und = spark.createDataFrame(edges, "a long, b long")
        for k in (2, 3, 4):
            got = sorted(
                (r["v"], r["degree"]) for r in k_core(und, k).collect()
            )
            assert got == _brute_k_core(edges, k), (trial, k)


def test_k_core_raises_instead_of_returning_non_core(spark):
    import pytest

    from cassandra_data_migration_spark.operators.graph import k_core

    # a path graph peels one layer per round from each end: max_iter=1
    # cannot converge for k=2, and the guard must raise, not return
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(path, 2, max_iter=1)
    # the full 2-core of a path is empty: convergence returns 0 rows
    assert k_core(path, 2).count() == 0


def test_transition_matrix_counts_and_ppm(spark):
    from cassandra_data_migration_spark.operators.windows import (
        transition_matrix,
    )

    # user 1: a->b->a->c ; user 2: b->b ; order by (ts, id) with a tie
    rows = [
        (1, 10, 0, "a"), (1, 20, 1, "b"), (1, 30, 2, "a"), (1, 40, 3, "c"),
        (2, 10, 4, "b"), (2, 10, 5, "b"),
    ]
    df = spark.createDataFrame(rows, "u long, ts long, id long, s string")
    out = {
        (r["from_state"], r["to_state"]): (r["n_transitions"], r["prob_ppm"])
        for r in transition_matrix(df, "u", ["ts", "id"], "s").collect()
    }
    assert out == {
        ("a", "b"): (1, 500000),
        ("a", "c"): (1, 500000),
        ("b", "a"): (1, 500000),
        ("b", "b"): (1, 500000),
    }
    # per-row ppm sums to <= 1e6 (floor) and > 1e6 - n_states
    sums = {}
    for (f, _t), (_n, p) in out.items():
        sums[f] = sums.get(f, 0) + p
    assert all(1_000_000 - 4 <= s <= 1_000_000 for s in sums.values())


def test_ivf_pq_full_probe_equals_exact_adc_and_recall_floor(spark):
    from cassandra_data_migration_spark.operators.similarity import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_codebook,
    )
    from cassandra_data_migration_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    cb = pq_codebook(emb, n_centroids=32)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    exact = [
        r["vec_id"]
        for r in pq_adc_topk(emb, qv, cb, k=10, exclude_ids=[0]).collect()
    ]
    # probing every list IS exact ADC — order included
    full = [
        r["vec_id"]
        for r in ivf_pq_topk(
            emb, qv, cb, k=10, n_probe=16, exclude_ids=[0]
        ).collect()
    ]
    assert full == exact
    # 4/16 lists: a real shortlist (approximate), but recall holds a floor
    part = [
        r["vec_id"]
        for r in ivf_pq_topk(
            emb, qv, cb, k=10, n_probe=4, exclude_ids=[0]
        ).collect()
    ]
    assert len(part) == 10
    assert len(set(part) & set(exact)) >= 3  # measured 5/10 on the fixture


def test_stream_kmv_equals_batch_and_redelivery_is_noop(spark, tmp_path):
    from cassandra_data_migration_spark.operators.aggregates import (
        kmv_sketch,
    )
    from cassandra_data_migration_spark.streaming.kmv import (
        kmv_maintain_stream,
    )

    rows = [(f"v{i}",) for i in range(300)]
    d = str(tmp_path)
    src, sk = f"{d}/src", f"{d}/sketch"
    for i in range(0, 300, 100):
        spark.createDataFrame(rows[i : i + 100], "v string").repartition(
            1
        ).write.mode("append").parquet(src)

    def start(ckpt):
        return kmv_maintain_stream(
            spark.readStream.schema("v string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            sk,
            "v",
            k=64,
            checkpoint=ckpt,
        )

    q = start(f"{d}/ckpt")
    q.awaitTermination(120)
    expect = sorted(
        r["h"]
        for r in kmv_sketch(
            spark.createDataFrame(rows, "v string"), "v", k=64
        ).collect()
    )
    assert sorted(r["h"] for r in spark.read.parquet(sk).collect()) == expect
    assert len(expect) == 64
    q2 = start(f"{d}/ckpt2")  # full redelivery
    q2.awaitTermination(120)
    assert sorted(r["h"] for r in spark.read.parquet(sk).collect()) == expect


def _brute_bfs(edges, seed):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist, frontier, d = {seed: 0}, {seed}, 0
    while frontier:
        d += 1
        frontier = {
            w for v in frontier for w in adj.get(v, ()) if w not in dist
        }
        for w in frontier:
            dist[w] = d
    return sorted(dist.items())


def test_bfs_hops_matches_brute_force(spark):
    import random

    from cassandra_data_migration_spark.operators.graph import bfs_hops

    rng = random.Random(13)
    for trial in range(3):
        raw = {
            tuple(sorted((rng.randrange(25), rng.randrange(25))))
            for _ in range(35)
        }
        edges = [(a, b) for a, b in raw if a != b]
        und = spark.createDataFrame(edges, "a long, b long")
        seed = edges[0][0]
        got = sorted(
            (r["v"], r["hops"]) for r in bfs_hops(und, seed).collect()
        )
        assert got == _brute_bfs(edges, seed), trial


def test_bfs_hops_raises_on_max_iter_and_handles_chains(spark):
    import pytest

    from cassandra_data_migration_spark.operators.graph import bfs_hops

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a long, b long"
    )
    got = sorted((r["v"], r["hops"]) for r in bfs_hops(chain, 0).collect())
    assert got == [(i, i) for i in range(11)]
    with pytest.raises(RuntimeError, match="did not converge"):
        bfs_hops(chain, 0, max_iter=3)
