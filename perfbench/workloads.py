"""The benchmark workloads.

Each workload builds its inputs from the seed, warms up, then runs a
fixed number of operations and checks every result.  Workload code
calls the engine through module attributes, so the traced run's
wrappers (``Tracer.patched``) see the nested calls too.

Why these three: ``bulk_migrate`` is scan- and write-heavy with one
shuffle and no joins; ``dual_write_stream`` uses the same parquet write
path as many small micro-batches under an open-loop schedule;
``validate_dedup`` is read-only and hash-, join- and driver-job-heavy:
it writes nothing, and it alone reaches the validate, repair, Merkle,
graph and similarity layers.  The validate/repair and dedup jobs share
one workload (and one JVM) because each spends most of its time in
fixed per-job cost and cold JIT that every fresh JVM pays again: as two
workloads they cost about 25 s more per pair of runs on a 4-core VM.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import Tracer


@dataclass(frozen=True)
class Sizes:
    orders_rows: int  # bulk_migrate origin
    validate_rows: int  # validate_dedup origin
    per_kind: int  # planted missing / mismatched / extra rows
    file_rows: int  # open-loop mutation file
    open_rate: float  # open-loop files per second
    open_files: int  # at least this many files in the open-loop phase
    burst_files: int
    burst_file_rows: int
    docs: int
    vectors: int


SIZES = {
    "full": Sizes(
        orders_rows=200_000, validate_rows=20_000, per_kind=100,
        file_rows=200, open_rate=25.0, open_files=100,
        burst_files=10, burst_file_rows=2_000,
        docs=200, vectors=100,
    ),
    "tiny": Sizes(
        orders_rows=4_000, validate_rows=3_000, per_kind=10,
        file_rows=40, open_rate=20.0, open_files=12,
        burst_files=4, burst_file_rows=50,
        docs=80, vectors=40,
    ),
}
SETUP_REPEATS = 3
MMR_K = 8
REPAIR_DEPTH, REPAIR_FANOUT = 6, 4
SPOTCHECK_N = 100


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    sizes: Sizes


@dataclass
class Outcome:
    """What a workload measured.  ``named`` holds its own metrics as
    (value, unit); ``op_s`` and ``rows_per_s`` are the two end-to-end
    figures every workload reports (see ``run.py``)."""

    op_s: float
    rows_per_s: float
    named: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    op_span: str  # span whose per-call metrics form the per-layer view
    trace_overhead_s: float = 0.0
    info: dict = field(default_factory=dict)


def _now() -> float:
    return time.perf_counter()


def build_inputs(ctx: Ctx, make: Callable[[str], None]) -> tuple[str, float, str]:
    """Build the inputs ``SETUP_REPEATS`` times into separate
    directories; return (first directory, median build seconds, input
    hash).  Every copy must hash the same: the inputs depend on the seed
    alone.  A workload's set-up time is this median plus what it does
    after the builds up to the end of its warm-up."""
    times, hashes = [], []
    for i in range(SETUP_REPEATS):
        d = os.path.join(ctx.work, f"inputs{i}")
        t0 = _now()
        make(d)
        times.append(_now() - t0)
        hashes.append(inputs.tree_hash([d]))
        if i:
            shutil.rmtree(d)
    if len(set(hashes)) != 1:
        raise RuntimeError("inputs differ between builds of one seed")
    return os.path.join(ctx.work, "inputs0"), statistics.median(times), hashes[0]


def op_count(ctx: Ctx, nominal_s: float, min_ops: int) -> int:
    """Operations to measure: ``ctx.seconds`` worth at the nominal
    operation time, at least ``min_ops``.  The count depends on the
    arguments alone, never on how fast the program runs, so every run
    and every commit measures the same operations at the same point of
    the JVM's warm-up (operation times keep falling for a dozen calls
    as the JIT compiles), and a faster commit does not earn a warmer
    median by running more of them."""
    return max(min_ops, round(ctx.seconds / nominal_s))


def measure(ctx: Ctx, op: Callable[[int], dict], count: int) -> list[dict]:
    """Call ``op`` ``count`` times (at least twice in a traced run,
    where calls alternate untraced / traced so the difference of their
    medians is the tracing overhead)."""
    out = []
    for i in range(max(count, 2 if ctx.tracer.traced else 1)):
        ctx.tracer.enabled = ctx.tracer.traced and i % 2 == 1
        r = op(i)
        r["traced"] = ctx.tracer.enabled
        out.append(r)
    ctx.tracer.enabled = False
    return out


def untraced(results: list[dict]) -> list[dict]:
    """Results for the end-to-end figures: all of them in an untraced
    run, the untraced half in a traced one."""
    plain = [r for r in results if not r["traced"]]
    return plain or results


def overhead(results: list[dict]) -> float:
    t = [r["wall"] for r in results if r["traced"]]
    u = [r["wall"] for r in results if not r["traced"]]
    return statistics.median(t) - statistics.median(u) if t and u else 0.0


def med(results: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in results)


def noop_write(df) -> None:
    """Materialize every row without writing anything."""
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- bulk_migrate
def bulk_migrate(ctx: Ctx, mods) -> tuple[Outcome, float]:
    migrate, throttle = mods.migrate, mods.throttle

    def make(d: str) -> None:
        inputs.write_parquet(
            inputs.orders_table(ctx.seed, ctx.sizes.orders_rows),
            os.path.join(d, "orders"),
            files=8,
        )

    src, build_s, digest = build_inputs(ctx, make)
    t0 = _now()
    origin = pq.read_table(os.path.join(src, "orders"))
    expected = inputs.expected_migrated_rows(origin)

    def cfg(i: int):
        return migrate.MigrationConfig(
            origin_path=os.path.join(src, "orders"),
            target_path=os.path.join(ctx.work, "target"),
            exclude_columns=["o_clerk"],
            writetime_min=inputs.WRITETIME_MIN_US,
            writetime_max=inputs.WRITETIME_MAX_US,
            where_condition="o_orderstatus <> 'P'",
            guardrail_cols=["o_comment"],
            guardrail_col_kb=inputs.GUARDRAIL_COL_KB,
            constant_columns={"migrated_by": "perfbench"},
            batch_partition_cols=["o_custkey"],
            track_run=True,
            track_key_col="o_orderkey",
            track_dir=os.path.join(ctx.work, f"track{i}"),
        )

    def op(i: int) -> dict:
        c = cfg(i)
        with ctx.tracer.span("plans.migrate.migrate"):
            t = _now()
            res = migrate.migrate(ctx.spark, c)
            wall = _now() - t
        shutil.rmtree(c.track_dir, ignore_errors=True)
        return {
            "wall": wall,
            "rows_per_s": res.rows_written / wall,
            "ok": res.rows_written == expected,
        }

    with ctx.tracer.patched(
        [
            (migrate, "build_feature_pipeline",
             "plans.migrate.build_feature_pipeline", "call"),
            (throttle, "estimate_avg_row_kb",
             "plans.throttle.estimate_avg_row_kb", "call"),
        ]
    ):
        warm = [op(-k) for k in range(1, 5)]
        setup_s = build_s + _now() - t0
        # ~1.4 s per migrate() on a 4-core VM: 6 calls at the default 8 s
        results = measure(ctx, op, op_count(ctx, 1.4, 3))

    # the last target on disk must be the filtered origin, reshaped
    written = pq.read_table(os.path.join(ctx.work, "target"))
    shape_ok = (
        written.num_rows == expected
        and "o_clerk" not in written.column_names
        and pc.all(pc.equal(written["migrated_by"], "perfbench")).as_py()
    )
    failed = sum(not r["ok"] for r in results + warm) + (not shape_ok)
    plain = untraced(results)
    out_mb = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(ctx.work, "target"))
        for f in fs
        if f.endswith(".parquet")
    ) / 1e6
    return (
        Outcome(
            op_s=med(plain, "wall"),
            rows_per_s=med(plain, "rows_per_s"),
            named={
                "migrate_rows_per_s": (med(plain, "rows_per_s"), "rows/s"),
                "migrate_s": (med(plain, "wall"), "s"),
                "plans.migrate.migrate.output_mb": (out_mb, "MB"),
                "plans.migrate.migrate.useful_ratio": (
                    expected / ctx.sizes.orders_rows, "ratio"),
            },
            attempted=len(results) + len(warm) + 1,
            failed=failed,
            op_span="plans.migrate.migrate",
            trace_overhead_s=overhead(results),
            info={"input_hash": digest, "rows": ctx.sizes.orders_rows,
                  "expected_written": expected,
                  "op_walls": [round(r["wall"], 4) for r in results]},
        ),
        setup_s,
    )


# ------------------------------------------------------------- validate_dedup
def validate_dedup(ctx: Ctx, mods) -> tuple[Outcome, float]:
    """The read-only jobs in one session: validate, spot-check and
    Merkle-scoped repair of a target with planted divergence, then
    near-duplicate survivors and MMR selection over a corpus.  One
    operation is one pass of all five calls; the throughput figure is
    origin rows over the time of the three verification calls."""
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    validate, repair = mods.validate, mods.repair
    graph, similarity = mods.graph, mods.similarity
    planted = {}

    def make(d: str) -> None:
        origin = inputs.orders_table(ctx.seed, ctx.sizes.validate_rows)
        target, div = inputs.divergent_target(ctx.seed, origin, ctx.sizes.per_kind)
        inputs.write_parquet(origin, os.path.join(d, "origin"), files=8)
        inputs.write_parquet(target, os.path.join(d, "target"), files=8)
        inputs.write_parquet(
            inputs.documents_table(ctx.seed, ctx.sizes.docs),
            os.path.join(d, "documents"), files=4,
        )
        inputs.write_parquet(
            inputs.embeddings_table(ctx.seed, ctx.sizes.vectors),
            os.path.join(d, "embeddings"), files=4,
        )
        planted["div"] = div

    src, build_s, digest = build_inputs(ctx, make)
    t0 = _now()
    div = planted["div"]
    spark = ctx.spark
    origin = spark.read.parquet(os.path.join(src, "origin"))
    target = spark.read.parquet(os.path.join(src, "target"))
    docs = spark.read.parquet(os.path.join(src, "documents"))
    emb = spark.read.parquet(os.path.join(src, "embeddings"))
    pk = ["o_orderkey"]
    digest_cols = [
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
        "o_clerk", "o_comment", "_writetime",
    ]
    rows = ctx.sizes.validate_rows
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
            f"'{os.path.join(src, 'embeddings')}/*.parquet')"
        )
        want_mmr = sorted(
            tuple(r) for r in con.execute(similarity.mmr_select_sql(k=MMR_K)).fetchall()
        )
    finally:
        con.close()

    def lazy(name: str, build: Callable, action: Callable) -> tuple[float, object]:
        """Time a lazy builder as its build plus one action."""
        with ctx.tracer.span(name) as s:
            t = _now()
            df = build()
            b = _now()
            out = action(df)
            wall = _now() - t
            if s:
                s.attrs.update(build_s=b - t, action_s=wall - (b - t))
        return wall, out

    def observed(*aggs) -> Callable:
        """Action: noop-write every row while observing ``aggs``."""

        def act(df):
            obs = Observation()
            noop_write(df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs))
            return obs.get

        return act

    def mmr() -> tuple[float, bool]:
        picked = []

        def build():
            picked.append(similarity.mmr_select(emb, k=MMR_K))
            return picked[0]

        wall, _ = lazy("operators.similarity.mmr_select", build, observed())
        return wall, sorted(tuple(r) for r in picked[0].collect()) == want_mmr

    def check_pass() -> dict:
        with ctx.tracer.span("plans.validate.validate_table"):
            t = _now()
            v = validate.validate_table(origin, target, pk)
            t_validate = _now() - t
        t_spot, spot = lazy(
            "plans.validate.sample_validate",
            lambda: validate.sample_validate(origin, target, pk, n=SPOTCHECK_N),
            lambda df: df.collect()[0],
        )
        t_repair, rep = lazy(
            "plans.repair.merkle_scoped_repair",
            lambda: repair.merkle_scoped_repair(
                origin, target, "o_orderkey", digest_cols,
                depth=REPAIR_DEPTH, fanout=REPAIR_FANOUT,
            ),
            lambda df: {r["metric"]: r["value"] for r in df.collect()},
        )
        ok = (
            (v.missing, v.mismatched, v.extra_in_target)
            == (div.missing, div.mismatched, div.extra)
            and spot["sampled"] == SPOTCHECK_N
            and spot["missing"] == spot["sampled"] - spot["found"]
            and spot["missing"] <= div.missing
            and spot["mismatched"] <= div.mismatched
            and (rep["missing_repaired"], rep["mismatched_repaired"],
                 rep["extra_removed"]) == (div.missing, div.mismatched, div.extra)
            and rep["post_missing"] == rep["post_mismatched"]
            == rep["post_extra"] == 0
        )
        return {
            "validate_rows_per_s": rows / t_validate,
            "verify_rows_per_s": rows / (t_validate + t_spot + t_repair),
            "spotcheck_s": t_spot,
            "repair_s": t_repair,
            "scoped_fraction": rep["scoped_origin_rows"] / rows,
            "divergent_leaves": rep["divergent_leaves"],
            "ok": ok,
        }

    # one survivor per near-duplicate cluster, each carrying its size
    sizes = inputs.near_dup_cluster_sizes(
        pq.read_table(os.path.join(src, "documents"))
    )

    def op(i: int) -> dict:
        with ctx.tracer.span("bench.op"):
            c0 = _now()
            r = check_pass()
            t_surv, surv = lazy(
                "operators.graph.dedup_survivors",
                lambda: graph.dedup_survivors(docs),
                observed(
                    F.sum("cluster_size").alias("members"),
                    F.sum(F.col("cluster_size") * F.col("cluster_size"))
                    .alias("members_sq"),
                ),
            )
            t_mmr, mmr_ok = mmr()
            r["wall"] = _now() - c0
        r.update(dedup_survivors_s=t_surv, mmr_select_s=t_mmr)
        r["ok"] = (
            r["ok"] and mmr_ok
            and surv["rows"] == len(sizes)
            and surv["members"] == sum(sizes)
            and surv["members_sq"] == sum(k * k for k in sizes)
        )
        return r

    # the traced run sees merkle_diff inside the repair and dup_clusters
    # inside dedup_survivors as child spans
    with ctx.tracer.patched(
        [
            (repair, "merkle_diff", "operators.merkle.merkle_diff", "lazy"),
            (graph, "dup_clusters", "operators.graph.dup_clusters", "call"),
        ]
    ):
        warm = op(-1)
        setup_s = build_s + _now() - t0
        # a pass takes 8-15 s on a 4-core VM: one pass at the default 8 s
        results = measure(ctx, op, op_count(ctx, 14.0, 1))

    plain = untraced(results)
    return (
        Outcome(
            op_s=med(plain, "wall"),
            rows_per_s=med(plain, "verify_rows_per_s"),
            named={
                "validate_rows_per_s": (med(plain, "validate_rows_per_s"), "rows/s"),
                "verify_rows_per_s": (med(plain, "verify_rows_per_s"), "rows/s"),
                "spotcheck_s": (med(plain, "spotcheck_s"), "s"),
                "repair_s": (med(plain, "repair_s"), "s"),
                "dedup_survivors_s": (med(plain, "dedup_survivors_s"), "s"),
                "mmr_select_s": (med(plain, "mmr_select_s"), "s"),
                "plans.repair.merkle_scoped_repair.scoped_fraction": (
                    med(results, "scoped_fraction"), "ratio"),
                "plans.repair.merkle_scoped_repair.divergent_leaves": (
                    med(results, "divergent_leaves"), "count"),
            },
            attempted=len(results) + 1,
            failed=sum(not r["ok"] for r in results) + (not warm["ok"]),
            op_span="bench.op",
            trace_overhead_s=overhead(results),
            info={"input_hash": digest, "rows": rows,
                  "planted_per_kind": ctx.sizes.per_kind,
                  "docs": ctx.sizes.docs, "vectors": ctx.sizes.vectors,
                  "clusters": len(sizes),
                  "op_walls": [round(r["wall"], 4) for r in results]},
        ),
        setup_s,
    )


# ---------------------------------------------------------- dual_write_stream
class _Generator(threading.Thread):
    """Moves prebuilt mutation files into the stream's source directory
    on a fixed schedule that does not slow when the stream does (open
    loop).  A rename is atomic, so the file source never sees a partial
    file, and files due together (a burst) appear together."""

    def __init__(self, inbox: str, src: str, schedule: list[tuple[int, float, int]]):
        super().__init__(daemon=True)
        self.inbox, self.src, self.schedule = inbox, src, schedule
        self.landed: dict[int, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for seq, due, _ in self.schedule:
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"f-{seq:06d}.parquet"
                os.replace(os.path.join(self.inbox, name), os.path.join(self.src, name))
                self.landed[seq] = time.time()
        except BaseException as e:  # noqa: BLE001 — reported by the caller
            self.error = e


def _sink_batches(path: str) -> dict[int, tuple[float, set[int]]]:
    """batch id -> (commit time of its ``_SUCCESS`` marker, file_seqs
    it holds), read after the run from the sink's ``batch_id=N``
    directories."""
    out = {}
    for d in os.listdir(path):
        if not d.startswith("batch_id="):
            continue
        full = os.path.join(path, d)
        seqs = pq.read_table(full, columns=["file_seq"])["file_seq"]
        out[int(d.split("=", 1)[1])] = (
            os.stat(os.path.join(full, "_SUCCESS")).st_mtime,
            set(pc.unique(seqs).to_pylist()),
        )
    return out


def dual_write_stream(ctx: Ctx, mods) -> tuple[Outcome, float]:
    dw = mods.dual_write
    sz = ctx.sizes
    src = os.path.join(ctx.work, "stream_src")
    origin_sink = os.path.join(ctx.work, "sink_origin")
    target_sink = os.path.join(ctx.work, "sink_target")
    # (kind, files, rows per file, files per second or None for a
    # burst): a short open loop and two bursts warm up, then the
    # measured open loop (60 % of the seconds at the fixed rate, at
    # least enough files for ten beyond p90) and bursts of ~0.5 s each
    open_files = max(sz.open_files, round(sz.open_rate * 0.6 * ctx.seconds))
    burst = (sz.burst_files, sz.burst_file_rows, None)
    phases = (
        [("warm", sz.open_files // 3, sz.file_rows, sz.open_rate),
         ("warm", *burst), ("warm", *burst),
         ("open", open_files, sz.file_rows, sz.open_rate)]
        + [("burst", *burst)] * max(3, round(0.5 * ctx.seconds))
    )
    first_seq = list(itertools.accumulate([p[1] for p in phases], initial=0))
    rows_of = {
        first_seq[k] + f: rows
        for k, (_, files, rows, _) in enumerate(phases)
        for f in range(files)
    }

    def make(d: str) -> None:
        os.makedirs(d)
        for seq, rows in rows_of.items():
            pq.write_table(
                inputs.mutation_file(ctx.seed, seq, rows),
                os.path.join(d, f"f-{seq:06d}.parquet"),
            )

    inbox, build_s, digest = build_inputs(ctx, make)
    t0 = _now()
    os.makedirs(src)
    spark = ctx.spark
    schema = (
        "mut_id long, file_seq int, pk long, op string, val double, "
        "payload string"
    )
    metrics = dw.DualWriteMetrics()
    expected_rows = 0

    def drop(k: int, start: float) -> _Generator:
        """Start phase ``k``'s generator, its first file due at ``start``."""
        nonlocal expected_rows
        _, files, rows, rate = phases[k]
        schedule = [
            (first_seq[k] + f, start + (f / rate if rate else 0.0), rows)
            for f in range(files)
        ]
        expected_rows += files * rows
        g = _Generator(inbox, src, schedule)
        g.start()
        return g

    def wait_drained(timeout: float) -> bool:
        end = _now() + timeout
        while _now() < end:
            if metrics.rows_origin >= expected_rows and metrics.rows_target >= expected_rows:
                return True
            time.sleep(0.02)
        return False

    gens: list[tuple[str, _Generator]] = []
    backlog_max = 0
    with ctx.tracer.patched(
        [
            (dw, "make_dual_writer", "streaming.dual_write.write_both",
             "factory"),
            (dw, "parquet_appender", "streaming.dual_write.parquet_appender",
             "factory"),
        ]
    ):
        stream_span = None
        query = dw.dual_write_stream(
            dw.file_mutation_stream(spark, src, schema),
            origin_sink, target_sink, os.path.join(ctx.work, "ckpt"),
            metrics, trigger_available_now=False,
        )
        try:
            for k, (kind, *_) in enumerate(phases):
                if kind == "open":
                    setup_s = build_s + _now() - t0
                    # the open loop is traced in a traced run
                    ctx.tracer.enabled = ctx.tracer.traced
                    stream_span = ctx.tracer.start(
                        "streaming.dual_write.dual_write_stream"
                    )
                    ctx.tracer.default_parent = (
                        stream_span.span_id if stream_span else None
                    )
                    rows_before = metrics.rows_origin
                elif kind == "burst":
                    # bursts alternate untraced / traced in a traced run
                    b = sum(g[0].startswith("burst") for g in gens)
                    ctx.tracer.enabled = ctx.tracer.traced and b % 2 == 1
                    kind += "T" if ctx.tracer.enabled else ""
                g = drop(k, time.time() + 0.2)
                gens.append((kind, g))
                while g.is_alive():
                    if kind == "open":
                        done = (metrics.rows_origin - rows_before) // sz.file_rows
                        backlog_max = max(backlog_max, len(g.landed) - done)
                    time.sleep(0.02)
                if not wait_drained(60):
                    raise RuntimeError(f"stream did not drain a {kind} phase")
                if kind == "open":
                    ctx.tracer.finish(stream_span)
            ctx.tracer.enabled = False
        finally:
            query.stop()
            ctx.tracer.default_parent = None

    # ---- after the run: map files to batches from the sink directories
    origin_b, target_b = _sink_batches(origin_sink), _sink_batches(target_sink)
    done_at: dict[int, float] = {}
    for bid, (t_origin, seqs) in origin_b.items():
        t_target = target_b.get(bid, (float("inf"), set()))[0]
        for s in seqs:
            done_at[s] = max(t_origin, t_target)
    open_gen = next(g for kind, g in gens if kind == "open")
    latencies = sorted(
        done_at.get(s, float("inf")) - due for s, due, _ in open_gen.schedule
    )
    late = max(open_gen.landed[s] - due for s, due, _ in open_gen.schedule
               if s in open_gen.landed)
    drains = {True: [], False: []}
    for kind, g in gens:
        if kind.startswith("burst"):
            end = max(done_at.get(s, float("inf")) for s, _, _ in g.schedule)
            drains[kind.endswith("T")].append(
                sz.burst_files * sz.burst_file_rows / (end - g.schedule[0][1])
            )

    # ---- correctness: both sinks hold exactly the mutation set
    files = {s: inputs.mutation_file(ctx.seed, s, rows)
             for _, g in gens for s, _, rows in g.schedule}
    want = pa.concat_tables(files.values())
    failed_files = 0
    for sink in (origin_sink, target_sink):
        got = pq.read_table(sink).drop_columns(["batch_id"])
        if inputs.mutation_digest(got) != inputs.mutation_digest(want):
            for s, t in files.items():
                mine = got.filter(pc.equal(got["file_seq"], s))
                failed_files += inputs.mutation_digest(mine) != inputs.mutation_digest(t)
    failed = failed_files + sum(metrics.failed_on.values())
    failed += sum(g.error is not None for _, g in gens)
    failed += sum(1 for x in latencies if x == float("inf"))

    p50 = statistics.median(latencies)
    p90 = statistics.quantiles(latencies, n=10)[-1]
    drain = statistics.median(drains[False] or drains[True])
    batches = len(origin_b)
    return (
        Outcome(
            op_s=p50,
            rows_per_s=drain,
            named={
                "dualwrite_latency_p50_s": (p50, "s"),
                "dualwrite_latency_p90_s": (p90, "s"),
                "dualwrite_drain_rows_per_s": (drain, "rows/s"),
                "generator_late_max_s": (late, "s"),
                "streaming.dual_write.write_both.batches": (batches, "count"),
                "streaming.dual_write.write_both.rows_per_batch": (
                    metrics.rows_origin / max(batches, 1), "rows"),
                "streaming.dual_write.write_both.backlog_files_max": (
                    backlog_max, "count"),
                "streaming.dual_write.failed_on_target": (
                    metrics.failed_on["target"], "count"),
            },
            attempted=len(files),
            failed=failed,
            op_span="streaming.dual_write.write_both",
            trace_overhead_s=(
                sz.burst_files * sz.burst_file_rows
                * (1 / statistics.median(drains[True])
                   - 1 / statistics.median(drains[False]))
                if drains[True] and drains[False] else 0.0
            ),
            info={"input_hash": digest, "open_files": open_files,
                  "open_rate_files_per_s": sz.open_rate,
                  "latency_samples": len(latencies),
                  "samples_beyond_p90": sum(x > p90 for x in latencies),
                  "drain_rows_per_s": [round(x) for x in drains[False]]},
        ),
        setup_s,
    )


WORKLOADS = {
    "bulk_migrate": bulk_migrate,
    "dual_write_stream": dual_write_stream,
    "validate_dedup": validate_dedup,
}
