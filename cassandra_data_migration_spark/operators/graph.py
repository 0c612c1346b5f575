"""Graph operators: connected components over candidate-duplicate
pair graphs — the clustering step that turns near-dup PAIRS (from
``operators.dedup``) into dedup GROUPS, so one canonical document per
component survives.

The reference's dedup surface stops at pair detection; a production
corpus pipeline needs the transitive closure (A~B, B~C ⇒ {A,B,C} is
one group).  Spark-first design: iterative min-label propagation
expressed as DataFrame joins, `localCheckpoint` per round to truncate
lineage (a cluster run points ``setCheckpointDir`` at durable storage
and uses ``checkpoint()`` instead — same call shape).

Scale notes:
- Each round shuffles |E| (neighbor messages) + |V| (labels) rows of
  two 8-byte columns — ~16 bytes/edge, independent of document width.
- Round count is bounded by graph diameter.  Duplicate-cluster graphs
  are near-cliques (every dup pairs with every other), so 2-3 rounds
  converge in practice.  For adversarial long-chain graphs the
  alternating large-star/small-star formulation (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) bounds
  rounds at O(log² n) using these same join/groupBy primitives.
- Convergence costs no extra job: Σ component is observed on each
  round's checkpoint job, and the round stops when it stops falling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) where component = min node id reachable from
    ``id`` over the undirected ``edges``.  Isolated nodes (present in
    ``nodes``, absent from ``edges``) form singleton components.

    Min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until a fixpoint.  The loop
    is driver-side control flow over distributed joins — no data ever
    lands on the driver.

    Min-label moves a label ONE hop per round, so round count is the
    graph diameter — 2-3 rounds on near-clique dup graphs, but
    unbounded on adversarial chains.  If ``max_iter`` rounds pass
    without a fixpoint the result would be silently WRONG (labels not
    yet fully propagated), so this falls back to
    :func:`connected_components_star`, whose O(log² n) round bound
    needs no diameter assumption.

    ``max_iter`` default is tuned from the graph scale probe
    (SCALE_PROBE_r05.json): real dup graphs (near-clique clusters,
    1x and 10x tiers) converge in 2 rounds, while on the adversarial
    chain shape every label round before the fallback is pure waste
    (25 wasted rounds cost +69% over calling star directly; 10 cap
    that at roughly +28%).  Any graph with diameter in (10, 50] that
    label-prop could still have finished lands in the star path
    instead — identical labels, bounded rounds either way.
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    und = (
        fwd.union(rev).filter(F.col("a") != F.col("b")).distinct().persist()
    )
    labels = nodes.select(
        F.col(id_col).alias("a"), F.col(id_col).alias("component")
    ).localCheckpoint(eager=False)

    # Convergence probe (round 12): labels are componentwise
    # NON-INCREASING (each round takes min over self ∪ neighbors) and
    # the key set is constant (message targets are edge endpoints ⊆
    # nodes), so Σ component is strictly decreasing until the fixpoint
    # and equality of consecutive sums IS convergence.  That replaces
    # the per-round join-and-filter probe (an extra join of two label
    # tables every round) with one aggregate scan — and the sum RIDES
    # the eager checkpoint's own materialization job via observe()
    # (one Spark job per round, not two; the metric is collected by
    # the accumulator machinery during the checkpoint, so nothing
    # re-scans the labels).  decimal(38,0): exact, and no int64
    # overflow at any scale (10¹² ids × 10¹² rows ≈ 10²⁴ < 10³⁸).
    # The starting sum is observed on round 1's ``labels`` union leg,
    # so it rides the same checkpoint job.
    from pyspark.sql import Observation

    def label_sum() -> Column:
        return F.sum(F.col("component").cast("decimal(38,0)")).alias("s")

    start = Observation()
    own = labels.observe(start, label_sum())
    prev_sum = None
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        msgs = und.join(labels, "a").select(
            F.col("b").alias("a"), F.col("component")
        )
        obs = Observation()
        new_labels = (
            own.union(msgs)
            .groupBy("a")
            .agg(F.min("component").alias("component"))
            .observe(obs, label_sum())
            .localCheckpoint(eager=True)
        )
        new_sum = obs.get["s"]
        if prev_sum is None and new_sum is not None:
            # with no rows at all AQE drops the stage holding ``start``;
            # its sum would be None then, like ``new_sum``
            prev_sum = start.get["s"]
        labels = own = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    und.unpersist()
    if stats is not None:
        stats["label_rounds"] = rounds
        stats["fell_back_to_star"] = not converged
    if not converged:
        return connected_components_star(
            edges, nodes, id_col, src, dst, stats=stats
        )
    return labels.select(F.col("a").alias(id_col), "component")


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm).  Same output contract as
    :func:`connected_components` (component = min reachable id;
    isolated nodes are singletons), but round count is O(log² n) in the
    WORST case instead of O(diameter) — the difference between 2-3
    rounds and thousands on a long-chain graph (substring-chain
    duplicates A~B~C~… produce exactly that shape).

    Per round, each phase is one groupBy(min) + one join over the
    current edge set — rows of two 8-byte ids, document width never
    ships.  ``localCheckpoint`` truncates lineage per round (cluster
    runs swap in durable ``checkpoint()``).

    - **large-star**: every node u connects its LARGER neighbors to
      m = min(N(u) ∪ {u}) — hubs shatter toward their minimum.
    - **small-star**: every node u connects its SMALLER neighbors and
      itself to m = min(N_<(u) ∪ {u}) — chains telescope.

    The fixpoint is a star forest where every edge points at its
    component's minimum id; convergence is checked with a one-row
    ``exceptAll`` probe (edge set unchanged by a full round).  If
    ``max_iter`` rounds pass without reaching the fixpoint the
    function RAISES — unconverged labels are silently wrong, and the
    repo convention (k_core, bfs_hops) is to fail loudly, never to
    return a best-effort answer.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(d: DataFrame) -> DataFrame:
        return d.union(
            d.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    star_rounds = 0
    for _ in range(max_iter):
        star_rounds += 1
        sym = _sym(e)
        # large-star: m = min over ALL neighbors and self; attach
        # strictly-larger neighbors to m
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        big = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("_mn"), F.col("u")).alias("v"),
            )
        )
        e1 = (
            big.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: m = min over smaller neighbors and self; attach
        # those neighbors AND self to m
        smaller = _sym(e1).filter(F.col("v") < F.col("u"))
        smins = smaller.groupBy("u").agg(F.min("v").alias("_mn"))
        att = smaller.join(smins, "u").select(
            F.col("v").alias("u"), F.col("_mn").alias("v")
        )
        self_att = smins.select("u", F.col("_mn").alias("v"))
        e2 = (
            att.union(self_att)
            .filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = e2.exceptAll(e).limit(1).count() + e.exceptAll(e2).limit(
            1
        ).count()
        e = e2
        if changed == 0:
            if stats is not None:
                stats["star_rounds"] = star_rounds
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not reach the star-forest "
            f"fixpoint in max_iter={max_iter} rounds; labels would be "
            "silently wrong. Raise max_iter (rounds are O(log² n))."
        )

    labels = _sym(e).groupBy("u").agg(F.min("v").alias("_mn"))
    comp = F.coalesce(F.least("_mn", F.col(id_col)), F.col(id_col))
    return (
        nodes.select(id_col)
        .join(labels, nodes[id_col] == labels["u"], "left")
        .select(F.col(id_col), comp.alias("component"))
    )


E12 = 10**12


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over a directed graph in exact e12 fixed-point integer
    arithmetic: ``rank' = (100-d)%·E12/N + d%·Σ_in (rank/outdeg)``
    with every division an integer ``div`` — bit-identical across
    engines and partitionings (no float summation-order drift), which
    is what makes the result oracle-checkable.

    Link-graph authority is a standard web-corpus quality signal
    (Common Crawl ranks hosts by harmonic centrality the same way);
    the reference has no graph surface, so this extends it.

    Scale notes
    -----------
    - Each iteration shuffles |E| contribution rows of two 8-byte
      columns plus a groupBy(dst) with map-side combine — the classic
      message-passing round, same cost envelope as
      :func:`connected_components`.
    - Fixed ``iterations`` (no convergence probe): round count is
      known up front, and determinism does not depend on a float
      epsilon test.
    - ``localCheckpoint`` per round truncates lineage; a cluster run
      points ``setCheckpointDir`` at durable storage instead.
    - Dangling nodes (no out-edges) contribute nothing; nodes with no
      in-edges settle at the teleport floor.  Rank mass is therefore
      conserved only up to dangling leakage + integer floors, the
      standard simplification.
    """
    n = nodes.count()
    init = E12 // n
    base = ((100 - damping_pct) * E12) // (100 * n)
    deg = edges.groupBy(F.col(src).alias("_src")).agg(
        F.count(F.lit(1)).alias("_outdeg")
    )
    # out-degree is loop-invariant, so it is attached to the edge
    # table ONCE instead of re-joined every iteration (round 12: one
    # join per round removed; the lazy localCheckpoint materializes
    # the (src, dst, outdeg) table on first use and rounds 2..n reuse
    # it instead of re-running the degree aggregation + join)
    ew = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .join(deg, "_src")
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select(
        F.col(id_col).alias("_id"), F.lit(init).cast("long").alias("rank_e12")
    )
    for _ in range(iterations):
        incoming = (
            ew.join(ranks, ew["_src"] == ranks["_id"])
            .select(
                F.col("_dst"),
                F.expr("rank_e12 div _outdeg").alias("_c"),
            )
            .groupBy(F.col("_dst").alias("_id"))
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.select(F.col(id_col).alias("_id"))
            .join(incoming, "_id", "left")
            .select(
                "_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(_in, 0L)) div 100"
                    )
                ).cast("long").alias("rank_e12"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("_id").alias(id_col), "rank_e12")


def domain_link_graph(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) over the corpus's registered domains.  The
    ``documents`` fixture has no real hyperlinks, so out-links are
    synthesized deterministically from the domain's dense index ``i``
    (``i → (3i+1) % n, (5i+2) % n, (7i+3) % n``, self-loops dropped) —
    both engines regenerate the identical graph, the same convention
    as :func:`web.synthesize_url`.

    The dense index is a ``row_number`` over the DISTINCT domain
    table — a dim-side global sort over O(domains) rows (thousands at
    web scale), never over documents.
    """
    from pyspark.sql import Window

    from cassandra_data_migration_spark.operators.web import (
        parse_url_parts,
        synthesize_url,
    )

    domains = (
        parse_url_parts(synthesize_url(docs)).select("domain").distinct()
    )
    idx = domains.select(
        "domain",
        (F.row_number().over(Window.orderBy("domain")) - 1).alias("i"),
    )
    n = idx.count()
    targets = F.array(
        *[
            (F.col("i") * F.lit(m) + F.lit(o)) % F.lit(n)
            for m, o in ((3, 1), (5, 2), (7, 3))
        ]
    )
    edges = (
        idx.select(F.col("i").alias("src"), F.explode(targets).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return idx, edges


def domain_pagerank(docs: DataFrame, iterations: int = 5) -> DataFrame:
    """(domain, rank_e12): PageRank authority per registered domain
    over the synthesized link graph — the corpus-curation signal a
    crawler mixes into per-domain quality weighting."""
    idx, edges = domain_link_graph(docs)
    pr = pagerank(edges, idx.select("i"), id_col="i", iterations=iterations)
    return idx.join(pr, "i").select("domain", "rank_e12")


def dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate clusters: n-gram-Jaccard pairs → connected
    components → (doc_id, component, cluster_size).  Keep
    ``doc_id == component`` to materialize the deduped corpus (the
    min-id doc is the canonical representative).

    Pair generation goes through :func:`prefix_filter_pairs` — the
    lossless PPJoin path — NOT the full posting self-join: a hot
    boilerplate shingle shared by k distinct sets makes the posting
    join emit k² rows, and the sf1 skew probe measured exactly that
    (146 s / 12.3 GB shuffle with the posting join vs ~20 s / ~1 GB
    prefix-filtered, identical pair output either way because the
    prefix filter is provably lossless at the same threshold).

    The pair table is persisted because the propagation loop re-reads
    it every round; at corpus scale this is the standard "materialize
    the candidate-pair table, then cluster" step.
    """
    from cassandra_data_migration_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    pairs = prefix_filter_pairs(
        df, id_col, text_col, n, threshold, cache_groups=False
    ).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(pairs, df.select(id_col), id_col)
    w = Window.partitionBy("component")
    return cc.select(
        id_col,
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def dedup_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the HIGHEST-quality document (tie-break: smallest id), not
    the smallest-id one — the curation policy that preserves the best
    copy of boilerplate-mangled duplicates.

    Output: one row per cluster ``(doc_id, cluster_size,
    quality_e4)`` — the surviving corpus.

    The score is the C4-style blend of ``text.quality_score`` but in
    e4 fixed-point over RAW ratios (``floor(x·10⁴+0.5)``, no decimal
    ROUND intermediates): every float op is the identical IEEE
    sequence in any engine, so the argmax ordering — and therefore
    which document survives — is deterministic and oracle-checkable.

    Scale: clusters from :func:`dup_clusters` (sub-quadratic pair
    generation + label propagation), quality from a scan-side
    expression; the argmax is one window over the component key, the
    same shuffle the cluster-size count already paid.
    """
    from cassandra_data_migration_spark.operators.text import (
        stopword_count,
        token_count,
    )

    clusters = dup_clusters(df, id_col, text_col, n, threshold)
    n_tok = token_count(text_col)
    length_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    stop_term = F.least(
        stopword_count(text_col) / n_tok * F.lit(5.0), F.lit(1.0)
    )
    q = df.select(
        F.col(id_col),
        F.floor(
            (F.lit(0.7) * length_term + F.lit(0.3) * stop_term)
            * F.lit(10000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("quality_e4"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality_e4").desc(), F.col(id_col)
    )
    return (
        clusters.join(q, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cluster_size", "quality_e4")
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """Per-vertex triangle participation over an undirected edge set
    (canonical ``(a, b)`` pairs, a < b) via degree-ordered wedge
    generation (Suri & Vassilvitskii's MR triangle counting): orient
    every edge from its lower-(degree, id) endpoint, generate wedges
    only at each triangle's minimum vertex, close them with one
    semi-join against the canonical edges.

    Why orientation matters at scale: naive wedge generation at hubs
    is Σ deg² — a 10⁶-degree hub yields 10¹² wedges.  Ordering by
    degree bounds every vertex's oriented out-degree by O(√m), so
    wedges are O(m^1.5) worst case and each triangle is produced
    exactly once (no /3 dedup pass).
    """
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e = und.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("_da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("_db")), "b")
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = e.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    wedges = (
        o.select("u", F.col("w").alias("v1"))
        .join(o.select("u", F.col("w").alias("v2")), "u")
        .filter(F.col("v1") < F.col("v2"))
    )
    tris = wedges.join(
        und,
        (F.col("v1") == F.col("a")) & (F.col("v2") == F.col("b")),
        "left_semi",
    )
    per_vertex = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return deg.join(per_vertex, "v", "left").select(
        "v",
        F.col("d").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def domain_triangles(docs: DataFrame) -> DataFrame:
    """(domain, degree, n_triangles, clustering_e6) over the
    synthesized domain link graph — local clustering coefficient in
    integer micro-units (2·t·10⁶ div d(d−1)), the community-density
    signal beside PageRank authority."""
    idx, edges = domain_link_graph(docs)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    tc = triangle_counts(und)
    clustering = F.when(
        F.col("degree") >= 2,
        F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"),
    ).otherwise(F.lit(0))
    return idx.join(tc, idx["i"] == tc["v"]).select(
        "domain",
        "degree",
        "n_triangles",
        clustering.cast("long").alias("clustering_e6"),
    )


def k_core(und: DataFrame, k: int, max_iter: int = 40) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983;
    distributed form as in Montresor et al.): repeatedly delete every
    vertex whose degree in the REMAINING graph is < k until none is —
    what survives is the maximal subgraph with min-degree ≥ k, the
    standard community-density filter a web/domain graph pipeline
    runs before expensive per-community work.

    ``und`` is the canonical undirected edge table (a < b, distinct).
    Returns ``(v, degree)`` — surviving vertices with their k-core
    degree.

    Scale shape: each round is one degree aggregation plus an
    anti-join of the edge table against the (usually small) doomed
    set — driver-side control flow only, data never leaves executors;
    ``localCheckpoint`` truncates lineage per round like the CC
    loops.  Round count is bounded by the peeling depth (the graph's
    degeneracy ordering collapses expander-ish graphs in a handful of
    rounds); ``max_iter`` is a guard, and exhausting it raises rather
    than returning a superset that silently isn't a k-core.
    """
    edges = und.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        deg = (
            edges.select(F.col("a").alias("v"))
            .unionAll(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )
        doomed = deg.filter(F.col("degree") < k).select("v")
        if doomed.isEmpty():
            return deg
        edges = (
            edges.join(
                doomed.withColumnRenamed("v", "a"), "a", "left_anti"
            )
            .join(doomed.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"k_core did not converge within {max_iter} peeling rounds"
    )


def domain_k_core(docs: DataFrame, k: int = 5) -> DataFrame:
    """(domain, degree) of the domains surviving in the k-core of the
    synthesized domain link graph — the dense-community slice of the
    corpus's domain neighborhood."""
    idx, edges = domain_link_graph(docs)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    core = k_core(und, k)
    return idx.join(core, idx["i"] == core["v"]).select("domain", "degree")


def bfs_hops(und: DataFrame, seed: int, max_iter: int = 20) -> DataFrame:
    """Single-source BFS hop distances by min-propagation: the
    distance table starts as {seed: 0} and each round relaxes every
    edge once (``min(dist[v], dist[neighbor] + 1)``) until a fixed
    point — the traversal primitive under reachability, radius, and
    link-distance features.

    ``und`` is the canonical undirected edge table (a < b); both
    directions are relaxed.  Returns ``(v, hops)`` for REACHABLE
    vertices only.

    Fixed-point detection without diffing tables: per round track
    ``(count, sum(hops))`` — vertices only get added and distances
    only shrink, so equality of both is exactly convergence.  Round
    count is the eccentricity of the seed (graph diameter at worst),
    each round one join + one min-aggregate over (v, hop) pairs;
    ``localCheckpoint`` truncates lineage like the CC/k-core loops,
    and the (count, sum) stamp rides the checkpoint's materialization
    job via ``observe()`` — one Spark job per round, not two (the
    same fold as ``connected_components``' label-sum probe).
    Exhausting ``max_iter`` raises — a truncated BFS silently reports
    wrong distances (the k_core/star-CC lesson).
    """
    from pyspark.sql import Observation

    spark = und.sparkSession
    edges = (
        und.select("a", "b")
        .unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)
    )
    dist = spark.createDataFrame([(int(seed), 0)], "v long, hops long")
    stamp = (1, 0)
    for _ in range(max_iter):
        relaxed = (
            dist.join(edges, dist["v"] == edges["a"])
            .select(F.col("b").alias("v"), (F.col("hops") + 1).alias("hops"))
        )
        obs = Observation()
        dist = (
            dist.unionByName(relaxed)
            .groupBy("v")
            .agg(F.min("hops").cast("long").alias("hops"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("hops").alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        row = obs.get
        new_stamp = (row["n"], row["s"] or 0)
        if new_stamp == stamp:
            return dist
        stamp = new_stamp
    raise RuntimeError(f"bfs_hops did not converge within {max_iter} rounds")


def domain_bfs_hops(docs: DataFrame, seed: int = 0) -> DataFrame:
    """(domain, hops) from the seed domain over the synthesized
    domain link graph — link-distance features for the corpus's
    domain neighborhood."""
    idx, edges = domain_link_graph(docs)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    hops = bfs_hops(und, seed)
    return idx.join(hops, idx["i"] == hops["v"]).select("domain", "hops")
