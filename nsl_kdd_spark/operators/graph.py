"""Iterative graph operators: connected components via min-label
propagation (SURVEY.md §2.13 — exact transitive dedup clustering, the
upgrade over the greedy pair-drop rule in ``operators/corpus.py``).

Spark-first shape: the loop is driver-side CONTROL FLOW only — each
iteration is one distributed join + aggregate; convergence checked
with a cheap count. Label propagation halves the component diameter
per round, so iterations ~ O(log(diameter)); near-dup graphs (many
tiny cliques) converge in 2-3 rounds. For planet-scale graphs swap in
large-star/small-star; the API stays the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _truncate_lineage(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Per-round lineage truncation for the iterative operators.

    Default (``checkpoint_dir=None``): ``localCheckpoint`` — blocks
    are pinned in EXECUTOR memory, fast and right for local mode and
    short iteration counts, but non-recoverable: losing one executor
    mid-iteration kills the whole job, and the pinned blocks compete
    with shuffle memory.

    With ``checkpoint_dir`` (an HDFS/S3/shared path on a real
    cluster): reliable ``checkpoint()`` — each round's table is
    written to the fault-tolerant store, so a lost executor recomputes
    nothing older than one round. That is the correct setting for
    long-running iterative jobs at cluster scale; the cost is one
    parquet-equivalent write per round, which the join-per-iteration
    cost dominates anyway for big graphs.

    Mechanics (round-5 review): the table is PERSISTED before
    ``checkpoint()`` so the eager materialization and the reliable
    write read one computation instead of running the round's join
    twice, and unpersisted right after (the checkpoint files are the
    durable copy). The SparkContext checkpoint dir is session-global;
    it is set only when it differs from the requested path, and
    Spark only deletes old checkpoint files when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` —
    enable that (or clean the directory) for long-running drivers."""
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    # setCheckpointDir mints a fresh UUID subdir on EVERY call — set
    # it once per requested path, not once per round
    if getattr(sc, "_nsl_checkpoint_dir", None) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        sc._nsl_checkpoint_dir = checkpoint_dir
    cached = df.persist()
    out = cached.checkpoint()
    cached.unpersist()
    return out


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component id =
    the smallest node id in the component (deterministic).

    Each round: (1) every node adopts min(own label, neighbors'
    labels) — one hop of propagation; (2) path compression,
    ``comp <- comp(comp)`` — labels are themselves node ids, so one
    self-join doubles the effective propagation distance per round,
    giving O(log diameter) rounds on chains instead of O(diameter).
    Stops when no label changes. Each round's label table has its
    lineage truncated: persist alone bounds recomputation but the
    LOGICAL plan still doubles per round (self-join) until the driver
    chokes planning it. Pass ``checkpoint_dir`` on a real cluster to
    use reliable ``checkpoint()`` instead of ``localCheckpoint``
    (survives executor loss over long iterations — see
    :func:`_truncate_lineage`)."""
    # hash-partition by b — the per-iteration join key — BEFORE the
    # dedup and the persist (optimization r14, the same §2.4 shape
    # pagerank got in r13): HashPartitioning(b) satisfies the dedup
    # aggregate's ClusteredDistribution({a, b}) requirement (subset
    # rule), so dropDuplicates AFTER the repartition plans with NO
    # second exchange, and every iteration's neighbor_min join reads
    # the persisted b-partitioning instead of re-shuffling the full
    # edge table — one edge shuffle total instead of one per round.
    # Trade-off: that single exchange moves the undeduplicated, doubled
    # edge table (distinct() first ran a partial aggregate before its
    # exchange), so inputs with many duplicate or parallel edges shuffle
    # more bytes than a dedup-first plan would.
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition("b")
        .dropDuplicates()
        .persist()
    )
    labels = _truncate_lineage(
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        checkpoint_dir,
    )

    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, on=[und.b == labels.node])
            .groupBy("a")
            .agg(F.min("comp").alias("nmin"))
        )
        # the pre-iteration label rides along as __comp_old so the
        # convergence check is one CHEAP count over the round's own
        # checkpointed table (optimization r14, guide §2.4): the old
        # form re-joined new labels to old labels and counted — a
        # full extra join job per iteration whose only output was
        # one driver-side long. (NOT DataFrame.observe: registering
        # a pyspark Observation initializes the session's lazy
        # ObservationManager, which is not java-serializable — any
        # LATER task closure capturing the SparkSession, e.g. an ML
        # model whose training summary holds the session, then dies
        # with Task-not-serializable. Measured in this repo's ANSI
        # gate: q39_rf_classifier crashed whenever ANY observe query
        # had run earlier in the same session.)
        propagated = (
            labels.join(neighbor_min, on=[labels.node == neighbor_min.a], how="left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp")))
                .alias("comp"),
                F.col("comp").alias("__comp_old"),
            )
        )
        # compression: comp labels are node ids, so comp(comp) is
        # defined; shortcuts chains (pointer-jumping step)
        x = propagated.alias("x")
        y = propagated.select("node", "comp").alias("y")
        new_labels = _truncate_lineage(
            x.join(y, on=[F.col("x.comp") == F.col("y.node")], how="left")
            .select(
                F.col("x.node").alias("node"),
                F.coalesce(F.col("y.comp"), F.col("x.comp")).alias("comp"),
                F.col("x.__comp_old").alias("__comp_old"),
            ),
            checkpoint_dir,
        )
        # one scan of the just-pinned label table (no join, no wide
        # exchange — partial counts + a 1-row reduce)
        changed = new_labels.agg(
            F.count(
                F.when(F.col("comp") != F.col("__comp_old"), True)
            ).alias("changed")
        ).first()["changed"]
        labels = new_labels.select("node", "comp")
        if int(changed) == 0:
            break
    und.unpersist()
    return labels.orderBy("node")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pm: int = 850,
    scale: int = 10**12,
    weight: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration damped PageRank, exact fixed-point arithmetic.

    Returns (node, rank) for every node appearing in ``edges``, where
    ``rank`` is a BIGINT in units of ``1/scale`` (ranks sum to ~scale).
    All arithmetic is integer (``div`` floor division, damping as a
    permille integer), so the result is bit-identical across engines,
    partitionings and retries — the fixed-point twin of the decimal
    ``exact_*`` tier. Per iteration, for every node v:

        share(u)   = rank(u) div outdeg(u)          (u with out-edges)
        contrib(v) = sum over in-edges u->v of share(u)
        dangling   = sum of rank(u) over sink nodes (outdeg = 0)
        rank'(v)   = ((1000 - d) * (scale div N)
                      + d * (contrib(v) + dangling div N)) div 1000

    Dangling mass is redistributed uniformly (the standard treatment),
    so bipartite sink-heavy graphs keep total rank ~constant.

    ``weight`` names an INTEGER edge-weight column: shares split
    proportionally, ``share(u->v) = (rank(u) * w_uv) div outw(u)``
    with ``outw`` the node's total out-weight — still pure integer
    arithmetic, so the weighted variant keeps the bit-exact contract
    (weights must fit ``rank * w`` in int64: w < ~9e6 at the default
    scale). Parallel edges should be pre-aggregated into one weight.

    Scale shape (100 TB): the loop is driver control flow only; each
    iteration is one equi-join edges->ranks (shuffle on node key) +
    one grouped integer sum. The dangling mass is ONE long per
    iteration, summed by a cheap scan of the just-pinned rank table
    (optimization r14): no pre-materialization ranks-scan aggregate
    (which re-ran the iteration's join), no broadcast exchange —
    the driver carries it as a literal. Rank tables have their
    self-referential lineage truncated per iteration — pass
    ``checkpoint_dir`` on a real cluster for reliable ``checkpoint()``
    instead of ``localCheckpoint`` (see :func:`_truncate_lineage`).

    The edge table is hash-partitioned by ``src`` (the per-iteration
    join key) BEFORE the persist (optimization r13, guide §2.4): the
    persisted blocks keep that partitioning, so every iteration's
    contrib join reads it instead of re-shuffling the full edge table
    — one edge shuffle total instead of one per iteration (the cost
    that grows with edge count; measured 4x-edges tier 6.7 -> 5.0 s
    at 5 iterations, and the outdeg aggregate rides the same
    partitioning for free). The unweighted dedup runs AFTER that
    repartition (optimization r14): HashPartitioning(src) satisfies
    the dedup aggregate's clustered-distribution requirement, so the
    whole setup costs ONE edge exchange, not distinct's + the
    repartition's.
    """
    if weight is None:
        # dedup AFTER the src repartition below: HashPartitioning(src)
        # satisfies the dedup aggregate's ClusteredDistribution
        # ({src, dst, w}) (subset rule), so the dedup plans with NO
        # exchange of its own — one edge shuffle total for setup
        # instead of two (optimization r14; the r13 shape was
        # distinct-then-repartition, two full edge exchanges)
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            F.lit(1).cast("long").alias("w"),
        ).repartition("src").dropDuplicates()
    else:
        w0 = F.col(weight).cast("long")
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            # zero/negative/NULL weights would silently reclassify nodes
            # as dangling or produce negative shares — fail loudly
            # instead (NULL <= 0 is NULL, so NULL must be tested apart)
            F.when(
                w0.isNull() | (w0 <= 0),
                F.raise_error(
                    F.concat(
                        F.lit("pagerank: edge weight must be positive: "),
                        F.coalesce(w0.cast("string"), F.lit("NULL")),
                    )
                ).cast("long"),
            ).otherwise(w0).alias("w"),
        ).repartition("src")
    # one shuffle by the join key for setup, zero per iteration (see
    # docstring)
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    base = _truncate_lineage(
        nodes.join(outdeg, nodes.node == outdeg.src, "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg")),
        checkpoint_dir,
    )
    # one pre-loop job computes BOTH the node count and the dangling
    # count (optimization r14: same job the old bare count() cost)
    sizes = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("outdeg") == 0, True)).alias("n_dang"),
    ).first()
    n = sizes["n"]
    if n == 0:
        return base.select("node", F.lit(0).cast("long").alias("rank"))
    teleport = scale // n
    ranks = base.withColumn("rank", F.lit(teleport).cast("long"))
    # dangling mass of the CURRENT ranks, as a driver-side long.
    # Initially every rank is `teleport`; inside the loop the next
    # value is ONE cheap scan of the just-pinned rank table
    # (optimization r14, guide §2.4): the old form ran a separate
    # ranks-scan aggregate BEFORE the rank table was materialized —
    # re-running the iteration's join — plus a broadcast-exchange
    # build to attach a single long that the driver can just as well
    # carry as a literal. (NOT DataFrame.observe: registering a
    # pyspark Observation initializes the session's lazy
    # ObservationManager, which is not java-serializable — any LATER
    # task closure capturing the SparkSession, e.g. an ML model whose
    # training summary holds the session, then dies with
    # Task-not-serializable. Measured in this repo's ANSI gate:
    # q39_rf_classifier crashed whenever ANY observe query had run
    # earlier in the same session.)
    dang = teleport * sizes["n_dang"]

    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .filter(F.col("outdeg") > 0)
            .select("dst", F.expr("(rank * w) div outdeg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = _truncate_lineage(
            base.join(contrib, base.node == contrib.dst, "left")
            .select(
                "node",
                "outdeg",
                F.expr(
                    f"({(1000 - damping_pm) * teleport} "
                    f"+ {damping_pm} * (coalesce(contrib, 0) "
                    f"+ {dang // n})) div 1000"
                ).alias("rank"),
            ),
            checkpoint_dir,
        )
        # one scan of the pinned blocks (no join, no wide exchange —
        # partial sums + a 1-row reduce); exact integer sum, so the
        # rank sequence is bit-identical (unit suite + q103/q127)
        got = ranks.agg(
            F.sum(F.when(F.col("outdeg") == 0, F.col("rank"))).alias("dang")
        ).first()["dang"]
        dang = int(got) if got is not None else 0
    e.unpersist()
    return ranks.select("node", "rank")


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, n_nodes), largest first — the dedup-cluster report."""
    return (
        components.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "comp")
    )


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Exact global triangle count of the undirected simple graph in
    ``edges`` (self-loops and duplicate/reverse edges collapsed).
    Output one row: (n_edges, n_triangles).

    Spark-first shape — degree orientation: each edge is oriented
    from its lower-(degree, id) endpoint to the higher one, which
    bounds every out-neighborhood by O(sqrt(m)); wedges are built by
    self-joining the ORIENTED edges on their source, so the wedge
    count is sum(outdeg^2) = O(m^1.5) instead of sum(deg^2) — the
    difference between feasible and not on a power-law graph where a
    celebrity vertex alone would generate deg^2 ~ 10^12 wedges. The
    wedge->closing-edge check is a semi-join against the canonical
    edge set. Three shuffles total (degree agg, wedge join, closing
    semi-join); no windows, no collect.
    """
    a, b = F.col(src), F.col(dst)
    canon = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionByName(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        canon.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.u") == F.col("o2.u"))
        .filter(F.col("o1.w") < F.col("o2.w"))
        .select(F.col("o1.w").alias("x"), F.col("o2.w").alias("y"))
    )
    closed = wedges.join(
        canon,
        (F.least("x", "y") == F.col("a")) & (F.greatest("x", "y") == F.col("b")),
        "left_semi",
    )
    out = canon.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return out


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k after recursively peeling lower-degree nodes — the
    standard dense-region extractor (spam/bot rings in interaction
    graphs, well-connected duplicate clusters). Returns (node, deg)
    with ``deg`` the node's degree INSIDE the core. Deterministic:
    the k-core is unique, independent of peeling order.

    Spark-first shape: each peel round is one grouped degree count +
    one semi-join filtering edges to surviving nodes — driver loop is
    control flow only, converged when no node drops (checked with a
    cheap count). Rounds are bounded by max_iter; peeling removes
    whole degree-layers per round, so convergence is fast in practice
    (power-law graphs: a handful of rounds). Edge tables have
    their lineage truncated per round (as all iterative ops here);
    pass ``checkpoint_dir`` on a real cluster for reliable
    ``checkpoint()`` — see :func:`_truncate_lineage`.
    """
    und = _truncate_lineage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        checkpoint_dir,
    )
    prev_n = und.count()
    converged = False
    for _ in range(max_iter):
        deg = (
            und.select(F.col("a").alias("v"))
            .unionByName(und.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = _truncate_lineage(
            deg.filter(F.col("deg") >= k).select("v"), checkpoint_dir
        )
        und = _truncate_lineage(
            und.join(keep, und.a == keep.v, "left_semi")
            .join(keep, und.b == keep.v, "left_semi"),
            checkpoint_dir,
        )
        n = und.count()  # one action per round; prior count carried
        if n == prev_n:
            converged = True
            break
        prev_n = n
    if not converged:
        # a partially-peeled graph is NOT a k-core; returning it
        # silently would claim deg >= k for nodes the next rounds
        # would have removed (review r05, execution-confirmed on a
        # long path graph)
        raise RuntimeError(
            f"kcore did not converge in max_iter={max_iter} rounds; "
            f"raise max_iter (peeling cascades one degree-layer per "
            f"round on chain-like graphs)"
        )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.filter(F.col("deg") >= k).orderBy("node")
