"""BFS and SSSP — frontier-based traversal supersteps.

Reference:
- BFS: include/gunrock/algorithms/bfs.hxx:80-132 — advance with
  atomic-min depth relax; depth = iteration at discovery.
- SSSP: include/gunrock/algorithms/sssp.hxx:98-151 — advance with
  atomic-min distance + visited-dedup bypass filter.

Spark shape: the frontier is a DataFrame; advance = frontier x edges
equi-join (ops/advance.py); the atomic-min scatter becomes
groupBy(dst).min (Catalyst partial aggregation replaces atomics);
the visited filter is a left-anti join / conditional update. The edge
table is persisted once as a src-bucketed table so each superstep
shuffles only the (small) frontier (engine/static_table.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def _relax_min(
    edges_df: DataFrame,
    seeds: DataFrame,
    runner: SuperstepRunner,
    edges_mode: str = "bucketed",
    max_iter: int = 10_000,
    name_hint: str = "relax",
    kernel: str = "dataframe",
    n_buckets: int | None = None,
) -> DataFrame:
    """Label-correcting min-relaxation (Bellman-Ford frontier loop)
    from arbitrary seed distances: edges (src, dst, weight), seeds
    (vid, dist). Returns (vid, dist double) for reached vertices.
    Shared by sssp and by every chain-contracted traversal (where the
    seed set is the source's chain endpoints).

    ``kernel='csr'``: the per-round relax runs as the (min, +)
    tropical SpMV over packed CSR blocks (csr_blocks.csr_tropical_push
    — np.minimum.at ≙ the reference's atomic-min relax,
    sssp.hxx:98-151) instead of the join + groupBy; A/B bit-exact
    (each message is one double add on both paths)."""
    spark = edges_df.sparkSession
    blocks = None
    if kernel == "csr":
        from essentials_spark.graph.csr_blocks import build_csr_blocks, csr_tropical_push

        n_buckets = n_buckets or spark.sparkContext.defaultParallelism
        blocks, _ = prepare_static_edges(
            build_csr_blocks(
                edges_df.select("src", "dst", F.col("weight").cast("double").alias("coef")),
                n_buckets,
            ),
            runner, keys="bucket", n_buckets=n_buckets, name_hint=f"{name_hint}_blocks",
        )
        edges = None
        # the loop's work is the edges packed into the blocks (the
        # table's own rows count blocks)
        m_work = int(blocks.agg(F.sum(F.size("dst_ids"))).collect()[0][0] or 0)
    else:
        edges, m_work = prepare_static_edges(
            edges_df.select("src", "dst", "weight"), runner, keys="src",
            mode=edges_mode, name_hint=name_hint,
        )
    dist = truncate_plan(seeds.select("vid", F.col("dist").cast("double").alias("dist"))).persist()
    frontier = dist
    iteration = 0
    with runner.loop(work_rows=m_work):
        while iteration < max_iter:
            if blocks is not None:
                from essentials_spark.graph.csr_blocks import csr_tropical_push

                cand = csr_tropical_push(blocks, frontier, n_buckets).select(
                    F.col("dst").alias("vid"), F.col("nbr_min").alias("cand")
                )
            else:
                cand = (
                    edges.join(frontier.select(F.col("vid").alias("src"), "dist"), "src")
                    .groupBy("dst")
                    .agg(F.min(F.col("dist") + F.col("weight")).alias("cand"))
                    .withColumnRenamed("dst", "vid")
                )
            merged = dist.join(cand, "vid", "full").select(
                "vid",
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                (F.col("dist").isNull() | (F.col("cand") < F.col("dist"))).alias("improved"),
            )
            merged = truncate_plan(merged)
            improved = merged.filter(F.coalesce(F.col("improved"), F.lit(False)))
            n_improved = improved.count()
            iteration += 1
            runner.log(iteration, improved=n_improved)
            prev = dist
            dist = merged.select("vid", "dist").persist()
            prev.unpersist()
            frontier = improved.select("vid", "dist")
            if n_improved == 0:
                break
    return dist


def _chain_traversal(
    graph: Graph,
    source: int,
    use_hops: bool,
    runner: SuperstepRunner,
    contraction=None,
    edges_mode: str = "bucketed",
    kernel: str = "dataframe",
    n_buckets: int | None = None,
) -> DataFrame:
    """Shared chain-contracted BFS/SSSP core (graph/chain_contract.py):
    relax over the contracted super-graph (rounds = CONTRACTED
    diameter, not turn-count diameter), then rehydrate interiors
    exactly. An interior source seeds its two chain endpoints with the
    in-chain prefix distances and overlays the direct in-chain path
    for its own chain members — so one contraction artifact serves ANY
    source (build once per graph, traverse many times)."""
    from essentials_spark.graph.chain_contract import chain_contraction, expand_distances

    spark = graph.edges.sparkSession
    if contraction is None:
        contraction = chain_contraction(graph.vertices, graph.edges)
    wcol = F.col("hops") if use_hops else F.col("weight")
    sedges = contraction.super_edges.select(
        "src", "dst", wcol.cast("double").alias("weight")
    )
    srow = contraction.interior.filter(F.col("vid") == int(source)).collect()
    s_chain = None
    if srow:
        r = srow[0]
        # seeds walk OUTWARD from the source toward each endpoint, so
        # the weighted prefixes are the outbound directional sums
        da = r["da_hops"] if use_hops else r["da_w_out"]
        db = r["db_hops"] if use_hops else r["db_w_out"]
        seed_rows = [(int(r["end_a"]), float(da)), (int(r["end_b"]), float(db))]
        s_chain = int(r["chain_id"])
        s_pos_h = int(r["pos_hops"])
        s_pos_in = float(r["pos_w_in"])
        s_pos_out = float(r["pos_w_out"])
    else:
        seed_rows = [(int(source), 0.0)]
    seeds = (
        spark.createDataFrame(seed_rows, "vid long, dist double")
        .groupBy("vid").agg(F.min("dist").alias("dist"))
    )
    term_dist = _relax_min(
        sedges, seeds, runner, edges_mode=edges_mode, name_hint="chain_relax",
        kernel=kernel, n_buckets=n_buckets,
    )
    full = expand_distances(contraction, term_dist, "dist", use_hops=use_hops)
    if s_chain is not None:
        # direct in-chain path source -> same-chain member: walking
        # away from the p endpoint sums inbound-prefix deltas, walking
        # toward p sums outbound-prefix deltas (asymmetric weights)
        if use_hops:
            direct_col = F.abs(F.col("pos_hops") - F.lit(s_pos_h)).cast("double")
        else:
            direct_col = F.when(
                F.col("pos_hops") >= F.lit(s_pos_h),
                F.col("pos_w_in") - F.lit(s_pos_in),
            ).otherwise(F.lit(s_pos_out) - F.col("pos_w_out"))
        direct = contraction.interior.filter(F.col("chain_id") == s_chain).select(
            "vid", direct_col.alias("direct")
        )
        full = full.join(direct, "vid", "full").select(
            "vid", F.least(F.col("dist"), F.col("direct")).alias("dist")
        )
    return full


def bfs(
    graph: Graph,
    source: int,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    chain_contract: bool = False,
    contraction=None,
    kernel: str = "dataframe",
    n_buckets: int | None = None,
) -> DataFrame:
    """Hop distances from ``source``; unreachable vertices omitted.

    Returns (vid: long, dist: int).

    ``chain_contract=True`` (or an explicit prebuilt ``contraction``)
    routes through degree-2 chain contraction: exact, and on chain-
    dominated graphs the superstep count drops from the hop diameter
    to the contracted diameter. Requires a symmetrized edge set.
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "bfs")
    if chain_contract or contraction is not None:
        out = _chain_traversal(
            graph, source, use_hops=True, runner=runner,
            contraction=contraction, edges_mode=edges_mode,
            kernel=kernel, n_buckets=n_buckets,
        ).select("vid", F.col("dist").cast("int").alias("dist"))
        return runner.finalize(out)
    if kernel == "csr":
        # plain BFS on the tropical CSR kernel: min-relax over unit
        # weights IS the hop distance
        seeds = spark.createDataFrame([(int(source), 0.0)], "vid long, dist double")
        dist = _relax_min(
            graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0)),
            seeds, runner, max_iter=max_iter, name_hint="bfs",
            kernel="csr", n_buckets=n_buckets,
        )
        return runner.finalize(dist.select("vid", F.col("dist").cast("int").alias("dist")))
    edges, m = prepare_static_edges(
        graph.edges.select("src", "dst"), runner, keys="src", mode=edges_mode, name_hint="bfs"
    )

    dist = truncate_plan(
        spark.createDataFrame([(int(source), 0)], "vid long, dist int")
    ).persist()
    frontier = dist.select("vid")
    depth = 0

    with runner.loop(work_rows=m):
        while depth < max_iter:
            nxt = (
                edges.join(frontier.withColumnRenamed("vid", "src"), "src")
                .select(F.col("dst").alias("vid"))
                .dropDuplicates(["vid"])  # uniquify (operators/uniquify)
                .join(dist.select("vid"), "vid", "left_anti")  # visited filter
            )
            depth += 1
            new = truncate_plan(nxt.withColumn("dist", F.lit(depth).cast("int")))
            n_new = new.count()
            runner.log(depth, frontier_size=n_new)
            if n_new == 0:
                break
            prev = dist
            # truncate_plan materializes: the union no longer depends on the
            # old cache — release it eagerly (see bc.py note)
            dist = truncate_plan(dist.unionByName(new)).persist()
            prev.unpersist()
            frontier = new.select("vid")

    return runner.finalize(dist)


def sssp(
    graph: Graph,
    source: int,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    chain_contract: bool = False,
    contraction=None,
    kernel: str = "dataframe",
    n_buckets: int | None = None,
) -> DataFrame:
    """Single-source shortest paths (non-negative weights), Bellman-Ford
    frontier relaxation. Returns (vid: long, dist: double); unreachable
    vertices omitted.

    ``chain_contract=True`` / ``contraction``: exact degree-2 chain
    contraction (super-edge weight = chain weight sum); requires a
    symmetrized edge set. See :func:`bfs`.
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "sssp")
    if chain_contract or contraction is not None:
        out = _chain_traversal(
            graph, source, use_hops=False, runner=runner,
            contraction=contraction, edges_mode=edges_mode,
            kernel=kernel, n_buckets=n_buckets,
        )
        return runner.finalize(out)
    seeds = spark.createDataFrame([(int(source), 0.0)], "vid long, dist double")
    dist = _relax_min(
        graph.edges, seeds, runner, edges_mode=edges_mode,
        max_iter=max_iter, name_hint="sssp", kernel=kernel, n_buckets=n_buckets,
    )
    return runner.finalize(dist)


def _default_sources(graph: Graph, n_sample: int) -> list[int]:
    return [
        r["vid"]
        for r in graph.vertices.select("vid").orderBy("vid").limit(n_sample).collect()
    ]


def _seeded_hop_distances(
    graph: Graph,
    sources: list[int],
    runner: SuperstepRunner,
    edges_mode: str,
    max_iter: int,
    name_hint: str = "seeded",
) -> DataFrame:
    """Multi-source BFS with the seed dimension folded into the state
    (ops/batch.py vectorized batching; reference bc.hxx:253-271): ONE
    frontier loop serves all sources; per superstep the frontier⋈edges
    advance + per-seed visited anti-join shuffle only frontier-scale
    rows against the bucketed static table.

    Returns the persisted (seed, vid, dist int) table of reached
    pairs (includes dist=0 self rows). Caller aggregates and owns
    ``runner.finalize()``.
    """
    spark = graph.edges.sparkSession
    edges, m = prepare_static_edges(
        graph.edges.select("src", "dst"), runner, keys="src", mode=edges_mode,
        name_hint=name_hint,
    )
    dist = truncate_plan(
        spark.createDataFrame([(int(s), int(s), 0) for s in sources], "seed long, vid long, dist int")
    ).persist()
    frontier = dist.select("seed", "vid")
    depth = 0

    with runner.loop(work_rows=m * max(1, len(sources))):
        while depth < max_iter:
            nxt = (
                edges.join(frontier.withColumnRenamed("vid", "src"), "src")
                .select("seed", F.col("dst").alias("vid"))
                .dropDuplicates(["seed", "vid"])
                .join(dist.select("seed", "vid"), ["seed", "vid"], "left_anti")
            )
            depth += 1
            new = truncate_plan(nxt.withColumn("dist", F.lit(depth).cast("int")))
            n_new = new.count()
            runner.log(depth, frontier_size=n_new)
            if n_new == 0:
                break
            prev = dist
            dist = truncate_plan(dist.unionByName(new)).persist()
            prev.unpersist()
            frontier = new.select("seed", "vid")
    return dist


def harmonic_centrality(
    graph: Graph,
    sources: list[int] | None = None,
    n_sample: int = 8,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Bounded multi-source harmonic centrality:
    harm(v) = Σ_s 1/d(s, v) over the source set (d > 0, reachable).

    The standard scale approximation (exact all-pairs is O(n·m)):
    a deterministic bounded source sample, the same convention as
    betweenness_centrality's ``n_sample``; the seeded BFS machinery
    is _seeded_hop_distances.

    Returns (vid: long, harm: double), vertices reached by >= 1 source.
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "harmonic")
    if sources is None:
        sources = _default_sources(graph, n_sample)
    dist = _seeded_hop_distances(graph, sources, runner, edges_mode, max_iter, name_hint="harm")
    out = (
        dist.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harm"))
    )
    return runner.finalize(out)


def closeness_centrality(
    graph: Graph,
    sources: list[int] | None = None,
    n_sample: int = 8,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Bounded multi-source closeness profile: for each vertex v,
    n_src = |{s : d(s,v) finite}| and sum_dist = Σ_s d(s,v) over the
    reachable source set (self included at d=0). The classic
    closeness c(v) = (n_src - 1) / sum_dist is a consumer-side
    division; the operator emits the INTEGER sufficient statistics so
    the gate is FP-free (unlike harmonic's 1/d sum).

    Same bounded-source convention and seeded-BFS machinery as
    harmonic_centrality (one frontier loop serves all sources).

    Returns (vid: long, n_src: long, sum_dist: long).
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "closeness")
    if sources is None:
        sources = _default_sources(graph, n_sample)
    dist = _seeded_hop_distances(graph, sources, runner, edges_mode, max_iter, name_hint="close")
    out = dist.groupBy("vid").agg(
        F.count("*").cast("long").alias("n_src"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )
    return runner.finalize(out)


def temporal_reachability(
    tedges: DataFrame,
    source: int,
    source_ts: int,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Earliest-arrival temporal reachability over time-stamped edges
    (src, dst, ets): a path is valid iff edge timestamps are
    non-decreasing, and arrival(v) is the minimum feasible arrival —
    standard temporal-graph semantics, here over transcript influence
    edges (io/transcripts.temporal_edges).

    SSSP-shaped label-correcting loop: relax ``arrival(dst) = min ets
    over edges with ets >= arrival(src)``. Arrival times only
    decrease and decreasing arrival(u) only ENLARGES its feasible
    edge set, so the fixpoint is exact (monotone). All values are
    integer microseconds — a fully FP-free operator, which is why its
    oracle hash is bit-exact by construction.

    Returns (vid: long, arrival_us: long) for reached vertices.
    """
    spark = tedges.sparkSession
    runner = runner or SuperstepRunner(spark, "temporal")
    edges, m = prepare_static_edges(
        tedges.select("src", "dst", "ets"), runner, keys="src", mode=edges_mode,
        name_hint="temporal",
    )
    arr = truncate_plan(
        spark.createDataFrame([(int(source), int(source_ts))], "vid long, arrival long")
    ).persist()
    frontier = arr
    it = 0

    with runner.loop(work_rows=m):
        while it < max_iter:
            msgs = (
                edges.join(
                    frontier.select(F.col("vid").alias("src"), "arrival"), "src"
                )
                .filter(F.col("ets") >= F.col("arrival"))
                .groupBy("dst")
                .agg(F.min("ets").alias("cand"))
                .withColumnRenamed("dst", "vid")
            )
            improved = (
                msgs.join(arr, "vid", "left")
                .filter(F.col("arrival").isNull() | (F.col("cand") < F.col("arrival")))
                .select("vid", F.col("cand").alias("arrival"))
            )
            improved = truncate_plan(improved)
            n_new = improved.count()
            it += 1
            runner.log(it, frontier_size=n_new)
            if n_new == 0:
                break
            prev = arr
            arr = truncate_plan(
                arr.join(improved.select("vid"), "vid", "left_anti").unionByName(improved)
            ).persist()
            prev.unpersist()
            frontier = improved

    return runner.finalize(arr.select("vid", F.col("arrival").alias("arrival_us")))


def _seeded_chain_distances(
    graph: Graph,
    sources: list[int],
    runner: SuperstepRunner,
    edges_mode: str,
    max_iter: int,
    contraction,
    caller: str,
) -> DataFrame:
    """Per-(seed, vid) hop distances through degree-2 chain
    contraction: one seeded relax over the contracted super-graph,
    then closed-form interior rehydration
    min(dist(end_a) + prefix_a, dist(end_b) + prefix_b). Distances
    are integer-valued doubles (exact below 2^53). Sources must be
    terminal (``keep``); returns the union table of reached pairs."""
    from essentials_spark.graph.chain_contract import chain_contraction

    spark = graph.edges.sparkSession
    seeds_df = spark.createDataFrame([(int(s),) for s in sources], "vid long")
    if contraction is None:
        contraction = chain_contraction(
            graph.vertices, graph.edges.select("src", "dst"), keep=seeds_df
        )
    elif contraction.interior.join(seeds_df, "vid", "left_semi").count():
        # a prebuilt artifact must have kept every source terminal —
        # this path has no interior-seed handling (unlike bfs/sssp)
        raise ValueError(f"{caller}: a source is a contracted interior; rebuild the contraction with keep=sources")
    sedges, m = prepare_static_edges(
        contraction.super_edges.select("src", "dst", F.col("hops").cast("double").alias("w")),
        runner, keys="src", mode=edges_mode, name_hint="harm_chain",
    )

    # seeded multi-source relax (same loop shape as contracted BC)
    dist = truncate_plan(
        seeds_df.select(F.col("vid").alias("seed"), "vid", F.lit(0.0).alias("dist"))
    ).persist()
    frontier = dist
    it = 0
    with runner.loop(work_rows=m * max(1, len(sources))):
        while it < max_iter:
            cand = (
                sedges.join(frontier.select("seed", F.col("vid").alias("src"), "dist"), "src")
                .groupBy("seed", F.col("dst").alias("vid"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
            )
            merged = truncate_plan(
                dist.join(cand, ["seed", "vid"], "full").select(
                    "seed", "vid",
                    F.least(F.col("dist"), F.col("cand")).alias("dist"),
                    (F.col("dist").isNull() | (F.col("cand") < F.col("dist"))).alias("improved"),
                )
            )
            improved = merged.filter(F.coalesce(F.col("improved"), F.lit(False)))
            n_imp = improved.count()
            it += 1
            runner.log(it, improved=n_imp)
            prev = dist
            dist = merged.select("seed", "vid", "dist").persist()
            prev.unpersist()
            frontier = improved.select("seed", "vid", "dist")
            if n_imp == 0:
                break

    d_a = dist.select("seed", F.col("vid").alias("end_a"), F.col("dist").alias("dist_a"))
    d_b = dist.select("seed", F.col("vid").alias("end_b"), F.col("dist").alias("dist_b"))
    interior_dist = (
        contraction.interior.crossJoin(seeds_df.select(F.col("vid").alias("seed")).distinct())
        .join(d_a, ["seed", "end_a"], "left")
        .join(d_b, ["seed", "end_b"], "left")
        .select(
            "seed", "vid",
            F.least(
                F.col("dist_a") + F.col("da_hops").cast("double"),
                F.col("dist_b") + F.col("db_hops").cast("double"),
            ).alias("dist"),
        )
        .filter(F.col("dist").isNotNull())
    )
    return dist.unionByName(interior_dist)


def harmonic_centrality_contracted(
    graph: Graph,
    sources: list[int] | None = None,
    n_sample: int = 8,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    contraction=None,
) -> DataFrame:
    """harmonic_centrality through degree-2 chain contraction — same
    (vid, harm) output, O(contracted diameter) supersteps
    (_seeded_chain_distances machinery; sources forced terminal)."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "harmonic_chain")
    if sources is None:
        sources = _default_sources(graph, n_sample)
    dist = _seeded_chain_distances(
        graph, sources, runner, edges_mode, max_iter, contraction,
        caller="harmonic_centrality_contracted",
    )
    out = (
        dist.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harm"))
    )
    return runner.finalize(out)


def closeness_centrality_contracted(
    graph: Graph,
    sources: list[int] | None = None,
    n_sample: int = 8,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    contraction=None,
) -> DataFrame:
    """closeness_centrality through degree-2 chain contraction — same
    (vid, n_src, sum_dist) integer output. Distances through the
    contracted relax are integer-valued doubles (hops), so their sum
    is exact and the final cast to long is lossless."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "closeness_chain")
    if sources is None:
        sources = _default_sources(graph, n_sample)
    dist = _seeded_chain_distances(
        graph, sources, runner, edges_mode, max_iter, contraction,
        caller="closeness_centrality_contracted",
    )
    out = dist.groupBy("vid").agg(
        F.count("*").cast("long").alias("n_src"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )
    return runner.finalize(out)
