"""PageRank — whole-graph advance superstep, reference semantics.

Reference: include/gunrock/algorithms/pr.hxx —
- iweights[u] = alpha / sum(out-weights(u)), 0 for dangling (:77-91);
- init p = 1/n (:73);
- per iteration (:106-153):
    plast <- p
    dsum   = alpha * sum(plast[v] for dangling v)      (:124-133)
    p      = fill((1 - alpha + dsum) / n)              (:134)
    p[dst] += plast[src] * iweights[src] * w  for every edge (:140-152)
- converged when iteration > 0 and max|p - plast| < tol (L-inf,
  :155-178); defaults alpha=0.85 tol=1e-6 (examples/algorithms/pr/
  pr.cu:55-56).

Spark plan per superstep: ONE shuffle aggregate (groupBy(dst) of
rank*coef messages over the pre-weighted edge table) + a broadcast-or-
shuffle join back onto the vertex state, with the L-inf error and the
NEXT iteration's dangling sum folded into a single driver collect.
Float64 throughout (the reference's float32 atomics admit reduction-
order variance; float64 + deterministic aggregation keeps us within
allclose 1e-6 of the formula).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import (
    adaptive_buckets,
    hint_state_join,
    observe_rows,
    prepare_static_edges,
)
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def weighted_pagerank_edges(graph: Graph, alpha: float = 0.85) -> DataFrame:
    """Static per-edge spread table (src, dst, coef=alpha*w/outw(src)).

    Build-phase preprocessing (≙ the reference computing iweights in
    pr.hxx:77-91 before enact()): pass the result — ideally persisted
    via ``engine.static_table.persist_bucketed(.., "src")`` — as
    ``static_edges_w`` to :func:`pagerank` so repeat runs (different
    tol/max_iter, restarts) never recompute or re-shuffle it."""
    edges = graph.edges
    outw = edges.groupBy("src").agg(F.sum("weight").alias("outw"))
    return edges.join(outw, "src").select(
        "src", "dst", (F.lit(alpha) * F.col("weight") / F.col("outw")).alias("coef")
    )


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 1000,
    runner: SuperstepRunner | None = None,
    kernel: str = "bucketed",
    n_buckets: int | None = None,
    fused_iters: int = 1,
    static_edges_w: DataFrame | None = None,
    persist_result: bool = True,
    init_ranks: DataFrame | None = None,
    edge_rows: int | None = None,
) -> DataFrame:
    """Returns (vid: long, rank: double).

    kernel='bucketed' (default): edge table persisted as a src-bucketed
    table so the static side never re-shuffles across supersteps — only
    the vertex state moves per iteration (the cluster configuration at
    10^12 edges; see engine/static_table.py).
    kernel='dataframe': rank spread as join + groupBy (plain path, A/B
    correctness oracle). kernel='csr': spread as vectorized NumPy SpMV
    over packed per-bucket CSR blocks (graph/csr_blocks.py) — the
    vectorized path required by the north rule.
    ``fused_iters``: the convergence-check cadence — every superstep
    runs and is logged, but ``tol`` is tested only every
    ``fused_iters``-th superstep (and at ``max_iter``), so the
    iteration count is a multiple of it unless ``max_iter`` ends first.
    ``edge_rows``: the known row count of ``static_edges_w``.
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "pagerank")

    verts = graph.vertices.select("vid")
    edges = graph.edges

    if static_edges_w is not None:
        # caller prepared (and owns) the weighted spread table — e.g.
        # one persist_bucketed shared across repeat runs
        edges_w = static_edges_w
        m = edges_w.count() if edge_rows is None else edge_rows
    else:
        # per-edge spread coefficient iweights[src]*w; truncate the
        # derivation lineage (and reset carried stats — see
        # engine/superstep.truncate_plan): every superstep replans this
        # subtree otherwise. The truncation counts the rows.
        edges_w, obs = observe_rows(weighted_pagerank_edges(graph, alpha).repartition("src"))
        edges_w = truncate_plan(edges_w)
        m = obs.get["rows"]

    blocks = None
    if kernel == "csr":
        from essentials_spark.graph.csr_blocks import build_csr_blocks, spmv_push

        n_buckets = n_buckets or spark.sparkContext.defaultParallelism
        blocks, _ = prepare_static_edges(
            build_csr_blocks(edges_w, n_buckets), runner, keys="bucket",
            n_buckets=n_buckets, name_hint="pr_blocks",
        )
    elif kernel == "bucketed" and static_edges_w is None:
        edges_w, _ = prepare_static_edges(
            edges_w, runner, keys="src",
            n_buckets=n_buckets or adaptive_buckets(spark, m), name_hint="pr",
        )

    # vertex state: rank + dangling flag (no out-edges)
    state = (
        verts.join(edges.select("src").distinct().withColumnRenamed("src", "vid").withColumn("_h", F.lit(1)), "vid", "left")
        .select("vid", F.col("_h").isNull().alias("dangling"))
    )

    n = verts.count()
    init_rank = 1.0 / n
    if init_ranks is not None:
        # warm start (incremental maintenance): ANY init converges to
        # the same fixpoint — the iteration is a contraction with
        # factor alpha and its restart term pulls sum(rank) -> 1
        # geometrically (sum' - 1 = alpha * (sum - 1)) — so warm
        # starting changes ITERATION COUNT, never the answer. Vertices
        # unseen by the previous solve start at the uniform prior.
        ranks = (
            state.join(init_ranks.select("vid", F.col("rank").alias("_r0")), "vid", "left")
            .select(
                "vid", "dangling", F.coalesce(F.col("_r0"), F.lit(init_rank)).alias("rank")
            )
        )
    else:
        ranks = state.withColumn("rank", F.lit(init_rank))

    if runner.fingerprint is None:
        warm = ":warm" if init_ranks is not None else ""
        runner.fingerprint = f"pagerank:n={n}:m={m}:alpha={alpha}:tol={tol}{warm}"
    resumed = runner.latest()
    iteration = 0
    converged = False
    if resumed is not None:
        iteration, ranks, meta = resumed
        converged = bool(meta.get("converged"))
    ranks = ranks.persist()

    def spread(cur, dsum: float):
        """One superstep (pr.hxx:134-152): ONE shuffle aggregate of
        rank*coef messages joined back onto the state. The dangling sum
        enters as a LITERAL collected with the previous superstep's
        error check — an in-plan 1-row aggregate would cost a serial
        broadcast job per superstep (profiled round 7: 29 broadcast
        jobs, 7.8 of 8.7 s at sf0.1)."""
        if kernel == "csr":
            msgs = spmv_push(blocks, cur.select("vid", "rank"), n_buckets)
        else:
            # adaptive state-join hint (engine/static_table.py): the
            # rank state is vertex-scale FOREVER (never shrinks like a
            # frontier) — broadcast only below the known-safe row
            # count; above it shuffle_hash moves only the state into
            # the bucketed edge layout with no edge-side sort (an
            # unhinted run OOMed at 3.3M vertices on a mis-estimated
            # broadcast).
            msgs = (
                edges_w.join(hint_state_join(cur.select(F.col("vid").alias("src"), "rank"), n), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("coef")).alias("contrib"))
            )
        # the reference's arithmetic, evaluated driver-side:
        # base = (1 - alpha + dsum) / n
        base = (1.0 - alpha + dsum) / float(n)
        return cur.select("vid", "dangling", F.col("rank").alias("plast")).join(
            msgs.withColumnRenamed("dst", "vid"), "vid", "left"
        ).select(
            "vid",
            "dangling",
            (F.lit(base) + F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
            "plast",
        )

    # dsum = alpha * sum(rank over dangling vertices) (pr.hxx:124-133)
    dangling_mass = (
        F.lit(alpha) * F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(F.lit(0.0)))
    ).alias("d")
    # one superstep per loop turn, as the reference enactor: one action
    # and ONE driver collect returning the L-inf error AND the next
    # superstep's dangling sum. ``fused_iters`` is the convergence-check
    # cadence: err < tol is acted on every fused_iters-th superstep (and
    # at max_iter).
    check_every = max(1, fused_iters)
    with runner.loop(work_rows=m):
        if not converged and iteration < max_iter:
            dsum = float(ranks.agg(dangling_mass).collect()[0]["d"] or 0.0)
        while not converged and iteration < max_iter:
            new_ranks = runner.materialize(spread(ranks, dsum), iteration + 1)
            row = new_ranks.agg(
                F.max(F.abs(F.col("rank") - F.col("plast"))).alias("err"), dangling_mass
            ).collect()[0]
            err, dsum = row["err"], float(row["d"] or 0.0)
            iteration += 1
            runner.log(iteration, linf_err=err, edges_processed=m)
            ranks.unpersist()
            ranks = new_ranks.drop("plast").persist()
            if (
                (iteration % check_every == 0 or iteration >= max_iter)
                and err is not None
                and err < tol
            ):
                # durable final write: a resumed run must return THIS
                # state, not run an extra superstep past convergence
                prev = ranks
                ranks = runner.materialize(
                    ranks, iteration, eager=True, force=True, meta={"converged": True}
                ).persist()
                prev.unpersist()  # superseded by the eager checkpoint
                converged = True

    runner.log(iteration, converged=True, total_edges_processed=m * iteration)
    out = runner.finalize(ranks.select("vid", "rank"))
    if not persist_result:
        # data stays in the checkpoint blocks (ContextCleaner-reaped
        # once the caller drops the DataFrame); only the CacheManager
        # pin is released — see algos/cc.py
        ranks.unpersist()
    return out


def incremental_weighted_edges(
    prev_w: DataFrame,
    prev_outw: DataFrame,
    new_edges: DataFrame,
    alpha: float = 0.85,
) -> tuple[DataFrame, DataFrame]:
    """Maintain the static spread table under edge insertions —
    batch-local work, no full rebuild.

    ``prev_w``: the current (src, dst, coef) table (what
    :func:`weighted_pagerank_edges` built). ``prev_outw``: the
    companion (src, outw) out-weight table (``outweights``).
    ``new_edges``: a batch of NEW (src, dst, weight) rows. Returns
    (w', outw') equal (to float rounding) to rebuilding both from the
    union edge set.

    coef = alpha * w / outw(src) depends on the edge's own weight and
    its SOURCE's total out-weight only, so a batch invalidates exactly
    the rows of sources it touches: those rescale by
    outw_old/outw_new (coef_old * outw_old/outw_new =
    alpha*w/outw_new), every other row passes through untouched, and
    the batch's own rows enter at alpha*w/outw_new. The factor table
    is batch-source-scale — broadcast — so the maintenance costs one
    scan of prev_w plus batch-scale work; nothing m-scale shuffles.
    (At 10^12 edges the union output should be re-persisted bucketed
    by src every O(1/batch-fraction) batches — unions accumulate scan
    fragments, not shuffles; see engine/static_table.py.)

    Reference anchor: pr.hxx:77-91 computes iweights once at build
    time; this is that build step made restartable per micro-batch."""
    douts = new_edges.groupBy("src").agg(F.sum("weight").alias("_dout"))
    # batch-source-scale: outw_old (0 for brand-new sources) + delta
    factors = (
        douts.join(prev_outw, "src", "left")
        .select(
            "src",
            F.coalesce(F.col("outw"), F.lit(0.0)).alias("_ow_old"),
            (F.coalesce(F.col("outw"), F.lit(0.0)) + F.col("_dout")).alias("_ow_new"),
        )
    )
    outw_new = (
        prev_outw.join(factors.select("src", "_ow_new"), "src", "left")
        .select("src", F.coalesce(F.col("_ow_new"), F.col("outw")).alias("outw"))
        .unionByName(
            factors.join(prev_outw, "src", "left_anti").select(
                "src", F.col("_ow_new").alias("outw")
            )
        )
    )
    rescaled = (
        prev_w.join(F.broadcast(factors), "src", "left")
        .select(
            "src", "dst",
            F.when(
                F.col("_ow_new").isNotNull(),
                F.col("coef") * F.col("_ow_old") / F.col("_ow_new"),
            ).otherwise(F.col("coef")).alias("coef"),
        )
    )
    fresh = (
        new_edges.join(F.broadcast(factors.select("src", "_ow_new")), "src")
        .select(
            "src", "dst",
            (F.lit(alpha) * F.col("weight") / F.col("_ow_new")).alias("coef"),
        )
    )
    return rescaled.unionByName(fresh), outw_new


def outweights(graph: Graph) -> DataFrame:
    """(src, outw) companion table for :func:`incremental_weighted_edges`."""
    return graph.edges.groupBy("src").agg(F.sum("weight").alias("outw"))


def incremental_pagerank_update(
    graph: Graph,
    prev_ranks: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    **kw,
) -> DataFrame:
    """Exact incremental PageRank maintenance (streaming micro-batch
    shape, the PR companion to cc.incremental_cc_update).

    ``graph``: the union graph after applying the batch (PageRank is a
    GLOBAL fixpoint — unlike CC/TC/MSF there is no edge-local merge
    algebra, so each update re-solves, but from the previous fixpoint
    instead of the uniform prior). ``prev_ranks``: the ranks before
    the batch (vid, rank); new vertices warm-start at the uniform
    prior. Returns exactly what ``pagerank(graph, ...)`` returns — the
    fixpoint is init-independent (see the warm-start note in
    :func:`pagerank`) — in

        ceil(log(||p_prev - p*|| / tol) / log(1/alpha))

    supersteps instead of the cold count: iterations scale with how
    much the batch MOVED the fixpoint, not with history size. Pair
    with :func:`incremental_weighted_edges` (pass the maintained table
    as ``static_edges_w``) so the build phase is batch-local too.

    Reference anchor: pr.hxx:106-153 — the same enact loop, entered
    with plast = the previous solution."""
    return pagerank(graph, alpha=alpha, tol=tol, init_ranks=prev_ranks, **kw)
