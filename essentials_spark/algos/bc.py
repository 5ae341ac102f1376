"""Betweenness centrality — Brandes forward/backward supersteps.

Reference: include/gunrock/algorithms/bc.hxx:104-213 — forward BFS
advances keeping per-depth frontiers and shortest-path counts (sigma),
then a backward pass accumulates dependencies
delta(v) = sum over successors w of sigma_v/sigma_w * (1 + delta_w),
with the returned bc_values accumulating **0.5 x** each update
(bc.hxx:168 'scaled output' — the undirected each-pair-once
convention); multi-source via the batch operator (bc.hxx:253-271).

Spark shape: the source/batch dimension is folded into the state
DataFrame as a ``seed`` column (vectorized batching, SURVEY §2.1), so
one pair of forward/backward loops serves all sources. State is kept
as PER-DEPTH LEVEL TABLES (the reference's per-depth frontier
retention, bc.hxx:104-213), never one rewritten (seed x vid) union:

- forward level d+1 = advance(level d) minus already-seen, where on a
  SYMMETRIC edge set "already-seen" only needs levels d and d-1 (an
  undirected BFS neighbor of a depth-d vertex has depth in
  {d-1, d, d+1}), so every round is LEVEL-scale;
- backward dependency at level d-1 reads only levels d and d-1 (in a
  BFS DAG, successor edges connect consecutive depths); each finalized
  per-level delta table is appended, and the levels union only once at
  finalize.

Total cost is O(sum of level sizes) = O(n_reached x seeds) plus one
edge-stream per level — the per-level full-state rewrite (measured
881 s / 4 sources at 3.58M edges) is gone. The edge table is persisted
bucketed (forward joins on src; for symmetric graphs the backward pass
reuses the same table, halving static-table prep). Sources must be
explicit or sampled (``n_sample``): collecting every vertex id to the
driver and cross-producting it through the state is a scale-killer at
web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def betweenness_centrality(
    graph: Graph,
    sources: list[int] | None = None,
    max_iter: int = 10_000,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    n_sample: int = 32,
    symmetric: bool = True,
) -> DataFrame:
    """Returns (vid: long, bc: double) — reference-scaled (0.5x per
    dependency update), summed over the given sources.

    ``sources=None`` uses the ``n_sample`` smallest vertex ids
    (deterministic, bounded — a capped approximation, standard for BC
    at scale; pass explicit sources for exact multi-source runs).

    ``symmetric=True`` (the default; every engine caller passes a
    symmetrized graph, and the 0.5x undirected pair convention assumes
    one) enables the level-scale visited check and reuses the forward
    bucketed table for the backward pass. Pass False for a directed
    edge set: the visited anti-join then runs against the union of all
    prior levels and the transposed table is built separately."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "bc")
    e = graph.edges.select("src", "dst")
    edges, m = prepare_static_edges(e, runner, keys="src", mode=edges_mode, name_hint="bc_fwd")
    edges_rev = edges
    if not symmetric:
        edges_rev, _ = prepare_static_edges(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            runner, keys="src", mode=edges_mode, name_hint="bc_rev",
        )

    if sources is None:
        # bounded deterministic sample — never a full-vertex collect
        sources = [r["vid"] for r in graph.vertices.select("vid").orderBy("vid").limit(n_sample).collect()]
    seeds = spark.createDataFrame([(int(s),) for s in sources], "seed long")

    # ---- forward: multi-source BFS, one persisted table per depth ----
    levels: list[DataFrame] = [
        truncate_plan(
            seeds.select("seed", F.col("seed").alias("vid"), F.lit(1.0).alias("sigma"))
        ).persist()
    ]
    depth = 0
    # one scope for the forward loop, the delta init and the backward
    # loop: the delta init between them is loop-scale work too
    with runner.loop(work_rows=m * max(1, len(sources))):
        while depth < max_iter:
            frontier = levels[depth]
            msgs = (
                edges.join(frontier.select(F.col("vid").alias("src"), "seed", "sigma"), "src")
                .groupBy("seed", F.col("dst").alias("vid"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            if symmetric:
                # undirected: a neighbor of depth d sits at depth d-1, d,
                # or d+1 — the anti-join needs only the last two levels
                visited = levels[depth].select("seed", "vid")
                if depth > 0:
                    visited = visited.unionByName(levels[depth - 1].select("seed", "vid"))
            else:
                visited = levels[0].select("seed", "vid")
                for lv in levels[1:]:
                    visited = visited.unionByName(lv.select("seed", "vid"))
            new = truncate_plan(msgs.join(visited, ["seed", "vid"], "left_anti")).persist()
            n_new = new.count()
            runner.log(depth + 1, discovered=n_new)
            if n_new == 0:
                new.unpersist()
                break
            levels.append(new)
            depth += 1

        max_depth = len(levels) - 1

        # ---- backward: per-level dependency accumulation, deepest first.
        # Each finalized (seed, vid, delta) level appends to the output
        # list; a backward round touches ONLY levels d and d-1.
        delta = truncate_plan(levels[max_depth].withColumn("delta", F.lit(0.0))).persist()
        finalized: list[DataFrame] = []
        for d in range(max_depth, 0, -1):
            succ = delta.select(
                "seed", F.col("vid").alias("src"), F.col("sigma").alias("wsigma"), F.col("delta").alias("wdelta")
            )
            # walk predecessors on the transposed table (join keyed on its
            # bucketed src = the successor endpoint); predecessors of a
            # depth-d vertex are exactly the depth-(d-1) rows
            contrib = (
                edges_rev.join(succ, "src")
                .join(
                    levels[d - 1].select("seed", F.col("vid").alias("dst"), F.col("sigma").alias("vsigma")),
                    ["seed", "dst"],
                )
                .groupBy("seed", F.col("dst").alias("vid"))
                .agg(F.sum((F.col("vsigma") / F.col("wsigma")) * (1.0 + F.col("wdelta"))).alias("dd"))
            )
            finalized.append(delta.select("seed", "vid", "delta"))
            prev_delta = delta
            delta = truncate_plan(
                levels[d - 1].join(contrib, ["seed", "vid"], "left").select(
                    "seed", "vid", "sigma", F.coalesce(F.col("dd"), F.lit(0.0)).alias("delta")
                )
            ).persist()
            # level d's sigma table is consumed (the finalized delta is
            # eagerly localCheckpoint-materialized, so it no longer reads
            # from the level cache) — release it now, not at GC time
            levels[d].unpersist()
            # same for the consumed delta's DataFrame-level cache: its
            # rows live in the localCheckpoint blocks that `finalized`
            # reads from, so the persist on top is a redundant duplicate
            # pinning O(seed x level) memory per depth — drop it eagerly
            prev_delta.unpersist()
    finalized.append(delta.select("seed", "vid", "delta"))
    levels[0].unpersist()

    all_deltas = finalized[0]
    for df in finalized[1:]:
        all_deltas = all_deltas.unionByName(df)
    out = (
        all_deltas.filter(F.col("vid") != F.col("seed"))
        .groupBy("vid")
        .agg((F.lit(0.5) * F.sum("delta")).alias("bc"))
        .join(graph.vertices.select("vid"), "vid", "right")
        .select("vid", F.coalesce(F.col("bc"), F.lit(0.0)).alias("bc"))
    )
    return runner.finalize(out)


def betweenness_centrality_contracted(
    graph: Graph,
    sources: list[int],
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    max_iter: int = 10_000,
) -> DataFrame:
    """EXACT Brandes BC through degree-2 chain contraction — the same
    (vid, bc) output as :func:`betweenness_centrality`, computed in
    O(contracted diameter) supersteps instead of O(hop diameter).

    Sources are forced terminal (``keep``); everything else follows
    from two facts about degree-2 chains:

    - **sigma**: any shortest path crosses a chain whole, so the
      contracted multigraph (one edge per chain, parallel chains kept
      distinct) has exactly the original path counts between
      terminals;
    - **delta**: a chain's interior dependency decomposes into
      (a) through-flow — the Brandes edge term sigma(A)/sigma(B) *
      (1 + delta(B)) for a chain whose full traversal lies on a
      shortest-path DAG edge, shared verbatim by every member; and
      (b) in-chain targets — where every strict-side target
      contributes exactly 1 (sigma(v_j) == sigma(entry endpoint)) and
      the at-most-one tie position contributes the sigma share. Both
      are CLOSED-FORM in (position, n_left, n_right, tie), no
      per-position iteration. Terminal deltas gain the same in-chain
      target mass as injections X(A) = n_left + tie_share before their
      predecessors consume them.

    Phases (all seed-vectorized): weighted multi-source relax for
    dist; sigma by in-ready DAG assignment iteration; delta by
    out-ready reverse iteration with injections; closed-form interior
    rehydration. Every round touches contracted-scale rows only.
    Reference anchor: bc.hxx:104-213 (per-depth retention), scaled
    0.5x as there (bc.hxx:168).
    """
    from essentials_spark.graph.chain_contract import chain_contraction

    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "bc_chain")
    seeds_df = spark.createDataFrame([(int(s),) for s in sources], "vid long")
    ctr = chain_contraction(
        graph.vertices, graph.edges.select("src", "dst"), keep=seeds_df
    )
    sedges, m = prepare_static_edges(
        ctr.super_edges.select("src", "dst", F.col("hops").cast("double").alias("w"), "chain_id"),
        runner, keys="src", mode=edges_mode, name_hint="bcc_edges",
    )

    # one loop scope for all three chained fixpoint loops (the
    # inter-loop DAG builds are loop-scale too)
    with runner.loop(work_rows=m * max(1, len(sources))):
        # ---- phase 1: seeded multi-source weighted relax (dist) ----
        dist = truncate_plan(
            seeds_df.select(F.col("vid").alias("seed"), "vid", F.lit(0.0).alias("dist"))
        ).persist()
        frontier = dist
        it = 0
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
            runner.log(it, improved=n_imp, phase="dist")
            prev = dist
            dist = merged.select("seed", "vid", "dist").persist()
            prev.unpersist()
            frontier = improved.select("seed", "vid", "dist")
            if n_imp == 0:
                break

        # ---- shortest-path DAG edges per seed (multigraph: one row per
        # chain direction / passthrough edge) ----
        dag = truncate_plan(
            sedges.join(dist.select("seed", F.col("vid").alias("src"), F.col("dist").alias("du")), "src")
            .join(dist.select("seed", F.col("vid").alias("dst"), F.col("dist").alias("dw")), ["seed", "dst"])
            .filter(F.col("du") + F.col("w") == F.col("dw"))
            .select("seed", F.col("src").alias("u"), F.col("dst").alias("wv"))
        ).persist()
        in_need = dag.groupBy("seed", F.col("wv").alias("vid")).agg(F.count(F.lit(1)).alias("needed"))
        out_need = truncate_plan(
            dag.groupBy("seed", F.col("u").alias("vid")).agg(F.count(F.lit(1)).alias("out_needed"))
        ).persist()

        # ---- phase 2: sigma by in-ready assignment iteration ----
        sigma = truncate_plan(
            seeds_df.select(F.col("vid").alias("seed"), "vid", F.lit(1.0).alias("sigma"))
        ).persist()
        it = 0
        while it < max_iter:
            got = (
                dag.join(sigma.select("seed", F.col("vid").alias("u"), "sigma"), ["seed", "u"])
                .join(sigma.select("seed", F.col("vid").alias("wv")), ["seed", "wv"], "left_anti")
            )
            ready = (
                got.groupBy("seed", "wv").agg(F.count(F.lit(1)).alias("have"), F.sum("sigma").alias("sig"))
                .join(in_need.select("seed", F.col("vid").alias("wv"), "needed"), ["seed", "wv"])
                .filter(F.col("have") == F.col("needed"))
                .select("seed", F.col("wv").alias("vid"), F.col("sig").alias("sigma"))
            )
            ready = truncate_plan(ready)
            n_new = ready.count()
            it += 1
            runner.log(it, assigned=n_new, phase="sigma")
            if n_new == 0:
                break
            prev = sigma
            sigma = truncate_plan(sigma.unionByName(ready)).persist()
            prev.unpersist()

        # ---- per-chain, per-seed geometry: n_left / n_right / tie ----
        # chains: (p, q, hops, head_p, head_q); k = hops - 1 interiors
        ch = ctr.chains.select("p", "q", "hops", "head_p")
        cs = (
            ch.crossJoin(seeds_df.select(F.col("vid").alias("seed")).distinct())
            .join(dist.select("seed", F.col("vid").alias("p"), F.col("dist").alias("dp")), ["seed", "p"], "left")
            .join(dist.select("seed", F.col("vid").alias("q"), F.col("dist").alias("dq")), ["seed", "q"], "left")
            .join(sigma.select("seed", F.col("vid").alias("p"), F.col("sigma").alias("sp")), ["seed", "p"], "left")
            .join(sigma.select("seed", F.col("vid").alias("q"), F.col("sigma").alias("sq")), ["seed", "q"], "left")
            .filter(F.col("dp").isNotNull() | F.col("dq").isNotNull())
        )
        k = (F.col("hops") - 1).cast("double")
        both = F.col("dp").isNotNull() & F.col("dq").isNotNull()
        d_diff = F.col("dq") - F.col("dp")  # D = dist(q) - dist(p)
        n_left = F.when(
            ~F.col("dq").isNotNull(), k
        ).when(~F.col("dp").isNotNull(), F.lit(0.0)).otherwise(
            F.greatest(F.lit(0.0), F.least(k, F.floor((d_diff + k) / 2).cast("double")))
        )
        n_right = F.when(
            ~F.col("dp").isNotNull(), k
        ).when(~F.col("dq").isNotNull(), F.lit(0.0)).otherwise(
            F.greatest(F.lit(0.0), F.least(k, F.floor((-d_diff + k) / 2).cast("double")))
        )
        tie = both & (n_left + n_right == k - 1)
        share_p = F.col("sp") / (F.col("sp") + F.col("sq"))
        share_q = F.col("sq") / (F.col("sp") + F.col("sq"))
        cs = truncate_plan(
            cs.withColumns(
                {
                    "k": k,
                    "n_left": n_left,
                    "n_right": n_right,
                    "tie": tie,
                    "x_p": F.when(F.col("dp").isNotNull(), n_left + F.when(tie, share_p).otherwise(0.0)),
                    "x_q": F.when(F.col("dq").isNotNull(), n_right + F.when(tie, share_q).otherwise(0.0)),
                }
            )
        ).persist()
        inject = (
            cs.filter(F.col("x_p").isNotNull()).select("seed", F.col("p").alias("vid"), F.col("x_p").alias("x"))
            .unionByName(
                cs.filter(F.col("x_q").isNotNull()).select("seed", F.col("q").alias("vid"), F.col("x_q").alias("x"))
            )
            .groupBy("seed", "vid")
            .agg(F.sum("x").alias("x"))
        )
        inject = truncate_plan(inject).persist()

        # ---- phase 3: delta by out-ready reverse iteration + injections ----
        reached = dist.select("seed", "vid")
        xof = F.coalesce(F.col("x"), F.lit(0.0))
        sinks = (
            reached.join(out_need, ["seed", "vid"], "left")
            .filter(F.col("out_needed").isNull())
            .join(inject, ["seed", "vid"], "left")
            .select("seed", "vid", xof.alias("delta"))
        )
        delta = truncate_plan(sinks).persist()
        it = 0
        while it < max_iter:
            got = (
                dag.join(delta.select("seed", F.col("vid").alias("wv"), "delta"), ["seed", "wv"])
                .join(sigma.select("seed", F.col("vid").alias("wv"), F.col("sigma").alias("sw")), ["seed", "wv"])
                .join(delta.select("seed", F.col("vid").alias("u")), ["seed", "u"], "left_anti")
            )
            ready = (
                got.groupBy("seed", "u")
                .agg(F.count(F.lit(1)).alias("have"), F.sum((1.0 + F.col("delta")) / F.col("sw")).alias("acc"))
                .join(out_need.select("seed", F.col("vid").alias("u"), "out_needed"), ["seed", "u"])
                .filter(F.col("have") == F.col("out_needed"))
            )
            ready = (
                ready.join(sigma.select("seed", F.col("vid").alias("u"), F.col("sigma").alias("su")), ["seed", "u"])
                .join(inject.select("seed", F.col("vid").alias("u"), "x"), ["seed", "u"], "left")
                .select("seed", F.col("u").alias("vid"), (F.col("su") * F.col("acc") + xof).alias("delta"))
            )
            ready = truncate_plan(ready)
            n_new = ready.count()
            it += 1
            runner.log(it, assigned=n_new, phase="delta")
            if n_new == 0:
                break
            prev = delta
            delta = truncate_plan(delta.unionByName(ready)).persist()
            prev.unpersist()

    # ---- phase 4: closed-form interior deltas ----
    flows = (
        cs.join(sigma.select("seed", F.col("vid").alias("p"), F.col("sigma").alias("sp2")), ["seed", "p"], "left")
        .join(sigma.select("seed", F.col("vid").alias("q"), F.col("sigma").alias("sq2")), ["seed", "q"], "left")
        .join(delta.select("seed", F.col("vid").alias("p"), F.col("delta").alias("del_p")), ["seed", "p"], "left")
        .join(delta.select("seed", F.col("vid").alias("q"), F.col("delta").alias("del_q")), ["seed", "q"], "left")
        .withColumns(
            {
                "flow_pq": F.when(
                    F.col("dp").isNotNull() & F.col("dq").isNotNull()
                    & (F.col("dp") + F.col("hops").cast("double") == F.col("dq")),
                    (F.col("sp2") / F.col("sq2")) * (1.0 + F.col("del_q")),
                ).otherwise(0.0),
                "flow_qp": F.when(
                    F.col("dp").isNotNull() & F.col("dq").isNotNull()
                    & (F.col("dq") + F.col("hops").cast("double") == F.col("dp")),
                    (F.col("sq2") / F.col("sp2")) * (1.0 + F.col("del_p")),
                ).otherwise(0.0),
                "share_p2": F.when(
                    F.col("sp2").isNotNull() & F.col("sq2").isNotNull(),
                    F.col("sp2") / (F.col("sp2") + F.col("sq2")),
                ),
                "share_q2": F.when(
                    F.col("sp2").isNotNull() & F.col("sq2").isNotNull(),
                    F.col("sq2") / (F.col("sp2") + F.col("sq2")),
                ),
            }
        )
        .select("seed", "head_p", "n_left", "n_right", "tie", "k",
                "flow_pq", "flow_qp", "share_p2", "share_q2")
    )
    jpos = F.col("pos_hops").cast("double")
    jstar = F.col("n_left") + 1.0
    interior_delta = (
        ctr.interior.select("vid", F.col("chain_id").alias("head_p"), "pos_hops")
        .join(flows, "head_p")
        .select(
            "seed",
            "vid",
            (
                F.col("flow_pq") + F.col("flow_qp")
                + F.greatest(F.lit(0.0), F.col("n_left") - jpos)
                + F.when(F.col("tie") & (jpos < jstar), F.coalesce(F.col("share_p2"), F.lit(0.0))).otherwise(0.0)
                + F.greatest(F.lit(0.0), jpos + F.col("n_right") - F.col("k") - 1.0)
                + F.when(F.col("tie") & (jpos > jstar), F.coalesce(F.col("share_q2"), F.lit(0.0))).otherwise(0.0)
            ).alias("delta"),
        )
    )

    all_delta = delta.filter(F.col("vid") != F.col("seed")).select("seed", "vid", "delta").unionByName(
        interior_delta
    )
    out = (
        all_delta.groupBy("vid")
        .agg((F.lit(0.5) * F.sum("delta")).alias("bc"))
        .join(graph.vertices.select("vid"), "vid", "right")
        .select("vid", F.coalesce(F.col("bc"), F.lit(0.0)).alias("bc"))
    )
    return runner.finalize(out)
