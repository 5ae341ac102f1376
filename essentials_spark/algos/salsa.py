"""SALSA — Stochastic Approach for Link-Structure Analysis.

The degree-normalized sibling of HITS (Lempel & Moran 2001, public
literature): authority/hub scores are the stationary distributions of
a two-step random walk on the bipartite hub/authority view, i.e. HITS
with each contribution divided by the emitting side's degree:

    auth(v) = Σ_{(u,v)} hub(u)  / outdeg(u)
    hub(u)  = Σ_{(u,v)} auth(v) / indeg(v)

with L1 normalization per round (the scores are probability
distributions, unlike HITS' L2-normalized eigenvectors). The reference
ships HITS only (include/gunrock/algorithms/hits.hxx:244-282); SALSA
reuses its exact plan shape — the per-edge 1/deg coefficients are
STATIC, so both orientations persist as bucketed weighted tables and
each round is two coefficient-weighted scatter-aggregates with
map-side partials, state-only shuffles (the same CSR+CSC dual-view
discipline, graph/{csr,csc}.hxx).

The 1/deg coefficients are precomputed reciprocals and contributions
are ``score * w`` (not ``score / deg``) — the oracle SQL mirrors this
operation order so both engines round the same doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import hint_state_join, prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def salsa(
    graph: Graph,
    max_iter: int = 20,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    include_ranks: bool = False,
) -> DataFrame:
    """Returns (vid, auth, hub) — plus (auth_rank, hub_rank) when
    ``include_ranks``. Ranks use row_number over UNPARTITIONED windows
    (a single-task n-scale sort funnel), so they are opt-in: a consumer
    that only needs scores or a top-k should sort/limit instead."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "salsa")
    e = graph.edges.select("src", "dst")
    outdeg = e.groupBy("src").agg((F.lit(1.0) / F.count("*")).alias("w_out"))
    indeg = e.groupBy("dst").agg((F.lit(1.0) / F.count("*")).alias("w_in"))
    # fwd: (src=u, dst=v, w=1/outdeg(u)) — hub pushes to authorities;
    # rev: (src=v, dst=u, w=1/indeg(v)) — auth pushes back to hubs.
    # Coefficients are static, so they bake into the bucketed tables
    # and rounds shuffle ONLY vertex state.
    fwd, m = prepare_static_edges(
        e.join(outdeg, "src").select("src", "dst", "w_out"),
        runner, keys="src", mode=edges_mode, name_hint="salsa_fwd",
    )
    rev, _ = prepare_static_edges(
        e.join(indeg, "dst").select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w_in"
        ),
        runner, keys="src", mode=edges_mode, name_hint="salsa_rev",
    )
    state = truncate_plan(
        graph.vertices.select("vid", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub"))
    ).persist()
    n = state.count()

    with runner.loop(work_rows=m):
        for it in range(1, max_iter + 1):
            auth = (
                fwd.join(hint_state_join(state.select(F.col("vid").alias("src"), "hub"), n), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("hub") * F.col("w_out")).alias("auth_raw"))
                .withColumnRenamed("dst", "vid")
            )
            s1 = state.select("vid", "hub").join(auth, "vid", "left").select(
                "vid", F.coalesce(F.col("auth_raw"), F.lit(0.0)).alias("auth_raw"), "hub"
            ).persist()
            hub = (
                rev.join(hint_state_join(s1.select(F.col("vid").alias("src"), "auth_raw"), n), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("auth_raw") * F.col("w_in")).alias("hub_raw"))
                .withColumnRenamed("dst", "vid")
            )
            s2 = s1.join(hub, "vid", "left").select(
                "vid", "auth_raw", F.coalesce(F.col("hub_raw"), F.lit(0.0)).alias("hub_raw")
            ).persist()
            # L1 norms (probability-distribution semantics; raw scores are
            # non-negative so no abs needed)
            norms = s2.agg(
                F.sum("auth_raw").alias("na"), F.sum("hub_raw").alias("nh")
            )
            new_state = s2.crossJoin(F.broadcast(norms)).select(
                "vid",
                F.when(F.col("na") > 0, F.col("auth_raw") / F.col("na")).otherwise(0.0).alias("auth"),
                F.when(F.col("nh") > 0, F.col("hub_raw") / F.col("nh")).otherwise(0.0).alias("hub"),
            )
            new_state = runner.materialize(new_state, it).persist()
            runner.log(it)
            s1.unpersist()
            s2.unpersist()
            state.unpersist()
            state = new_state

        out = state
        if include_ranks:
            out = state.withColumns(
                {
                    "auth_rank": F.row_number().over(Window.orderBy(F.desc("auth"), "vid")),
                    "hub_rank": F.row_number().over(Window.orderBy(F.desc("hub"), "vid")),
                }
            )
        # inside the scope: the finalize truncation plans under the loop conf
        return runner.finalize(out)
