"""Eigenvector centrality — power iteration with L1 normalization.

The undamped sibling of PageRank (reference pr.hxx is the damped
variant; the power-iteration skeleton is the same superstep shape):
per round x' = A·x, then x = x' / ||x'||_1. On a connected
non-bipartite component this converges to the principal eigenvector
(Perron–Frobenius); callers pass the symmetrized edge table for the
classic undirected definition (the harmonic/closeness convention).

Plan per superstep: one shuffle aggregate (groupBy dst over the
bucketed static edge table — zero edge-side exchange in bucketed
mode), a vertex-scale left join to keep zero-in-degree rows, and the
1-row L1 norm broadcast (the pagerank dangling-sum shape). State
stays vertex-scale; fused via truncate_plan like every superstep
loop in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import hint_state_join, prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def eigenvector_centrality(
    graph: Graph,
    max_iter: int = 15,
    tol: float = 0.0,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Returns (vid, score) with ||score||_1 = 1 after ``max_iter``
    power iterations (or earlier when the L∞ delta drops below
    ``tol``; tol=0.0 runs exactly max_iter rounds — the oracle-parity
    mode, matching q_pagerank's convention)."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "eigen")
    edges, m = prepare_static_edges(
        graph.edges.select("src", "dst"), runner, keys="src", mode=edges_mode,
        name_hint="eigen",
    )
    n = graph.vertices.count()
    state = truncate_plan(
        graph.vertices.select("vid", F.lit(1.0).alias("score"))
    ).persist()

    with runner.loop(work_rows=m):
        for it in range(1, max_iter + 1):
            raw = (
                edges.join(
                    hint_state_join(state.select(F.col("vid").alias("src"), "score"), n), "src"
                )
                .groupBy("dst")
                .agg(F.sum("score").alias("raw"))
                .withColumnRenamed("dst", "vid")
            )
            joined = state.join(raw, "vid", "left").select(
                "vid",
                F.col("score").alias("prev"),
                F.coalesce(F.col("raw"), F.lit(0.0)).alias("raw"),
            ).persist()
            norm = joined.agg(F.sum("raw").alias("l1"))
            new_state = truncate_plan(
                joined.crossJoin(F.broadcast(norm)).select(
                    "vid",
                    F.when(F.col("l1") > 0, F.col("raw") / F.col("l1"))
                    .otherwise(0.0)
                    .alias("score"),
                    "prev",
                )
            ).persist()
            if tol > 0.0:
                err = new_state.agg(F.max(F.abs(F.col("score") - F.col("prev")))).collect()[0][0]
            else:
                new_state.count()
                err = None
            runner.log(it, err=err)
            prev_state = state
            state = new_state.select("vid", "score")
            prev_state.unpersist()
            joined.unpersist()
            if err is not None and err < tol:
                break

    return runner.finalize(state)


def katz_centrality(
    graph: Graph,
    alpha: float = 1.0 / 128,
    beta: float = 1.0,
    max_iter: int = 8,
    tol: float = 0.0,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Katz centrality: x_{t+1}(v) = beta + alpha * sum over
    in-neighbors x_t(u), from x_0 = beta·1 — attenuated walk counting
    (Katz 1953), the beta-regularized sibling of eigenvector
    centrality that stays finite on directed/disconnected graphs.

    Convergence needs alpha < 1/lambda_max; the default 1/128 (an
    exact binary rational — multiplication is FP-exact and engine-
    order-independent) sits well under the transcript graph's hub
    spectral radius. Same superstep plan as eigenvector_centrality:
    one shuffle aggregate per round over the bucketed static table,
    a vertex-scale left join, no normalization step. tol=0.0 runs
    exactly max_iter rounds (oracle-parity mode).
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "katz")
    edges, m = prepare_static_edges(
        graph.edges.select("src", "dst"), runner, keys="src", mode=edges_mode,
        name_hint="katz",
    )
    n = graph.vertices.count()
    state = truncate_plan(
        graph.vertices.select("vid", F.lit(float(beta)).alias("score"))
    ).persist()

    with runner.loop(work_rows=m):
        for it in range(1, max_iter + 1):
            raw = (
                edges.join(
                    hint_state_join(state.select(F.col("vid").alias("src"), "score"), n), "src"
                )
                .groupBy("dst")
                .agg(F.sum("score").alias("raw"))
                .withColumnRenamed("dst", "vid")
            )
            new_state = truncate_plan(
                state.join(raw, "vid", "left").select(
                    "vid",
                    F.col("score").alias("prev"),
                    (F.lit(float(beta)) + F.lit(float(alpha)) * F.coalesce(F.col("raw"), F.lit(0.0))).alias("score"),
                )
            ).persist()
            if tol > 0.0:
                err = new_state.agg(F.max(F.abs(F.col("score") - F.col("prev")))).collect()[0][0]
            else:
                new_state.count()
                err = None
            runner.log(it, err=err)
            prev_state = state
            state = new_state.select("vid", "score")
            prev_state.unpersist()
            if err is not None and err < tol:
                break

    return runner.finalize(state)
