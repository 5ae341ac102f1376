"""Personalized PageRank — forward push (Andersen et al.), multi-seed.

Reference: include/gunrock/algorithms/ppr.hxx:105-146 — filter selects
vertices with residual above threshold (r > eps * degree), push moves
alpha*r into the estimate p and spreads (1-alpha)*r across out-
neighbors; batch multi-seed via CPU threads (ppr.hxx:182-203,
operators/batch/batch.hxx).

Spark shape: the batch dimension is folded into the DataFrame — state
is keyed (seed, vid) so ALL seeds advance in every superstep (the
vectorized form of the reference's thread-per-seed batching,
SURVEY §2.1 'batch'). Synchronous push: every active vertex pushes in
the same superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def ppr(
    graph: Graph,
    seeds: list[int],
    alpha: float = 0.15,
    eps: float = 1e-6,
    max_iter: int = 100,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Returns (seed: long, vid: long, score: double), rows with
    score > 0 only. ``alpha`` is the teleport/absorb probability."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "ppr")

    # deg is STATIC: persist once — unpersisted it would be re-aggregated
    # from the raw edge lineage at every reference (3x per iteration)
    deg = graph.edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    edges, m = prepare_static_edges(
        graph.edges.select("src", "dst").join(deg, "src"),
        runner, keys="src", mode=edges_mode, name_hint="ppr",
    )
    runner.defer(deg.unpersist)

    seeds_df = spark.createDataFrame([(int(s),) for s in seeds], "seed long")
    # state: (seed, vid, p, r)
    state = truncate_plan(
        seeds_df.select("seed", F.col("seed").alias("vid"), F.lit(0.0).alias("p"), F.lit(1.0).alias("r"))
    ).persist()

    it = 0
    with runner.loop(work_rows=m * max(1, len(seeds))):
        while it < max_iter:
            # deg_state feeds the new-state base AND (via active) the
            # spread + absorb branches of the same materialize action —
            # persist within the iteration (see cc.py one_round note)
            deg_state = state.join(deg.withColumnRenamed("src", "vid"), "vid", "left").select(
                "seed", "vid", "p", "r", F.coalesce(F.col("deg"), F.lit(0)).alias("deg")
            ).persist()
            active = deg_state.filter((F.col("r") > F.lit(eps) * F.col("deg")) & (F.col("deg") > 0))
            n_active = active.count()
            it += 1
            runner.log(it, active=n_active)
            if n_active == 0:
                deg_state.unpersist()
                break
            # push: absorb alpha*r into p, spread (1-alpha)*r over out-nbrs
            spread = (
                edges.join(active.select(F.col("vid").alias("src"), "seed", "r"), "src")
                .select(
                    "seed",
                    F.col("dst").alias("vid"),
                    ((1.0 - alpha) * F.col("r") / F.col("deg")).alias("dr"),
                )
                .groupBy("seed", "vid")
                .agg(F.sum("dr").alias("dr"))
            )
            absorbed = active.select("seed", "vid", (F.col("p") + alpha * F.col("r")).alias("p2"))
            new_state = (
                deg_state.select("seed", "vid", "p", "r")
                .join(absorbed, ["seed", "vid"], "left")
                .join(spread, ["seed", "vid"], "full")
                .select(
                    "seed",
                    "vid",
                    F.coalesce(F.col("p2"), F.col("p"), F.lit(0.0)).alias("p"),
                    (
                        F.when(F.col("p2").isNotNull(), F.lit(0.0)).otherwise(F.coalesce(F.col("r"), F.lit(0.0)))
                        + F.coalesce(F.col("dr"), F.lit(0.0))
                    ).alias("r"),
                )
            )
            new_state = runner.materialize(new_state, it).persist()
            deg_state.unpersist()
            state.unpersist()
            state = new_state

        # inside the scope: the finalize truncation plans under the loop conf
        return runner.finalize(
            state.filter(F.col("p") > 0).select("seed", "vid", F.col("p").alias("score"))
        )
