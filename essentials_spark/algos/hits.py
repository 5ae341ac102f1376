"""HITS — hub/authority iteration with L2 normalization + ranking.

Reference: include/gunrock/algorithms/hits.hxx:244-282 — per
iteration: auth(v) = sum of hub over in-edges, hub(v) = sum of auth
over out-edges, L2-normalize both; final ranking by score (the
reference sorts with thrust::stable_sort_by_key, hits.hxx:52-66 — we
use a window row_number, SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import hint_state_join, prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph


def hits(
    graph: Graph,
    max_iter: int = 20,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
) -> DataFrame:
    """Returns (vid, auth, hub, auth_rank, hub_rank)."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "hits")
    # push (src->dst) and pull (dst->src) both run every iteration:
    # persist the edge table bucketed in BOTH orientations so neither
    # direction ever re-shuffles the static side (CSR + CSC views,
    # reference include/gunrock/graph/{csr,csc}.hxx)
    e = graph.edges.select("src", "dst")
    edges, m = prepare_static_edges(e, runner, keys="src", mode=edges_mode, name_hint="hits_fwd")
    edges_rev, _ = prepare_static_edges(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        runner, keys="src", mode=edges_mode, name_hint="hits_rev",
    )
    state = truncate_plan(
        graph.vertices.select("vid", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub"))
    ).persist()
    n = state.count()

    with runner.loop(work_rows=m):
        for it in range(1, max_iter + 1):
            # auth(v) = sum hub(u) over u->v ; then hub(u) = sum auth(v) over u->v
            # adaptive state-join hints (engine/static_table.py): hub/auth
            # state is vertex-scale forever — broadcast only when small,
            # else shuffle_hash (no large-state broadcast, no edge sorts)
            auth = (
                edges.join(hint_state_join(state.select(F.col("vid").alias("src"), "hub"), n), "src")
                .groupBy("dst")
                .agg(F.sum("hub").alias("auth_raw"))
                .withColumnRenamed("dst", "vid")
            )
            # s1/s2 each feed two downstream subtrees (hub step + final
            # select; norms agg + final select) — persist within the
            # iteration so the single materialize action computes them once
            # (see cc.py one_round note), unpersist after the action
            s1 = state.select("vid", "hub").join(auth, "vid", "left").select(
                "vid", F.coalesce(F.col("auth_raw"), F.lit(0.0)).alias("auth_raw"), "hub"
            ).persist()
            # hub step on the transposed table: join keyed on its src
            # (= original dst), so the bucketed scan's partitioning applies
            hub = (
                edges_rev.join(hint_state_join(s1.select(F.col("vid").alias("src"), "auth_raw"), n), "src")
                .groupBy("dst")
                .agg(F.sum("auth_raw").alias("hub_raw"))
                .withColumnRenamed("dst", "vid")
            )
            s2 = s1.join(hub, "vid", "left").select(
                "vid", "auth_raw", F.coalesce(F.col("hub_raw"), F.lit(0.0)).alias("hub_raw")
            ).persist()
            norms = s2.agg(
                F.sqrt(F.sum(F.col("auth_raw") ** 2)).alias("na"),
                F.sqrt(F.sum(F.col("hub_raw") ** 2)).alias("nh"),
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

        ranked = state.withColumns(
            {
                "auth_rank": F.row_number().over(Window.orderBy(F.desc("auth"), "vid")),
                "hub_rank": F.row_number().over(Window.orderBy(F.desc("hub"), "vid")),
            }
        )
        # inside the scope: the finalize truncation plans under the loop conf
        return runner.finalize(ranked)
