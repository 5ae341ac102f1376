"""Greedy independent-set graph coloring.

Reference: include/gunrock/algorithms/color.hxx:89-151 — per
iteration, every uncolored vertex with the locally maximal random
priority among uncolored neighbors takes color 2*iter, the locally
minimal takes 2*iter+1 (2 colors per iteration). Priorities are
index-seeded deterministic pseudo-randoms
(algorithms/generate/random.hxx:20-34, color.hxx:64-65) — here
xxhash64(vid, seed), so runs are reproducible (SURVEY §7.3 risk 4).

Scale shape: the symmetrized edge table is persisted once as a
src-bucketed table; each round pushes uncolored priorities along it
(one state shuffle + one aggregate), instead of round-1's double
edge-side join that re-shuffled the graph twice per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import hint_state_join, prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def color(
    graph: Graph,
    max_iter: int = 1000,
    seed: int = 42,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    edges_mode: str = "bucketed",
    edge_rows: int | None = None,
) -> DataFrame:
    """Returns (vid: long, color: int); valid coloring (no edge joins
    two equal colors). Isolated vertices get color 0. ``edge_rows``:
    the known edge count for edges_mode='prepared'."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "color")
    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    edges, m = prepare_static_edges(edges.select("src", "dst"), runner, mode=edges_mode, rows=edge_rows, name_hint="color")

    # deterministic priority per vertex; ties impossible via (hash, vid)
    prio = F.xxhash64(F.col("vid"), F.lit(seed))
    uncolored = truncate_plan(graph.vertices.select("vid").withColumn("prio", prio)).persist()
    colored = spark.createDataFrame([], "vid long, color int")

    it = 0
    with runner.loop(work_rows=m):
        while it < max_iter:
            n_left = uncolored.count()
            if n_left == 0:
                break
            # push uncolored priorities along edges (u uncolored, u->v):
            # per v, the max/min (prio, vid) among its uncolored neighbors.
            # Edges to already-colored v are aggregated too and discarded by
            # the state join — cheaper than a second edge-side filter join.
            # adaptive state-join hint (engine/static_table.py), the same
            # tail-round discipline as every other iterative loop: the
            # uncolored set shrinks geometrically (2 colors/round peel off
            # all local extrema), so late rounds broadcast the n_left-row
            # state into the bucketed edge scan — zero state exchange —
            # while early vertex-scale rounds shuffle-hash into the
            # bucketed layout. n_left is the KNOWN exact count (line above).
            msgs = (
                edges.join(
                    hint_state_join(
                        uncolored.select(F.col("vid").alias("src"), F.col("prio").alias("p")), n_left
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(
                    F.max(F.struct(F.col("p"), F.col("src").alias("v"))).alias("mx"),
                    F.min(F.struct(F.col("p"), F.col("src").alias("v"))).alias("mn"),
                )
                .withColumnRenamed("dst", "vid")
            )
            me = F.struct(F.col("prio").alias("p"), F.col("vid").alias("v"))
            decide = uncolored.join(msgs, "vid", "left").select(
                "vid",
                "prio",
                F.when(F.col("mx").isNull() | (me > F.col("mx")), F.lit(2 * it))
                .when(me < F.col("mn"), F.lit(2 * it + 1))
                .cast("int")
                .alias("color"),
            )
            decide = truncate_plan(decide)
            newly = decide.filter(F.col("color").isNotNull()).select("vid", "color")
            prev_c, prev_u = colored, uncolored
            colored = truncate_plan(colored.unionByName(newly)).persist()
            uncolored = truncate_plan(decide.filter(F.col("color").isNull()).select("vid", "prio")).persist()
            # truncate_plan materialized the successors — release the
            # superseded caches eagerly (no-op on the unpersisted seed df;
            # see bc.py note)
            prev_c.unpersist()
            prev_u.unpersist()
            it += 1
            runner.log(it, colored=newly.count(), remaining=n_left)

    return runner.finalize(colored)
