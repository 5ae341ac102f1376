"""Densest subgraph — the parallel (2+2ε)-approximation peel.

Charikar's greedy peel (remove the min-degree vertex, track the best
density m/n seen) is inherently sequential; the scalable variant
(Bahmani, Kumar, Vassilvitskii, VLDB 2012) removes EVERY vertex whose
degree is at most (1+ε)·(2m/n) per round — O(log n / ε) bulk rounds,
each one degree aggregate + one semi-join, and the best intermediate
subgraph is a (2+2ε)-approximation of the optimum density.

Everything the algorithm compares is EXACT INTEGER arithmetic:

- the peel test  deg(v) · n  <=  (2+2ε) · m   (ε=1/2 → deg·n <= 3m);
- the best-round test  m₁·n₂ > m₂·n₁  (cross-multiplied densities,
  ties keep the EARLIER = larger subgraph).

so a SQL oracle replays the whole trajectory bit-for-bit — no FP
density ever exists. The loop keeps at most two vertex-set states
persisted (current + best-so-far); scalars (m, n) are the only
driver-side values per round.

Training-data relevance: the densest community of the tool/turn
graph is the "boilerplate cluster" of a transcript corpus — the
subgraph a curation pass inspects first for degenerate agent loops.

Reference analogue: the peel loop is the k-core machinery
(algos/kcore.py peel mode) with a global density tracker instead of
a fixed threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan


def densest_subgraph(
    vertices: DataFrame,
    edges: DataFrame,
    epsilon_num: int = 1,
    epsilon_den: int = 2,
    runner: SuperstepRunner | None = None,
    max_iter: int = 200,
) -> DataFrame:
    """(vid, n_sub, m_sub) — the vertices of the densest intermediate
    subgraph found by the ε-peel, with its size and undirected edge
    count attached (density = m_sub/n_sub; kept integer so callers
    and oracles compare cross-multiplied).

    ``edges`` must be the CANONICAL undirected edge set (src < dst,
    deduped, no self-loops); ``epsilon = epsilon_num/epsilon_den``
    enters the peel test as integers:
    deg·n·den <= 2·(den+num)·m.
    """
    spark = edges.sparkSession
    runner = runner or SuperstepRunner(spark, "densest")
    thr_coef = 2 * (epsilon_den + epsilon_num)  # peel: deg*n*den <= thr_coef*m

    cur_v = truncate_plan(vertices.select("vid").distinct()).persist()
    cur_e = truncate_plan(edges.select("src", "dst")).persist()
    n = cur_v.count()
    m = cur_e.count()
    best_v, best_n, best_m = cur_v, n, m

    with runner.loop(work_rows=m):
        for it in range(1, max_iter + 1):
            if n == 0 or m == 0:
                break
            deg = (
                cur_e.select(F.col("src").alias("vid"))
                .unionAll(cur_e.select(F.col("dst").alias("vid")))
                .groupBy("vid")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            # survivors: deg*n*den > thr_coef*m  (isolated vertices have
            # no deg row and always peel — their degree 0 fails the test);
            # the product side runs in decimal so deg*n cannot overflow
            # long at 10^12-vertex scale
            keep = truncate_plan(
                cur_v.join(deg, "vid", "left")
                .filter(
                    F.coalesce(F.col("deg"), F.lit(0)).cast("decimal(38,0)")
                    * F.lit(int(n) * epsilon_den)
                    > F.lit(thr_coef * int(m)).cast("decimal(38,0)")
                )
                .select("vid")
            ).persist()
            new_e = truncate_plan(
                cur_e.join(keep.select(F.col("vid").alias("src")), "src")
                .join(keep.select(F.col("vid").alias("dst")), "dst")
                .select("src", "dst")
            ).persist()
            new_n, new_m = keep.count(), new_e.count()
            runner.log(it, n=new_n, m=new_m)
            if cur_v is not best_v:
                cur_v.unpersist()
            cur_e.unpersist()
            cur_v, cur_e, n, m = keep, new_e, new_n, new_m
            # strictly-better density only (ties keep the earlier, larger
            # subgraph): m*best_n > best_m*n — exact integers
            if n > 0 and m * best_n > best_m * n:
                if best_v is not cur_v:
                    best_v.unpersist()
                best_v, best_n, best_m = cur_v, n, m

    return runner.finalize(
        best_v.select(
            "vid",
            F.lit(int(best_n)).cast("long").alias("n_sub"),
            F.lit(int(best_m)).cast("long").alias("m_sub"),
        )
    )