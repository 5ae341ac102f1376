"""Maximal independent set — Luby's algorithm with portable hash
priorities.

The standard parallel MIS (Luby 1986, the hash-minima variant): per
round, every LIVE vertex draws a fresh priority h(v, r); the vertices
that beat every live neighbor join the MIS, and they and their
neighbors leave the live set. Expected O(log n) rounds (each round
retires a constant fraction of edges); every step is one edge-scale
join + anti-join — the advance/filter superstep pair.

Priorities come from functions/portable_hash.md5_int60, so the whole
trajectory replays verbatim in ANSI SQL (the correctness-gate
convention); ties are impossible in practice but (h, vid)
lexicographic order makes them deterministic anyway.

MIS is the scheduling primitive behind the engine's chase-free
synchronous algorithms (louvain mode='mis' inlines the same
local-minima round); exposing it standalone gives callers the classic
building block (greedy coloring seeds, contention-free batching,
sampling-without-adjacent-pairs).

Members carry the round they were selected in — the (vid, mis_round)
output pins the full round structure, not just the final set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.functions.portable_hash import md5_int60


def maximal_independent_set(
    vertices: DataFrame,
    edges: DataFrame,
    runner: SuperstepRunner | None = None,
    max_iter: int = 200,
    salt: str = "mis",
) -> DataFrame:
    """(vid, mis_round) for every MIS member, over an UNDIRECTED edge
    table given symmetrized (both orientations present; self-loops
    ignored). Greedy-maximal: no two members are adjacent, and every
    non-member has a member neighbor.
    """
    spark = edges.sparkSession
    runner = runner or SuperstepRunner(spark, "mis")
    live_v = truncate_plan(vertices.select("vid").distinct()).persist()
    live_e = truncate_plan(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    ).persist()
    picked: list[DataFrame] = []

    m_live = live_e.count()
    with runner.loop(work_rows=m_live):
        for r in range(1, max_iter + 1):
            n = live_v.count()
            if n == 0:
                break
            h = live_v.select(
                "vid",
                md5_int60(F.concat_ws("|", F.lit(salt), F.lit(str(r)), F.col("vid").cast("string"))).alias("h"),
            )
            hs = h.select(F.col("vid").alias("src"), F.col("h").alias("hsrc"))
            hd = h.select(F.col("vid").alias("dst"), F.col("h").alias("hdst"))
            # losers: some live neighbor beats them on (h, vid)
            losers = (
                live_e.join(hs, "src")
                .join(hd, "dst")
                .filter(
                    (F.col("hdst") < F.col("hsrc"))
                    | ((F.col("hdst") == F.col("hsrc")) & (F.col("dst") < F.col("src")))
                )
                .select(F.col("src").alias("vid"))
                .distinct()
            )
            winners = truncate_plan(
                live_v.join(losers, "vid", "left_anti").select(
                    "vid", F.lit(r).cast("int").alias("mis_round")
                )
            ).persist()
            n_w = winners.count()
            runner.log(r, winners=n_w, live=n)
            picked.append(winners)
            # retire winners and their whole neighborhoods
            nbrs = (
                live_e.join(winners.select(F.col("vid").alias("src")), "src")
                .select(F.col("dst").alias("vid"))
                .distinct()
            )
            gone = winners.select("vid").unionByName(nbrs).distinct()
            new_v = truncate_plan(live_v.join(gone, "vid", "left_anti")).persist()
            new_e = truncate_plan(
                live_e.join(new_v.select(F.col("vid").alias("src")), "src")
                .join(new_v.select(F.col("vid").alias("dst")), "dst")
                .select("src", "dst")
            ).persist()
            live_v.unpersist()
            live_e.unpersist()
            live_v, live_e = new_v, new_e

    runner.finalize()
    if not picked:
        return vertices.select(
            "vid", F.lit(0).cast("int").alias("mis_round")
        ).limit(0)
    out = picked[0]
    for df in picked[1:]:
        out = out.unionByName(df)
    return out