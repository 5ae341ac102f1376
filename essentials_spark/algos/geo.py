"""Geolocation — infer unknown vertex coordinates from neighbors.

Reference: include/gunrock/algorithms/geo.hxx:264-391 — iterative
parallel_for over unlocated vertices; per round a vertex with located
neighbors takes
  1 neighbor  -> that location              (geo.hxx:341-356)
  2 neighbors -> their spherical midpoint   (geo.hxx:92-123, :359-362)
  > 2         -> the spatial median: arithmetic-mean init + Weiszfeld
                 iteration with haversine 1/d weights and the
                 Vardi-Zhang coincident-point correction
                 (geo.hxx:130-259), eps=1e-3
for ``total_iterations`` rounds.

Two modes:
- method='reference' (parity): the exact rules above; the Weiszfeld
  loop is a fixed unroll of pure column expressions over the
  (vertex, located-neighbor) pair set — every vertex iterates
  simultaneously, converged ones freeze (no per-row Python).
- method='mean' (oracle-simple): plain avg(lat)/avg(lon) of located
  neighbors for every case. This is a deliberate simplification used
  by the ANSI-SQL cross-engine oracle (arithmetic longitude averaging
  is wrong across the +/-180 wrap; the transcript anchors live in
  [0,90)x[0,180) so the oracle stays well-defined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.functions.geo_math import haversine_km, spherical_midpoint
from essentials_spark.graph.derive import Graph, canonicalize_edges


def _weiszfeld(pairs: DataFrame, init: DataFrame, iters: int, eps: float) -> DataFrame:
    """Spatial median per vid over its (nlat, nlon) point set.

    ``pairs``: (vid, nlat, nlon); ``init``: (vid, ylat, ylon) — the
    arithmetic mean, as in the reference (geo.hxx:161 'mean of all
    possible locations'). Fixed ``iters`` unroll; each vertex freezes
    once |y - y1| < eps (reference geo.hxx:231-238 returns there)."""
    y = init.select("vid", "ylat", "ylon", F.lit(False).alias("done"))
    for _ in range(iters):
        j = pairs.join(y, "vid")
        dist = haversine_km(F.col("nlat"), F.col("nlon"), F.col("ylat"), F.col("ylon"))
        j = j.withColumn("dist", dist).withColumn(
            "dinv", F.when(F.col("dist") == 0, F.lit(0.0)).otherwise(1.0 / F.col("dist"))
        )
        t = j.groupBy("vid").agg(
            F.sum("dinv").alias("dinvs"),
            F.count("*").alias("len"),
            F.sum((F.col("dist") != 0).cast("long")).alias("nonzeros"),
            F.sum(F.col("dinv") * F.col("nlat")).alias("wlat"),
            F.sum(F.col("dinv") * F.col("nlon")).alias("wlon"),
            F.first("ylat").alias("ylat"),
            F.first("ylon").alias("ylon"),
            F.first("done").alias("done"),
        )
        nz = F.col("len") - F.col("nonzeros")  # coincident neighbors
        tlat = F.col("wlat") / F.col("dinvs")
        tlon = F.col("wlon") / F.col("dinvs")
        # Vardi-Zhang step when the estimate sits on >=1 input point
        rlat = (tlat - F.col("ylat")) * F.col("dinvs")
        rlon = (tlon - F.col("ylon")) * F.col("dinvs")
        r = F.sqrt(rlat**2 + rlon**2)
        rinv = F.when(r == 0, F.lit(0.0)).otherwise(nz.cast("double") / r)
        y1lat = F.when(nz == 0, tlat).otherwise(
            F.greatest(F.lit(0.0), 1 - rinv) * tlat + F.least(F.lit(1.0), rinv) * F.col("ylat")
        )
        y1lon = F.when(nz == 0, tlon).otherwise(
            F.greatest(F.lit(0.0), 1 - rinv) * tlon + F.least(F.lit(1.0), rinv) * F.col("ylon")
        )
        all_zero = nz == F.col("len")  # every neighbor coincides: stop at y
        step = F.sqrt((F.col("ylat") - y1lat) ** 2 + (F.col("ylon") - y1lon) ** 2)
        newdone = F.col("done") | all_zero | (step < F.lit(eps))
        y = t.select(
            "vid",
            F.when(F.col("done") | all_zero, F.col("ylat")).otherwise(y1lat).alias("ylat"),
            F.when(F.col("done") | all_zero, F.col("ylon")).otherwise(y1lon).alias("ylon"),
            newdone.alias("done"),
        )
        y = truncate_plan(y)
    return y.select("vid", F.col("ylat").alias("lat"), F.col("ylon").alias("lon"))


def _locate_from_pairs(
    pairs: DataFrame, method: str, spatial_iters: int, eps: float
) -> tuple[DataFrame, DataFrame | None]:
    """One locating aggregation: (vid, nlat, nlon) pusher multiset ->
    (vid, lat, lon) per receiving vertex. method='mean': plain
    averages. method='reference': the geo.hxx rules — 1 pusher copies,
    2 take the spherical midpoint, >2 run Weiszfeld from the mean.
    Returns (new_locations, stats_to_unpersist)."""
    if method == "mean":
        return pairs.groupBy("vid").agg(
            F.avg("nlat").alias("lat"), F.avg("nlon").alias("lon")
        ), None
    stats = pairs.groupBy("vid").agg(
        F.count("*").alias("n"),
        F.min(F.struct(F.col("nlat").alias("a"), F.col("nlon").alias("o"))).alias("p1"),
        F.max(F.struct(F.col("nlat").alias("a"), F.col("nlon").alias("o"))).alias("p2"),
        F.avg("nlat").alias("ylat"),
        F.avg("nlon").alias("ylon"),
    )
    stats = truncate_plan(stats).persist()
    mid_lat, mid_lon = spherical_midpoint(
        F.col("p1.a"), F.col("p1.o"), F.col("p2.a"), F.col("p2.o")
    )
    easy = stats.filter(F.col("n") <= 2).select(
        "vid",
        F.when(F.col("n") == 1, F.col("p1.a")).otherwise(mid_lat).alias("lat"),
        F.when(F.col("n") == 1, F.col("p1.o")).otherwise(mid_lon).alias("lon"),
    )
    hard_ids = stats.filter(F.col("n") > 2)
    hard = _weiszfeld(
        pairs.join(hard_ids.select("vid"), "vid", "left_semi"),
        hard_ids.select("vid", "ylat", "ylon"),
        iters=spatial_iters,
        eps=eps,
    )
    return easy.unionByName(hard), stats


def geolocate(
    graph: Graph,
    known: DataFrame,
    max_iter: int = 50,
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    method: str = "mean",
    spatial_iters: int = 8,
    eps: float = 1e-3,
    chain_contract: bool = False,
) -> DataFrame:
    """known: (vid, lat, lon). Returns (vid, lat, lon) for every vertex
    that is connected to at least one located vertex.

    Delta frontier (reference geo.hxx:264-391 — its per-round work is
    likewise proportional to the unlocated frontier): only vertices
    located LAST round push coordinates. This is exact, not an
    approximation: a vertex still unlocated at round t had no located
    neighbor before round t-1 (it would have been located then), so
    all of its located neighbors are in the frontier. Per round the
    shuffled state is the frontier and its neighborhood; the full
    ``located`` set is only scanned (via a broadcast membership probe)
    when the frontier is small, never re-exchanged."""
    from essentials_spark.engine.static_table import (
        STATE_BROADCAST_MAX_ROWS,
        hint_state_join,
        prepare_static_edges,
    )

    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "geo")
    if chain_contract:
        return _geolocate_contracted(
            graph, known, runner, edges_mode, method, spatial_iters, eps, max_iter
        )
    edges, m = prepare_static_edges(
        canonicalize_edges(graph.edges, symmetrize=True, dedup=True, drop_self_loops=True).select("src", "dst"),
        runner, keys="src", mode=edges_mode, name_hint="geo",
    )
    located = truncate_plan(known.select("vid", "lat", "lon")).persist()
    front = located
    front_rows = front.count()

    # broadcast-probe gate: the frames broadcast below (cand_ids, hit)
    # are bounded by the frontier's NEIGHBORHOOD, not its row count —
    # one hub in a small frontier makes them edge-scale. Gate on
    # sum(deg(frontier)) like algos/cc.py; the degree table comes from
    # the bucketed edge scan (no shuffle) on first use.
    _deg_cache: dict = {}

    def frontier_msg_mass(f: DataFrame) -> int:
        if "deg" not in _deg_cache:
            d = edges.groupBy("src").agg(F.count("*").alias("_deg")).persist()
            _deg_cache["deg"] = d
            runner.defer(d.unpersist)
        row = (
            _deg_cache["deg"]
            .join(F.broadcast(f.select(F.col("vid").alias("src"))), "src")
            .agg(F.sum("_deg"))
            .collect()[0][0]
        )
        return int(row or 0)

    it = 0
    with runner.loop(work_rows=m):
        while it < max_iter:
            pushed = (
                edges.join(
                    hint_state_join(front.withColumnRenamed("vid", "src"), front_rows), "src"
                )
                .select(F.col("dst").alias("vid"), F.col("lat").alias("nlat"), F.col("lon").alias("nlon"))
            )
            if front_rows < STATE_BROADCAST_MAX_ROWS and frontier_msg_mass(
                front
            ) < 4 * STATE_BROADCAST_MAX_ROWS:
                # membership probe without exchanging `located`: probe the
                # (cached, narrow) located scan with the broadcast frontier
                # neighborhood, then null-filter — all exchanges are
                # frontier-scale. (An anti-join would build the hash table
                # from `located`, re-shuffling the cumulative set per round
                # — the round-1 finding this frontier formulation fixes.)
                cand_ids = pushed.select("vid").distinct()
                hit = located.join(F.broadcast(cand_ids), "vid").select("vid", F.lit(1).alias("_loc"))
                pairs = (
                    pushed.join(F.broadcast(hit), "vid", "left")
                    .filter(F.col("_loc").isNull())
                    .drop("_loc")
                )
            else:
                pairs = pushed.join(located.select("vid"), "vid", "left_anti")
            new, stats = _locate_from_pairs(pairs, method, spatial_iters, eps)
            new = truncate_plan(new)  # materializes: round intermediates now releasable
            if stats is not None:
                stats.unpersist()
            n_new = new.count()
            it += 1
            runner.log(it, located=n_new, frontier_rows=front_rows)
            if n_new == 0:
                break
            prev = located
            located = truncate_plan(located.unionByName(new)).persist()
            prev.unpersist()
            # next round: only the newly located push. `new` was
            # truncate_plan'd (eager localCheckpoint) above, so the frontier
            # is a materialized LogicalRDD LEAF — next round's `pushed`
            # join, frontier_msg_mass collect, and the located union all
            # read stored blocks, never re-evaluating prior rounds' joins
            # (the O(rounds^2) lineage blowup truncate_plan exists to stop).
            front = new
            front_rows = n_new

    return runner.finalize(located)


def _geolocate_contracted(
    graph: Graph,
    known: DataFrame,
    runner: SuperstepRunner,
    edges_mode: str,
    method: str,
    spatial_iters: int,
    eps: float,
    max_iter: int,
) -> DataFrame:
    """Chain-contracted geolocation — identical values to the plain
    synchronous wave, in O(contracted diameter) supersteps.

    The plain loop is a BFS wave from the anchors: a vertex located at
    level L takes its location from EXACTLY its level-(L-1) neighbors
    (a lower-level neighbor would have located it earlier). On a
    degree-2 chain that wave COPIES coordinates unchanged (one pusher
    -> that location, for both methods), so:

    1. levels of terminals = multi-source hop-SSSP over the contracted
       super-graph (rounds = contracted diameter);
    2. terminal values = aggregation over DELIVERING super-edges — an
       edge (U -> A, hops h) with lv(U) + h == lv(A) delivers value(U)
       once (the chain's A-adjacent interior carries U's endpoint value
       verbatim); iterate assignment in delivery-DAG order, assigning A
       only when every delivering source is valued (rounds = DAG
       depth);
    3. interior rehydration is closed-form: the side that arrives
       first (lv(end) + prefix) supplies its endpoint's value; a tie
       means both chain neighbors push, so the pair aggregate (mean /
       spherical midpoint — n=2 either way) applies.
    """
    from essentials_spark.engine.static_table import prepare_static_edges
    from essentials_spark.graph.chain_contract import chain_contraction
    from essentials_spark.algos.traversal import _relax_min

    sym = canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    ).select("src", "dst")
    contraction = chain_contraction(graph.vertices, sym, keep=known.select("vid"))

    # 1. terminal levels (hop distances from the anchor set)
    lv = _relax_min(
        contraction.super_edges.select("src", "dst", F.col("hops").cast("double").alias("weight")),
        known.select("vid", F.lit(0.0).alias("dist")),
        runner, edges_mode=edges_mode, max_iter=max_iter, name_hint="geo_lv",
    ).withColumnRenamed("dist", "lv")
    lv = truncate_plan(lv).persist()

    # 2. delivering super-edges: (U -> A, h) with lv(U) + h == lv(A)
    # (integer-valued doubles — the equality is exact)
    deliver = truncate_plan(
        contraction.super_edges.alias("e")
        .join(lv.select(F.col("vid").alias("src"), F.col("lv").alias("lv_u")), "src")
        .join(lv.select(F.col("vid").alias("dst"), F.col("lv").alias("lv_a")), "dst")
        .filter(F.col("lv_u") + F.col("hops").cast("double") == F.col("lv_a"))
        .select(F.col("src").alias("u"), F.col("dst").alias("vid"))
    ).persist()
    need = deliver.groupBy("vid").agg(F.count(F.lit(1)).alias("needed"))

    values = truncate_plan(known.select("vid", "lat", "lon")).persist()
    n_deliver = deliver.count()
    it = 0
    with runner.loop(work_rows=n_deliver):
        while it < max_iter:
            # terminals whose every delivering source is valued, not yet valued
            got = (
                deliver.join(values.select(F.col("vid").alias("u"), "lat", "lon"), "u")
                .join(values.select("vid"), "vid", "left_anti")
            )
            ready = (
                got.groupBy("vid").agg(F.count(F.lit(1)).alias("have"))
                .join(need, "vid")
                .filter(F.col("have") == F.col("needed"))
                .select("vid")
            )
            pairs = got.join(ready, "vid", "left_semi").select(
                "vid", F.col("lat").alias("nlat"), F.col("lon").alias("nlon")
            )
            new, stats = _locate_from_pairs(pairs, method, spatial_iters, eps)
            new = truncate_plan(new)
            if stats is not None:
                stats.unpersist()
            n_new = new.count()
            it += 1
            runner.log(it, located=n_new, phase="terminal_dag")
            if n_new == 0:
                break
            prev = values
            values = truncate_plan(values.unionByName(new)).persist()
            prev.unpersist()

    # 3. closed-form interior rehydration
    va = values.select(F.col("vid").alias("end_a"), F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a"))
    vb = values.select(F.col("vid").alias("end_b"), F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b"))
    la = lv.select(F.col("vid").alias("end_a"), F.col("lv").alias("lv_a"))
    lb = lv.select(F.col("vid").alias("end_b"), F.col("lv").alias("lv_b"))
    inter = (
        contraction.interior.join(va, "end_a", "left").join(vb, "end_b", "left")
        .join(la, "end_a", "left").join(lb, "end_b", "left")
        .withColumns(
            {
                "side_a": F.col("lv_a") + F.col("da_hops").cast("double"),
                "side_b": F.col("lv_b") + F.col("db_hops").cast("double"),
            }
        )
        .filter(F.col("side_a").isNotNull() | F.col("side_b").isNotNull())
    )
    a_first = F.col("side_b").isNull() | (F.col("side_a") < F.col("side_b"))
    b_first = F.col("side_a").isNull() | (F.col("side_b") < F.col("side_a"))
    if method == "mean":
        tie_lat = (F.col("lat_a") + F.col("lat_b")) / 2
        tie_lon = (F.col("lon_a") + F.col("lon_b")) / 2
    else:
        tie_lat, tie_lon = spherical_midpoint(
            F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
        )
    interior_vals = inter.select(
        "vid",
        F.when(a_first, F.col("lat_a")).when(b_first, F.col("lat_b")).otherwise(tie_lat).alias("lat"),
        F.when(a_first, F.col("lon_a")).when(b_first, F.col("lon_b")).otherwise(tie_lon).alias("lon"),
    )
    out = truncate_plan(values.unionByName(interior_vals))
    lv.unpersist()
    deliver.unpersist()
    return runner.finalize(out)
