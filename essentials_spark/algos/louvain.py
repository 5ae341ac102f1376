"""Modularity-gain community moves (Louvain phase-1, synchronous).

Sync label propagation provably oscillates on chain-dominated
transcript graphs (BENCH §3i: 2-cycles keep 98 % of vertices flipping
forever). The Louvain move criterion fixes the objective: each round,
every vertex moves to the candidate community c (its neighbors' plus
its own) maximizing the modularity gain of Blondel et al. (2008),

    ΔQ(i→c) ∝ score(i,c) = 2m·e_ic − k_i·(D_c − k_i·[L(i)=c])

an INTEGER in both engines: e_ic = edges from i into c, k_i = degree,
D_c = community degree mass, 2m = |sym rows|. The self-community term
subtracts k_i from D_c (i is removed before evaluating its options —
the standard formulation), so "stay" competes on equal footing. Ties
break to the smallest label; every step is exact integer algebra, so
the DuckDB oracle replays the full schedule bit-for-bit (labels in
key space, order-isomorphic to vids).

``mode='semi'`` applies the same alternating-parity half-schedule as
label_propagation(mode='semi') (algos/lp.py): round r moves only the
vertices with parity r % 2; the rest hold their community. Sync
Louvain 2-cycles on degree-2 pairs exactly like sync LP (both ends of
a pendant edge swap into each other's community forever); the
half-schedule breaks every 2-cycle and converges to a fixpoint of the
sequential move criterion on chain-dominated transcript graphs.

Scale shape per round: one groupBy for D_c (community-count scale),
one edge⋈labels + groupBy for e_ic (the advance/scatter shape every
superstep algorithm here pays), one struct-min argmax — no windows,
no n² anything. Integer bound: 2m·k_max < 2^63 holds to ~10^12 edges
with 10^6-degree hubs; beyond that, promote score to decimal(38,0).

Reference anchor: the reference has no community detection beyond
label propagation (algorithms/... pr/cc/color families); this is a
beyond-reference capability gated like everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.graph.derive import Graph


def _weighted(edges: DataFrame) -> DataFrame:
    """(src, dst, w): weight column defaulted to 1 (the sym row count
    IS the weight of the level-0 multigraph; coarsened levels carry
    integer edge multiplicities, so every level stays exact algebra)."""
    if "w" in edges.columns:
        return edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    return edges.select("src", "dst", F.lit(1).cast("long").alias("w"))


def _degrees(g: Graph) -> DataFrame:
    # weighted degree k_i = Σ w over src-side rows; a self-loop row
    # (c, c, w) contributes w — the coarsened (c, c) multiplicity is
    # the count of DIRECTED internal rows, exactly the degree mass the
    # community's members contributed internally at the finer level.
    deg = _weighted(g.edges).groupBy(F.col("src").alias("vid")).agg(F.sum("w").alias("k"))
    return (
        g.vertices.select("vid")
        .join(deg, "vid", "left")
        .select("vid", F.coalesce(F.col("k"), F.lit(0)).cast("long").alias("k"))
    )


def louvain_move_round(
    g: Graph,
    labels: DataFrame,
    degrees: DataFrame,
    two_m: int,
    movers: DataFrame | None = None,
) -> DataFrame:
    """One synchronous move round; returns the new (vid, label).

    ``movers``: optional (vid) restriction — only these vertices may
    change community this round (the semi/color schedules); all others
    keep their label. Scores still read the FULL label state (D_c is
    global), but candidate enumeration and scoring run ONLY over the
    movers (a left-semi prefilter on the edge scan) — a color-class
    round costs |class|-scale, not n-scale, so a full sweep over all
    color classes totals ~one synchronous round's work.
    """
    dmass = (
        labels.join(degrees, "vid")
        .groupBy("label")
        .agg(F.sum("k").alias("d_c"))
    )
    edges = _weighted(g.edges).filter(F.col("src") != F.col("dst"))
    mv_labels = labels
    if movers is not None:
        edges = edges.join(movers.select(F.col("vid").alias("src")), "src", "left_semi")
        mv_labels = labels.join(movers, "vid", "left_semi")
    # self-loops are excluded from e_ic: i's internal weight moves with
    # i (it is not a link "into" any candidate community) — standard
    # Blondel k_{i,in}; it still counts in k_i and D_c above.
    nbr = (
        edges
        .join(labels.select(F.col("vid").alias("dst"), F.col("label").alias("lc")), "dst")
        .groupBy(F.col("src").alias("vid"), "lc")
        .agg(F.sum("w").cast("long").alias("e_ic"))
    )
    own = mv_labels.select("vid", F.col("label").alias("lc"), F.lit(0).cast("long").alias("e_ic"))
    cand = (
        nbr.unionByName(own)
        .groupBy("vid", "lc")
        .agg(F.sum("e_ic").alias("e_ic"))
    )
    scored = (
        cand.join(labels, "vid")
        .join(degrees, "vid")
        .join(dmass.select(F.col("label").alias("lc"), "d_c"), "lc", "left")
        .select(
            "vid",
            "lc",
            (
                F.lit(int(two_m)) * F.col("e_ic")
                - F.col("k")
                * (
                    F.coalesce(F.col("d_c"), F.lit(0))
                    - F.when(F.col("lc") == F.col("label"), F.col("k")).otherwise(F.lit(0))
                )
            ).alias("score"),
        )
    )
    picked = scored.groupBy("vid").agg(
        F.min(F.struct((-F.col("score")).alias("s"), F.col("lc").alias("l")))["l"].alias("label")
    )
    if movers is None:
        return picked
    # restricted adoption: movers take the argmax, the rest hold. The
    # left join keeps this one exchange on the (small) picked side —
    # labels is already hash-partitioned by vid from the prior round.
    return (
        labels.join(movers.select("vid", F.lit(True).alias("_mv")), "vid", "left")
        .join(picked.select("vid", F.col("label").alias("_new")), "vid", "left")
        .select(
            "vid",
            F.when(F.col("_mv").isNotNull(), F.coalesce(F.col("_new"), F.col("label")))
            .otherwise(F.col("label"))
            .alias("label"),
        )
    )


def _mis_movers(edges: DataFrame, hvals: DataFrame) -> DataFrame:
    """Hash-local-minima independent set: v moves iff (h(v), v) <
    (h(u), u) for EVERY neighbor u — one edge-scale anti-join, no ties
    (vid breaks them). Luby-style: expected Σ 1/(deg(v)+1) movers per
    round (≈ n/3 on the transcript graph), every mover's neighborhood
    frozen — the same chase-freedom a proper coloring gives, without
    the coloring precompute or its n_colors sequential sub-rounds
    (measured 29 colors on the 200k-conversation graph)."""
    hs = hvals.select(F.col("vid").alias("src"), F.col("h").alias("hs"))
    hd = hvals.select(F.col("vid").alias("dst"), F.col("h").alias("hd"))
    losers = (
        edges.join(hs, "src")
        .join(hd, "dst")
        .filter(
            (F.col("hd") < F.col("hs"))
            | ((F.col("hd") == F.col("hs")) & (F.col("dst") < F.col("src")))
        )
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    return hvals.select("vid").join(losers, "vid", "left_anti")


def louvain(
    g: Graph,
    rounds: int = 2,
    mode: str = "sync",
    semi_parity: DataFrame | None = None,
    mis_hash: "callable | None" = None,
    init_labels: DataFrame | None = None,
    runner=None,
) -> DataFrame:
    """`rounds` Louvain phase-1 move rounds from singleton
    communities; returns (vid, label). Deterministic — fixed round
    count, integer scores, smallest-label ties.

    ``init_labels``: optional (vid, label) warm start — the
    incremental-maintenance path: after an edge micro-batch, resume
    moving from the previous assignment instead of singletons
    (vertices absent from the table start as their own community).
    The move criterion reads the CURRENT graph's degrees/2m, so stale
    communities re-evaluate immediately where the batch changed mass.

    ``runner``: optional SuperstepRunner — with a checkpoint_dir the
    per-round label state becomes durable and a rerun resumes from the
    last completed round (the engine's standard resume contract; the
    fingerprint binds graph content + mode + init so a different graph
    or schedule refuses stale state). The schedule is a pure function
    of the round index in every mode, so extending ``rounds`` resumes
    the shared prefix.

    ``mode='semi'``: round r moves only vertices whose parity
    (``semi_parity``: (vid, par in {0,1}); default vid % 2) equals
    r % 2 — the LP half-schedule, breaking sync 2-cycles.

    ``mode='color'``: round r moves only the vertices of color class
    r % n_colors of a proper graph coloring (algos/color.py, seeded,
    deterministic) — the coloring-scheduled Louvain of Halappanavar et
    al.: no two ADJACENT vertices move in the same round, so a mover's
    target can never simultaneously abandon it while they share an
    edge. This eliminates the label chasing that random/md5 parity
    only halves (two same-parity neighbors may still swap A->B while
    B->C in one round), at the cost of ~n_colors rounds per full
    sweep. ``rounds`` counts SWEEPS here (each sweep = n_colors move
    rounds), so quality is comparable across modes.

    ``mode='mis'``: round r moves the hash-local-minima independent
    set of a fresh per-round hash (``mis_hash``: fn(vertices, r) ->
    (vid, h); default xxhash64(vid, r)) — the same per-round
    chase-freedom as 'color' (movers are pairwise non-adjacent) but
    ~n/3 movers per round instead of n/n_colors, no coloring
    precompute, and each round costs one extra edge-scale anti-join.
    ``rounds`` counts MOVE ROUNDS here (3 rounds ≈ one full sweep in
    expectation). The schedule is deterministic and, with an
    md5-of-key hash, ANSI-SQL-replayable (the gated entry's choice)."""
    from essentials_spark.engine.superstep import (
        SuperstepRunner,
        edge_fingerprint,
        truncate_plan,
    )

    if mode not in ("sync", "semi", "color", "mis"):
        raise ValueError(f"unknown louvain mode {mode!r}")
    runner = runner or SuperstepRunner(g.edges.sparkSession, "louvain")
    degrees = truncate_plan(_degrees(g))
    two_m = int(_weighted(g.edges).agg(F.sum("w")).collect()[0][0] or 0)
    if init_labels is not None:
        labels = g.vertices.select("vid").join(
            init_labels.select("vid", F.col("label").cast("long").alias("_il")), "vid", "left"
        ).select("vid", F.coalesce(F.col("_il"), F.col("vid")).alias("label"))
    else:
        labels = g.vertices.select("vid", F.col("vid").alias("label"))
    par = None
    schedule: list[tuple[int, int]]  # (round, class) pairs
    if mode == "semi":
        # explicit None check: DataFrame must not be bool-evaluated
        # (future PySpark versions may raise on __bool__, as pandas does)
        par = semi_parity if semi_parity is not None else g.vertices.select(
            "vid", F.pmod(F.col("vid"), F.lit(2)).cast("int").alias("par")
        )
        par = truncate_plan(par.select("vid", F.col("par").cast("int").alias("par")))
        schedule = [(r, r % 2) for r in range(rounds)]
    elif mode == "color":
        from essentials_spark.algos.color import color as _color

        # self-loops don't constrain the coloring; drop them. color()
        # expects the (src, dst, weight) edge schema.
        ce = g.edges.filter(F.col("src") != F.col("dst")).select(
            "src", "dst", F.lit(1.0).alias("weight")
        )
        cg = Graph(vertices=g.vertices.select("vid"), edges=ce)
        par = truncate_plan(_color(cg).select("vid", F.col("color").cast("int").alias("par")))
        n_colors = int(par.agg(F.max("par")).collect()[0][0] or 0) + 1
        schedule = [(r, r % n_colors) for r in range(rounds * n_colors)]
    else:  # sync and mis: one entry per move round
        schedule = [(r, -1) for r in range(rounds)]
    mis_edges = None
    if mode == "mis":
        mis_edges = truncate_plan(
            g.edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
        )
    if runner.checkpoint_dir and runner.fingerprint is None:
        runner.fingerprint = (
            f"louvain:{mode}:init={init_labels is not None}"
            f":2m={two_m}:{edge_fingerprint(g.edges)}"
        )
    start = 0
    resumed = runner.latest()
    if resumed is not None:
        it, state, _meta = resumed
        if it <= len(schedule):
            labels, start = state.select("vid", "label"), it
    m = g.edges.count()
    with runner.loop(work_rows=m):
        for idx in range(start, len(schedule)):
            r, cls = schedule[idx]
            if mode == "mis":
                if mis_hash is not None:
                    hvals = mis_hash(g.vertices.select("vid"), r)
                else:
                    hvals = g.vertices.select(
                        "vid", F.xxhash64(F.col("vid"), F.lit(r)).alias("h")
                    )
                movers = _mis_movers(mis_edges, hvals)
            else:
                movers = (
                    par.filter(F.col("par") == cls).select("vid") if par is not None else None
                )
            labels = runner.materialize(
                louvain_move_round(g, labels, degrees, two_m, movers=movers),
                idx + 1,
                force=(idx == len(schedule) - 1),
            )
    return labels


def coarsen(g: Graph, labels: DataFrame) -> Graph:
    """Louvain phase-2: collapse each community into a super-vertex.

    Super-edges carry the SUM of the member edges' weights; the (c, c)
    self-loop row accumulates the community's internal directed weight
    (so weighted degrees and 2m are conserved exactly level-to-level —
    the invariant that keeps every level's move scores integers with
    the same 2m). One groupBy shuffle at the finer level's edge scale;
    the output is community-scale."""
    ls = labels.select(F.col("vid").alias("src"), F.col("label").alias("ls"))
    ld = labels.select(F.col("vid").alias("dst"), F.col("label").alias("ld"))
    edges = (
        _weighted(g.edges)
        .join(ls, "src")
        .join(ld, "dst")
        .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .agg(F.sum("w").cast("long").alias("w"))
    )
    verts = labels.select(F.col("label").alias("vid")).distinct()
    return Graph(vertices=verts, edges=edges)


def louvain_multilevel(
    g: Graph,
    level_rounds: tuple[int, ...] = (4, 4),
    mode: str = "semi",
    semi_parity: DataFrame | None = None,
    coarse_parity: "callable | None" = None,
    guard: bool = False,
    mis_hash: "callable | None" = None,
) -> DataFrame:
    """Full multi-level Louvain: phase-1 move rounds, coarsen, repeat
    on the super-graph, then compose the mappings back down to the
    original vertices. Returns (vid, label) where label is a level-0
    vid (the representative community id stays in the original id
    space — labels at coarser levels ARE finer-level community ids).

    ``coarse_parity``: optional fn(level_verts: DataFrame) -> (vid,
    par) giving the semi-schedule parity at coarser levels (the gate
    derives it from the community key's md5, keeping the whole
    schedule replayable in key space); default vid % 2.

    ``guard=True``: keep each coarser level's composition only if it
    strictly RAISES the integer modularity numerator q_num — arbitrary
    parity can let coarse labels chase each other (A→B while B→C in
    the same half-round), which fragments communities; the guard makes
    multi-level never worse than phase-1. Two 1-row aggregates per
    level; the comparison is exact integer algebra (replayable)."""
    from essentials_spark.engine.superstep import truncate_plan

    def _q_num(labels: DataFrame) -> int:
        from essentials_spark.algos.graphstats import modularity

        return int(modularity(g.edges.select("src", "dst"), labels).collect()[0].q_num)

    assign = None  # (vid, label) composed down to level 0
    best_q = None
    cur = g
    for li, rounds in enumerate(level_rounds):
        par = None
        if mode == "semi":
            if li == 0:
                par = semi_parity
            elif coarse_parity is not None:
                par = coarse_parity(cur.vertices)
        # mis_hash keys on vid, and coarser vids are level-0 vids, so
        # one hash closure covers every level (unlike semi's parity)
        labels = louvain(cur, rounds=rounds, mode=mode, semi_parity=par, mis_hash=mis_hash)
        if assign is None:
            composed = labels
        else:
            composed = truncate_plan(
                assign.select("vid", F.col("label").alias("mid"))
                .join(labels.select(F.col("vid").alias("mid"), "label"), "mid")
                .select("vid", "label")
            )
        if guard and assign is not None:
            if best_q is None:
                best_q = _q_num(assign)
            q = _q_num(composed)
            if q > best_q:
                assign, best_q = composed, q
            # rejected level: keep the finer assignment AND stop —
            # coarsening a rejected partition only compounds the drift
            else:
                break
        else:
            assign = composed
        if li < len(level_rounds) - 1:
            cur = coarsen(cur, labels)
            cur = Graph(
                vertices=truncate_plan(cur.vertices), edges=truncate_plan(cur.edges)
            )
    return assign
