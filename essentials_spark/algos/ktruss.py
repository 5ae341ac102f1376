"""K-truss decomposition — iterative support peeling over the
degree-oriented triangle enumeration.

The k-truss is the maximal subgraph in which every edge participates
in at least k-2 triangles (Cohen 2008) — the edge-analogue of k-core
and the standard cohesion refinement of triangle counting. The
reference ships the counting half (include/gunrock/algorithms/
tc.hxx:68-129); this extends it with the same remove-filter peeling
discipline its k-core and MST enactors use (filter/remove semantics,
operators/filter/filter.hxx) applied to EDGES.

Two physical paths, A/B-exact (fuzz-pinned):

- ``delta=False`` (full recompute): per round, per-edge support via
  the identical degree-oriented wedge join triangle_count uses
  (orientation bounds every wedge fan-out to O(sqrt m) — algos/tc.py
  module docstring), then one semi-join keeps edges with support
  >= k-2. Every round costs O(current subgraph).

- ``delta=True`` (default — the 100 TB shape, same discipline as the
  engine's CC/kcore/geo delta frontiers): support is computed in FULL
  once, then MAINTAINED. A dropped edge only destroys the triangles
  it sits in, so each round enumerates exactly those (dropped edges
  pivoted on their lower-degree endpoint — degree table maintained
  incrementally, never recomputed — joined against the adjacency
  once, closure semi-checked, canonical-triangle dedup so a triangle
  losing 2-3 edges decrements survivors ONCE), and subtracts. Round r
  costs O(|dropped_r| x avg-degree), not O(|G_r|): after the first
  pass the cascade is frontier-scale, the exact pattern that made
  full-recompute tails the dominant cost in CC before round 3.

Peeling order cannot matter (removing an unqualified edge never
qualifies another; supports only decrease), so both paths return the
unique maximal subgraph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (src < dst) edge set.

    Returns (src, dst, sup) for edges with sup >= 1; edges in no
    triangle have no row. Same orientation algebra as triangle_count
    (tc.hxx:68-129 semantics, degree-ordered wedges)."""
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "vid")
    with_deg = (
        und.join(deg.select(F.col("vid").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    )
    lower_first = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
    oriented = truncate_plan(
        with_deg.select(
            F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
            F.when(lower_first, F.col("ddeg")).otherwise(F.col("sdeg")).alias("vdeg"),
        )
    )
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("vdeg").alias("bdeg"))
    e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"), F.col("vdeg").alias("cdeg"))
    wedges = e1.join(e2, "a").filter(F.struct("bdeg", "b") < F.struct("cdeg", "c"))
    closing = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    triangles = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    # each triangle supports its three canonical edges once
    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")),
                F.struct(F.least("b", "c").alias("src"), F.greatest("b", "c").alias("dst")),
                F.struct(F.least("a", "c").alias("src"), F.greatest("a", "c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return tri_edges.groupBy("src", "dst").agg(F.count("*").alias("sup"))


def ktruss(
    graph: Graph,
    k: int,
    max_iter: int = 200,
    runner: SuperstepRunner | None = None,
    delta: bool = True,
) -> DataFrame:
    """Edges (src, dst; canonical src < dst) of the k-truss.

    Peels edges with support < k-2 until the support condition holds
    for every survivor. k <= 2 returns the whole canonical edge set
    (every edge is trivially in a 2-truss). ``delta`` selects the
    maintained-support path (default; see module docstring) vs the
    per-round full recompute — both return identical edge sets."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "ktruss")
    und = canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    ).filter(F.col("src") < F.col("dst")).select("src", "dst")
    und = truncate_plan(und).persist()
    n_prev = und.count()
    if k <= 2 or n_prev == 0:
        return runner.finalize(und)
    if not delta:
        it = 0
        with runner.loop(work_rows=n_prev):
            while it < max_iter:
                it += 1
                sup = edge_support(und)
                keep = truncate_plan(
                    und.join(
                        sup.filter(F.col("sup") >= k - 2).select("src", "dst"),
                        ["src", "dst"],
                        "left_semi",
                    )
                ).persist()
                n_keep = keep.count()
                runner.log(it, edges=n_keep, dropped=n_prev - n_keep)
                und.unpersist()
                und = keep
                if n_keep == n_prev or n_keep == 0:
                    break
                n_prev = n_keep
        return runner.finalize(und)

    # delta path: one full support pass, then maintain. Edges in no
    # triangle carry sup 0 (edge_support omits them). The support
    # table IS the resume state: its keys are the surviving edge set
    # and degrees are derivable, so a durable runner checkpoint of sup
    # restarts the peel mid-cascade (fingerprint-gated, engine
    # contract — engine/superstep.py).
    if runner.fingerprint is None:
        runner.fingerprint = f"ktruss:k={k}:m={n_prev}"
    it0 = 0
    resumed = runner.latest()
    if resumed is not None:
        it0, sup, meta = resumed
        sup = sup.persist()
        und.unpersist()
        und = truncate_plan(sup.select("src", "dst")).persist()
        n_prev = und.count()
        if meta.get("converged") or n_prev == 0:
            sup.unpersist()
            return runner.finalize(und)
        deg = truncate_plan(
            und.select(F.col("src").alias("vid"))
            .unionByName(und.select(F.col("dst").alias("vid")))
            .groupBy("vid").agg(F.count("*").alias("deg"))
        ).persist()
    else:
        sup, deg = _init_support_state(und)
    und, sup, deg, _n, it_end = _peel_delta(
        und, sup, deg, k, n_prev, runner, max_iter, iter_base=it0
    )
    if runner.checkpoint_dir:
        runner.materialize(sup, it_end, force=True, meta={"converged": True, "k": k})
    sup.unpersist()
    deg.unpersist()
    return runner.finalize(und)


def _init_support_state(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One full support pass + the symmetric degree table, persisted."""
    sup = truncate_plan(
        und.join(edge_support(und), ["src", "dst"], "left")
        .select("src", "dst", F.coalesce("sup", F.lit(0)).alias("sup"))
    ).persist()
    deg = truncate_plan(
        und.select(F.col("src").alias("vid"))
        .unionByName(und.select(F.col("dst").alias("vid")))
        .groupBy("vid").agg(F.count("*").alias("deg"))
    ).persist()
    return sup, deg


def _peel_delta(
    und: DataFrame,
    sup: DataFrame,
    deg: DataFrame,
    k: int,
    n_edges: int,
    runner: SuperstepRunner,
    max_iter: int,
    keep_drops: list[DataFrame] | None = None,
    iter_base: int = 0,
    state_fn=None,
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """Run the threshold-k delta peel to its fixpoint.

    (und, sup, deg) must be persisted with sup/deg exact for und; the
    returned triple is again persisted-and-exact, so successive calls
    with increasing k (truss decomposition) continue seamlessly. When
    ``keep_drops`` is given, each round's dropped-edge DataFrame is
    appended to it still persisted (caller unpersists). ``iter_base``
    offsets the logged/checkpointed iteration counter across calls;
    when the runner has a checkpoint_dir, every checkpoint_every-th
    round durably writes ``state_fn(sup)`` (default: sup itself) so an
    interrupted peel resumes mid-cascade. Returns the triple plus
    (surviving edges, last global iteration)."""
    n_prev = n_edges
    it = iter_base
    with runner.loop(work_rows=n_edges):
        while it < iter_base + max_iter:
            it += 1
            drop = truncate_plan(sup.filter(F.col("sup") < k - 2).select("src", "dst")).persist()
            n_drop = drop.count()
            if n_drop == 0:
                drop.unpersist()
                break
            keep = truncate_plan(und.join(drop, ["src", "dst"], "left_anti")).persist()
            n_keep = n_prev - n_drop  # drop is a subset of und: no extra count
            runner.log(it, k=k, edges=n_keep, dropped=n_drop)
            # enumerate EXACTLY the destroyed triangles: each dropped edge
            # pivoted on its lower-degree endpoint, one adjacency join
            # against the pre-removal graph, closure semi-check, then
            # canonical-triangle dedup (a triangle losing 2-3 edges must
            # decrement its surviving edges once, not twice).
            dd = (
                drop
                .join(deg.select(F.col("vid").alias("src"), F.col("deg").alias("sdeg")), "src")
                .join(deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg")), "dst")
            )
            lower_first = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
            piv = dd.select(
                F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("p"),
                F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("q"),
            )
            sym = und.unionByName(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            cand = (
                piv.join(sym.select(F.col("src").alias("p"), F.col("dst").alias("w")), "p")
                .filter(F.col("w") != F.col("q"))
            )
            tri = cand.join(
                und.select(F.col("src").alias("c1"), F.col("dst").alias("c2")),
                (F.least("q", "w") == F.col("c1")) & (F.greatest("q", "w") == F.col("c2")),
                "left_semi",
            )
            tri_c = tri.select(F.array_sort(F.array("p", "q", "w")).alias("t")).distinct()
            dec = (
                tri_c.select(
                    F.explode(
                        F.array(
                            F.struct(F.col("t")[0].alias("src"), F.col("t")[1].alias("dst")),
                            F.struct(F.col("t")[0].alias("src"), F.col("t")[2].alias("dst")),
                            F.struct(F.col("t")[1].alias("src"), F.col("t")[2].alias("dst")),
                        )
                    ).alias("e")
                )
                .select("e.src", "e.dst")
                .groupBy("src", "dst").agg(F.count("*").alias("d"))
            )
            new_sup = truncate_plan(
                sup.join(drop, ["src", "dst"], "left_anti")
                .join(dec, ["src", "dst"], "left")
                .select("src", "dst", (F.col("sup") - F.coalesce("d", F.lit(0))).alias("sup"))
            ).persist()
            # degree maintenance: each dropped edge lowers both endpoints
            # by 1 — |drop|-scale, never an m-scale regroup
            ddelta = (
                drop.select(F.col("src").alias("vid"))
                .unionByName(drop.select(F.col("dst").alias("vid")))
                .groupBy("vid").agg(F.count("*").alias("dd"))
            )
            new_deg = truncate_plan(
                deg.join(ddelta, "vid", "left")
                .select("vid", (F.col("deg") - F.coalesce("dd", F.lit(0))).alias("deg"))
            ).persist()
            for df in (und, sup, deg):
                df.unpersist()
            if keep_drops is None:
                drop.unpersist()
            else:
                keep_drops.append(drop)
            und, sup, deg = keep, new_sup, new_deg
            n_prev = n_keep
            if runner.checkpoint_dir and it % runner.checkpoint_every == 0:
                runner.materialize(
                    state_fn(sup) if state_fn else sup, it, meta={"k": k}
                )
            if n_keep == 0:
                break
    return und, sup, deg, n_prev, it


def truss_decomposition(
    graph: Graph,
    k_max: int | None = None,
    max_iter: int = 200,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """(src, dst, trussness) for every canonical edge of the graph.

    trussness(e) = max k such that e is in the k-truss; every edge is
    trivially in the 2-truss, so trussness >= 2. Computed as ONE
    ascending peel over the delta-maintained support state: the
    threshold-k fixpoint's (und, sup, deg) triple is exactly the
    k-truss subgraph with exact supports, so the k+1 peel resumes from
    it with zero recomputation — the whole decomposition costs one
    full support pass plus O(total drops x degree), the edge-analogue
    of kcore's ascending peel (algos/kcore.py, reference
    algorithms/kcore.hxx:112-199 semantics applied to edges). With
    ``k_max`` set, survivors report the capped value k_max
    (kcore-style cap semantics).

    Resumable: the runner's durable checkpoints store ONE DataFrame —
    settled edges (trussness set, sup null) unioned with the active
    support table (sup set, trussness null) — plus the current k in
    the checkpoint meta, so an interrupted decomposition restarts
    mid-peel at the right threshold with every already-settled edge
    intact (a round's dropped edges have their trussness the moment
    they drop, so the state closure folds them in immediately)."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "truss_decomposition")
    und = canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    ).filter(F.col("src") < F.col("dst")).select("src", "dst")
    und = truncate_plan(und).persist()
    n = und.count()
    if n == 0 or (k_max is not None and k_max <= 2):
        out = und.withColumn("trussness", F.lit(min(k_max or 2, 2)).cast("int"))
        return runner.finalize(out)
    if runner.fingerprint is None:
        runner.fingerprint = f"truss:kmax={k_max}:m={n}"
    pieces: list[DataFrame] = []
    cleanup: list[DataFrame] = []
    k = 3
    gl = 0
    resumed = runner.latest()
    if resumed is not None:
        gl, state, meta = resumed
        if meta.get("converged"):
            und.unpersist()
            runner.finalize()
            return state.select("src", "dst", "trussness")
        k = int(meta.get("k", 3))
        state = state.persist()
        settled = truncate_plan(
            state.filter(F.col("trussness").isNotNull()).select("src", "dst", "trussness")
        ).persist()
        settled.count()
        pieces.append(settled)
        sup = truncate_plan(
            state.filter(F.col("trussness").isNull()).select("src", "dst", "sup")
        ).persist()
        und.unpersist()
        und = truncate_plan(sup.select("src", "dst")).persist()
        n = und.count()
        deg = truncate_plan(
            und.select(F.col("src").alias("vid"))
            .unionByName(und.select(F.col("dst").alias("vid")))
            .groupBy("vid").agg(F.count("*").alias("deg"))
        ).persist()
        state.unpersist()
    else:
        sup, deg = _init_support_state(und)

    def _mk_state(drops_ref: list[DataFrame], k_now: int):
        def _state(sup_df: DataFrame) -> DataFrame:
            st = sup_df.select("src", "dst", "sup").withColumn(
                "trussness", F.lit(None).cast("int")
            )
            for p in pieces:
                st = st.unionByName(
                    p.select("src", "dst", F.lit(None).cast("long").alias("sup"), "trussness")
                )
            for d in drops_ref:
                st = st.unionByName(
                    d.select(
                        "src", "dst",
                        F.lit(None).cast("long").alias("sup"),
                        F.lit(k_now - 1).cast("int").alias("trussness"),
                    )
                )
            return st
        return _state

    while n > 0 and (k_max is None or k <= k_max):
        drops: list[DataFrame] = []
        und, sup, deg, n, gl = _peel_delta(
            und, sup, deg, k, n, runner, max_iter,
            keep_drops=drops, iter_base=gl, state_fn=_mk_state(drops, k),
        )
        if drops:
            dropped = drops[0]
            for d in drops[1:]:
                dropped = dropped.unionByName(d)
            piece = truncate_plan(
                dropped.withColumn("trussness", F.lit(k - 1).cast("int"))
            ).persist()
            piece.count()  # materialize so the round drops can be released
            pieces.append(piece)
            cleanup.extend(drops)
        k += 1
    if n > 0:  # k_max cap reached: survivors carry the capped value
        pieces.append(und.withColumn("trussness", F.lit(k_max).cast("int")))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    out = truncate_plan(out)
    if runner.checkpoint_dir:
        runner.materialize(
            out.select(
                "src", "dst", F.lit(None).cast("long").alias("sup"), "trussness"
            ),
            gl + 1, force=True, meta={"converged": True, "k": k},
        )
    for df in cleanup + pieces + [und, sup, deg]:
        df.unpersist()
    return runner.finalize(out)
