"""Label propagation — synchronous mode-of-neighbors supersteps.

The reference has no standalone LP; its nearest relatives are graph
coloring's iterative per-vertex decisions from neighbor state
(include/gunrock/algorithms/color.hxx:99-146) and hash-min CC. Our LP
(SURVEY.md §2.12 gap analysis): every superstep each vertex adopts its
neighbors' most frequent label, **min-label tiebreak** for
determinism (the reference breaks ties with seeded index-derived
randoms, algorithms/generate/random.hxx:20-34 — a deterministic
function of the index; min-label is our deterministic choice).
Synchronous updates over the symmetrized edge table; stops at zero
changes or max_iter (synchronous LP can 2-cycle on bipartite
structure, so max_iter is part of the spec and oracles pin it).

Spark plan per superstep: groupBy(dst, label).count() then a
max_by-style struct-max per dst — two shuffle aggregates, both with
map-side partials. The edge table is persisted once as a src-bucketed
table (engine/static_table.py) so supersteps shuffle only label state;
``fused_iters`` folds k rounds into one Spark action.

Delta frontier (the reference's bypass-filter semantics,
operators/filter/bypass.hxx:11-46): a vertex's new label is a pure
function of its neighbors' labels, so only vertices with >= 1
changed-label neighbor can change — once the changed set collapses,
the mode recompute is restricted to ``affected = N(changed)``. Unlike
CC's monotone hash-min, the mode needs the FULL neighborhood of every
recomputed vertex, so the restricted stream is ``in-edges(affected) ⋈
labels`` (kcore_hindex's exact shape, not CC's push-only one). Shape
ladder, decided per round from the ACTUAL frontier (row count alone
bounds nothing on a power-law graph — one hub makes the neighborhood
edge-scale, so the small shape additionally gates on 1-hop and 2-hop
message MASS):

  full  — changed ~ n: m-scale state join, everything recomputed
  mid   — moderate frontier: full state join, message stream filtered
          to affected dsts before the aggregates (shuffle-hash hints)
  small — tiny frontier + bounded mass: affected set, its in-edge
          subset, and the per-dst winners all move via explicit
          broadcast; the n-row state and the bucketed edge table are
          only SCANNED, never exchanged

Exactness of the restriction (synchronous semantics preserved): after
round t every label equals the mode of its neighbors' round t-1
labels; if no neighbor of v changed in round t, v's round t+1 counts
equal its round t counts, so v's label is a provable no-op — the
restricted stream pairs with keep-label-when-no-message (the same
left-join coalesce the full round already uses for isolated vertices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import (
    STATE_BROADCAST_MAX_ROWS,
    hint_state_join,
    prepare_static_edges,
)
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def label_propagation(
    graph: Graph,
    max_iter: int = 20,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    edges_mode: str = "bucketed",
    fused_iters: int = 1,
    persist_result: bool = True,
    small_round_max: int | None = None,
    kernel: str = "dataframe",
    n_buckets: int | None = None,
    mode: str = "sync",
    semi_parity: DataFrame | None = None,
    edge_rows: int | None = None,
) -> DataFrame:
    """Returns (vid: long, label: long). Labels init to vid.
    ``persist_result=False`` releases the result's CacheManager pin
    before returning (data stays in checkpoint blocks; see cc.py).
    ``small_round_max``: frontier row count below which the broadcast
    (small) shape is considered (default: STATE_BROADCAST_MAX_ROWS//8,
    kcore_hindex's bound). Tests pass 0 to force full/mid shapes or a
    huge value to force the small shape.
    ``kernel='csr'``: FULL rounds compute the (dst, label) message
    counts as a vectorized gather/expand/run-length kernel over the
    packed CSR blocks (csr_blocks.csr_label_counts) instead of the
    join + groupBy — the same A/B-exact physical alternative CC and PR
    ship; mid/small delta rounds stay dataframe-side (their restricted
    streams are frontier-scale, where the block scan would dominate).

    ``mode='semi'``: SEMI-SYNCHRONOUS updates — each round only a
    deterministic half of the vertices (``semi_parity``: (vid, par
    in {0,1}); default par = vid % 2) adopts the neighbor mode, parity
    alternating per round. Breaks the 2-cycle oscillation that keeps
    sync LP at ~n-scale frontiers forever on chain/bipartite structure
    (sync LP provably never converges on 2-colorable regions — each
    side keeps re-adopting the other's previous labels), so
    convergence-mode LP becomes usable on transcript graphs.
    Deterministic and oracle-replayable; convergence requires TWO
    consecutive zero-change rounds (one covers only one parity).
    ``edge_rows``: the known edge count for edges_mode='prepared'."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "lp")
    semi = mode == "semi"
    if mode not in ("sync", "semi"):
        raise ValueError(f"unknown LP mode {mode!r}")

    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    edges, m = prepare_static_edges(edges.select("src", "dst"), runner, mode=edges_mode, rows=edge_rows, name_hint="lp")

    blocks = None
    if kernel == "csr":
        from essentials_spark.graph.csr_blocks import build_csr_blocks, csr_label_counts

        n_buckets = n_buckets or spark.sparkContext.defaultParallelism
        blocks, _ = prepare_static_edges(
            build_csr_blocks(edges.withColumn("coef", F.lit(1.0)), n_buckets),
            runner, keys="bucket", n_buckets=n_buckets, name_hint="lp_blocks",
        )

    init = graph.vertices.select("vid", F.col("vid").alias("label"))
    if semi:
        # parity rides in the state so rounds never re-join it; a
        # missing parity row defaults to 0 (deterministic)
        if semi_parity is not None:
            par_df = semi_parity.select("vid", F.col("par").cast("int").alias("par"))
        else:
            par_df = graph.vertices.select(
                "vid", F.pmod(F.col("vid"), F.lit(2)).cast("int").alias("par")
            )
        init = init.join(par_df, "vid", "left").select(
            "vid", "label", F.coalesce(F.col("par"), F.lit(0)).alias("par")
        )
    labels = truncate_plan(init)
    n = labels.count()

    if runner.fingerprint is None:
        runner.fingerprint = f"lp:{mode}:n={n}:m={m}:max_iter={max_iter}"
    iteration = 0
    converged = False
    resumed = runner.latest()
    if resumed is not None:
        iteration, labels, meta = resumed
        converged = bool(meta.get("converged"))
    labels = labels.persist()
    # changed set: vertices whose label moved last round (all, at
    # start; on a non-converged resume the full set is a safe superset
    # — extra recompute, identical values). Semi mode also carries the
    # PREVIOUS round's delta: an inactive vertex reacts to a neighbor
    # change only on its next active round, so the sound restricted
    # frontier is N(changed_t UNION changed_{t-1}) and convergence
    # needs both deltas empty.
    changed = labels.select("vid")
    changed_rows = n
    prev_changed = changed
    prev_rows = n

    # out-degree table for the message-mass gates (bucketed scan +
    # partial agg — no shuffle; symmetrized table so in-deg == out-deg)
    _deg_cache: dict = {}

    def _mass(front: DataFrame) -> int:
        # any frontier's neighborhood mass is bounded by the total edge
        # count — when that is already under every caller's cap, skip
        # the per-round probe job entirely
        if m < 4 * STATE_BROADCAST_MAX_ROWS:
            return m
        if "deg" not in _deg_cache:
            d = edges.groupBy("src").agg(F.count("*").alias("_deg")).persist()
            _deg_cache["deg"] = d
            runner.defer(d.unpersist)
        row = (
            _deg_cache["deg"]
            .join(F.broadcast(front.select(F.col("vid").alias("src"))), "src")
            .agg(F.sum("_deg"))
            .collect()[0][0]
        )
        return int(row or 0)

    def one_round(cur: DataFrame, chg: DataFrame, chg_rows: int, shape: str, rnd: int = 0) -> DataFrame:
        """One mode-of-neighbors round -> (vid, label, old). ``shape``
        ('full' | 'mid' | 'small') is decided by the caller from the
        ACTUAL frontier's row count and message mass (module
        docstring); a stale full/mid hint only costs recompute, never
        a wrong value, because every shape pairs its stream with the
        same keep-label-when-no-message update."""
        full = shape == "full"
        small = shape == "small"
        if small:
            # frontier-scale round: ZERO state-side exchange. The
            # affected set and its in-edge subset are bounded by the
            # gated 1-hop / 2-hop masses — both move via explicit
            # broadcast; the n-row label state is only SCANNED (once
            # for the src lookup, once for the update).
            affected = (
                edges.join(F.broadcast(chg.select(F.col("vid").alias("src"))), "src")
                .select("dst")
                .distinct()
            )
            sub = edges.join(F.broadcast(affected), "dst")  # in-edges of affected
            joined = cur.select(F.col("vid").alias("src"), "label").join(F.broadcast(sub), "src")
        elif not full:
            # mid-size frontier: full state join into the bucketed
            # layout, message stream filtered to affected dsts before
            # the aggregates. `affected` is a NEIGHBORHOOD (unbounded
            # by the frontier row count on hub-heavy graphs) — never
            # broadcast-hinted; shuffle_hash is the safe join for it.
            affected = (
                edges.join(hint_state_join(chg.select(F.col("vid").alias("src")), chg_rows), "src")
                .select("dst")
                .distinct()
            )
            joined = edges.join(
                hint_state_join(cur.select(F.col("vid").alias("src"), "label"), n), "src"
            ).join(hint_state_join(affected, None), "dst")
        elif blocks is not None:
            # full round on the CSR kernel path: the message counts
            # come out of the packed blocks, no edge-side join at all
            joined = None
        else:
            # adaptive state-join hint (see engine/static_table.py):
            # label state is vertex-scale forever — broadcast only when
            # the vertex count is genuinely small, else shuffle_hash
            joined = edges.join(
                hint_state_join(cur.select(F.col("vid").alias("src"), "label"), n), "src"
            )
        if joined is None:
            from essentials_spark.graph.csr_blocks import csr_label_counts

            counts = csr_label_counts(blocks, cur.select("vid", "label"), n_buckets)
        else:
            counts = joined.groupBy("dst", "label").agg(F.count("*").alias("cnt"))
        # most frequent label, min-label tiebreak: max of (cnt, -label)
        best = (
            counts.groupBy("dst")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top"))
            .select(F.col("dst").alias("vid"), (-F.col("top.neg")).alias("new_label"))
        )
        # small rounds: winners are affected-scale — broadcast them so
        # the state update is a pure scan (no state exchange)
        best_side = F.broadcast(best) if small else best
        upd = F.coalesce(F.col("new_label"), F.col("label"))
        if semi:
            # only the round's active parity adopts; the other half
            # keeps its label verbatim (the 2-cycle breaker)
            upd = F.when(F.col("par") == F.lit(rnd % 2), upd).otherwise(F.col("label"))
        return cur.join(best_side, "vid", "left").select(
            "vid",
            upd.alias("label"),
            F.col("label").alias("old"),
            *(["par"] if semi else []),
        )

    # clamp fused depth: each unrolled round multiplies the logical
    # plan and Catalyst's carried size stats grow superlinearly with
    # block depth — measured on unrolled PageRank blocks (3 references
    # per round): fused_iters=10 planning-stalled (>500 s) where 5 ran
    # in 27 s at 3.3M vertices. truncate_plan resets stats at every
    # block boundary
    fused_iters = min(fused_iters, 6)
    small_bound = (
        STATE_BROADCAST_MAX_ROWS // 8 if small_round_max is None else small_round_max
    )
    mass_cap = 4 * STATE_BROADCAST_MAX_ROWS
    with runner.loop(work_rows=m):
        while not converged and iteration < max_iter:
            # shape decision from the ACTUAL frontier (module docstring).
            # Within a fused block the shape is stale by <k rounds — the 4x
            # cap over the state-broadcast bound is the margin for that
            # drift, and a mid-shape fallback is always value-identical.
            # restriction profits only when the frontier is a MINORITY:
            # synchronous LP oscillates on chain-like structure, so a
            # convergence-mode run can hold a ~n-scale frontier for many
            # rounds — there the affected set is ~n too, and the restricted
            # shapes just add a distinct + an extra join (or near-m-scale
            # broadcasts) on top of the same full recompute (observed on
            # transcript graphs: changed = 98% of n every round). Semi mode
            # gates on the TWO-round union (docstring at `changed` init):
            # an inactive vertex reacts one round late.
            if semi:
                front = changed.unionByName(prev_changed).distinct()
                front_rows = changed_rows + prev_rows
            else:
                front, front_rows = changed, changed_rows
            if 2 * front_rows >= n:
                shape = "full"
            elif front_rows and front_rows < small_bound and _mass(front) < mass_cap:
                affected_probe = (
                    edges.join(F.broadcast(front.select(F.col("vid").alias("src"))), "src")
                    .select(F.col("dst").alias("vid"))
                    .distinct()
                )
                shape = "small" if _mass(affected_probe) < mass_cap else "mid"
            else:
                shape = "mid"
            # fuse full and small rounds (full sub-rounds pay the m-scale
            # stream regardless, so fusing them only saves action overhead;
            # small sub-rounds track their own chg). Mid rounds run one per
            # action: their restricted stream wants a FRESH frontier, and a
            # stale mid hint pays near-m-scale work per sub-round.
            k = min(max(1, fused_iters), max_iter - iteration) if shape != "mid" else 1
            cur, chg = labels, front
            state_cols = ["vid", "label"] + (["par"] if semi else [])
            sub_deltas: list[DataFrame] = []  # per-sub-round deltas (semi)
            intermediates = []
            for j in range(k):
                cur = one_round(cur.select(*state_cols), chg, front_rows, shape, rnd=iteration + j)
                # last fused iterate flows straight into materialize —
                # persisting it too writes a redundant n-scale cache copy;
                # non-final iterates are referenced by their successor
                # (messages + join left side)
                if j < k - 1:
                    cur = cur.persist()
                    intermediates.append(cur)
                    sub = cur.filter(F.col("label") != F.col("old")).select("vid")
                    sub_deltas.append(sub)
                    # semi: the restricted stream for sub-round j+1 needs
                    # the union of the last TWO deltas
                    if semi:
                        older = sub_deltas[-2] if len(sub_deltas) >= 2 else changed
                        chg = sub.unionByName(older).distinct()
                    else:
                        chg = sub
            new_labels = runner.materialize(cur, iteration + k)
            delta = new_labels.filter(F.col("label") != F.col("old")).select("vid")
            n_changed = delta.count()
            iteration += k
            runner.log(
                iteration,
                changed=n_changed,
                shape=shape,
                frontier_rows=front_rows,
                edges_processed=m * k,
            )
            labels.unpersist()
            labels = new_labels.drop("old").persist()
            if semi:
                # previous-round delta: last fused sub-round's (or the
                # prior outer delta when the block had one round);
                # truncate_plan pins it before the intermediates it reads
                # from are released below
                if sub_deltas:
                    prev_changed = truncate_plan(sub_deltas[-1])
                    prev_rows = prev_changed.count()
                else:
                    prev_changed = changed
                    prev_rows = changed_rows
            changed = delta
            changed_rows = n_changed
            for df in intermediates:
                df.unpersist()
            if n_changed == 0 and (not semi or prev_rows == 0):
                prev = labels
                labels = runner.materialize(
                    labels, iteration, eager=True, force=True, meta={"converged": True}
                ).persist()
                prev.unpersist()  # superseded by the eager checkpoint
                break

    out = runner.finalize(labels.select("vid", "label"))
    if not persist_result:
        labels.unpersist()
    return out
