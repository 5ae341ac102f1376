"""Connected components — hash-min + root hooking + pointer jumping.

The reference has no standalone CC, but its MST ships the machinery
(include/gunrock/algorithms/mst.hxx:173-220: min-neighbor, contract,
pointer jumping `while (new_roots[u] != u)`). We compose the same
primitives as supersteps. Per round:

  cand(v)  = min(label(v), min over neighbors u of label(u))  # hash-min
  hook(r)  = min(r, min over {v : label(v)=r} of cand(v))     # root hooking
  label(v) = min(cand(v), hook(label(v)), hook(cand(v)))      # jump

Root hooking is the union-find "contract" step: whenever ANY member of
a pointer tree discovers a smaller label, the tree's root absorbs it
in the same round and every member picks it up through the jump in the
next — without it, a minimum entering a long chain mid-way crawls
1 hop/round toward the chain's root (observed: 55 rounds on max-64-turn
conversations; with hooking: O(log n)).

Delta frontier: only vertices whose label changed last round push
hash-min messages (the reference's bypass-filter semantics,
operators/filter/bypass.hxx) — converged when nothing changes.

Scale shape: the symmetrized edge table is persisted ONCE as a
src-bucketed table (engine/static_table.py), so each superstep
shuffles only the vertex-state side. Final labels are exact: min vid
per component (canonical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import (
    STATE_BROADCAST_MAX_ROWS,
    hint_state_join,
    prepare_static_edges,
)
from essentials_spark.engine.superstep import SuperstepRunner, edge_fingerprint, truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def _shiloach_vishkin_kernel(pdf):
    """Solve one edge batch's components outright in NumPy: hash-min
    via np.minimum.at (≙ atomic::min, reference mst.hxx:173-199) +
    label[label] pointer-doubling collapse (mst.hxx:207-220), iterated
    to fixpoint. Input pdf needs src/dst columns (extra grouping
    columns are ignored); returns (vid, root) with root = component
    min vid. Duplicate- and direction-insensitive."""
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return pd.DataFrame({"vid": pd.Series(dtype="int64"), "root": pd.Series(dtype="int64")})
    a = pdf["src"].to_numpy()
    b = pdf["dst"].to_numpy()
    verts = np.unique(np.concatenate([a, b]))
    ai = np.searchsorted(verts, a)
    bi = np.searchsorted(verts, b)
    # verts sorted ascending -> index order == vid order, so min
    # over indices is min over vids
    lab = np.arange(len(verts), dtype=np.int64)
    while True:
        new = lab.copy()
        np.minimum.at(new, ai, lab[bi])
        np.minimum.at(new, bi, lab[ai])
        # pointer-doubling collapse to the current fixpoint
        while True:
            n2 = new[new]
            if np.array_equal(n2, new):
                break
            new = n2
        if np.array_equal(new, lab):
            break
        lab = new
    return pd.DataFrame({"vid": verts, "root": verts[lab]})


def incremental_cc_update(
    labels: DataFrame,
    new_edges: DataFrame,
    single_solve_max: int = 20_000_000,
) -> DataFrame:
    """Exact incremental CC maintenance (streaming micro-batch shape).

    ``labels``: current canonical (min-vid) component labels
    (vid: long, label: long). ``new_edges``: a batch of NEW edges
    (src, dst) — endpoints unseen by ``labels`` are admitted as fresh
    self-labeled vertices. Returns updated (vid, label) EQUAL to
    ``connected_components`` on the union graph.

    Merge algebra: new edges only ever MERGE components. Relabel the
    batch through the current labels (a component is its min-vid
    representative, so relabeled pairs connect representatives), drop
    the intra-component pairs, and solve the resulting ROOT-SCALE
    graph with the same vectorized kernel contraction CC uses; compose
    label'(v) = sol(label(v)). Canonicality is preserved: the merged
    root is the min over merged components' min-vids = the union
    component's min vid.

    Per batch the n-scale state is joined twice (relabel + compose),
    never iterated; everything else is batch- or root-scale. Batches
    past ``single_solve_max`` relabeled pairs fall back to the full
    two-phase contraction solve instead of the one-task kernel.
    Reference anchor: mst.hxx's supervertex contraction is the same
    union algebra."""
    fresh = (
        new_edges.select(F.col("src").alias("vid"))
        .union(new_edges.select(F.col("dst").alias("vid")))
        .distinct()
        .join(labels.select("vid"), "vid", "left_anti")
        .select("vid", F.col("vid").alias("label"))
    )
    base = truncate_plan(labels.unionByName(fresh)).persist()
    e2 = truncate_plan(
        new_edges
        .join(base.select(F.col("vid").alias("src"), F.col("label").alias("lsrc")), "src")
        .join(base.select(F.col("vid").alias("dst"), F.col("label").alias("ldst")), "dst")
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    ).persist()
    e2_rows = e2.count()
    if e2_rows == 0:
        out = truncate_plan(base.select("vid", "label"))
        base.unpersist()
        e2.unpersist()
        return out
    if e2_rows <= single_solve_max:
        sol = (
            e2.withColumn("bucket", F.lit(0))
            .groupBy("bucket")
            .applyInPandas(_shiloach_vishkin_kernel, schema="vid long, root long")
        )
    else:
        roots = e2.select(F.col("src").alias("vid")).union(
            e2.select(F.col("dst").alias("vid"))
        ).distinct()
        sol = connected_components_contract(
            Graph(vertices=roots, edges=e2.withColumn("weight", F.lit(1.0))),
            persist_result=False,
        ).select("vid", F.col("label").alias("root"))
    # untouched components (no batch edge) keep their label: left join;
    # sol is root-scale — broadcast below the state-broadcast bound
    sol_side = hint_state_join(
        sol.select(F.col("vid").alias("label"), "root"),
        2 * e2_rows if e2_rows <= single_solve_max else None,  # |sol| <= 2|e2|
    )
    out = truncate_plan(
        base.join(sol_side, "label", "left")
        .select("vid", F.coalesce(F.col("root"), F.col("label")).alias("label"))
    )
    base.unpersist()
    e2.unpersist()
    return out


def connected_components_contract(
    graph: Graph,
    n_buckets: int | None = None,
    runner: SuperstepRunner | None = None,
    max_iter: int = 200,
    persist_result: bool = True,
    single_solve_max: int = 20_000_000,
    bucket_row_cap: int = 32_000_000,
) -> DataFrame:
    """Two-phase contraction CC — the fully-vectorized CSR-path answer
    to hook/jump staying dataframe-side in ``kernel='csr'``.

    Phase 1 (embarrassingly parallel, zero supersteps): canonical
    undirected edges are RANGE-bucketed by their max endpoint; each
    bucket's subgraph is solved outright by a per-bucket NumPy
    Shiloach-Vishkin kernel (np.minimum.at hash-min + label[label]
    pointer-doubling collapse — the reference's atomic::min
    (mst.hxx:173-199) and its jump loop (mst.hxx:207-220) fused into
    one Arrow batch; no per-row Python). Emits (vid, root) with root =
    local-component min vid.

    Phase 2: those mapping rows ARE edges of a contracted graph with
    identical components and star-shaped (tiny-diameter) structure —
    the existing dataframe engine converges on it in a handful of
    rounds instead of O(diameter).

    Exactness: phase 1 is correct under ANY edge partition (a bucket's
    local components are genuine sub-components; the union of per-
    bucket star edges preserves global connectivity), and CC labels
    are canonical min-vid, so the output is A/B-exact with
    ``connected_components``. Routing only affects CONTRACTION
    QUALITY: vids are rank-of-skey (graph/keyed.py), so a
    conversation's turns are consecutive and range bucketing keeps
    whole conversations bucket-local — phase 1 collapses the chains
    that cost the superstep engine its O(log n) rounds. Max-endpoint
    routing spreads tool-hub edges across their neighbors' buckets
    (tool vids sort first, so min-endpoint routing would pile every
    hub edge into one bucket).

    At 100 TB: phase 1 is one shuffle + memory-speed kernels per
    bucket; buckets should track cluster parallelism so each block
    fits executor memory. Because ``applyInPandas`` cannot split a
    single group, a skewed range bucket (dense vid region, or
    n_buckets ≪ m/mem) would otherwise OOM one executor — so any
    bucket whose edge count exceeds ``bucket_row_cap`` is sub-bucketed
    by an edge-hash salt (exact under any partition, see above; the
    split bucket just contracts a little less). The sizes pass is a
    map-side-partial count whose output is n_buckets driver rows.
    Phase 2 runs at ROOT scale (one vertex per local component — for
    conversation graphs, ~#conversations, an order of magnitude below
    n); rehydration is one n-scale co-partitioned join plus a
    root-scale lookup."""
    import numpy as np
    import pandas as pd

    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "cc_contract")
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    n = graph.vertices.count()

    # --- resumability (north-rule line item, phase granularity) -----
    # Durable points when a checkpoint_dir is configured:
    #   iter=1 after phase 1 — rmin + star combined into one tagged
    #          table (kind 0 = (vid, r) representative rows, kind 1 =
    #          (src, dst) star edges): the phases that dominate cost
    #          (the m-scale bucket shuffle + the kernels) never re-run;
    #   iter=2 the final labels (phase 'done') — a completed run
    #          restores verbatim, matching the superstep engine's
    #          force-checkpoint-on-convergence contract.
    # The fingerprint includes m (one column-pruned count, paid only by
    # checkpointed runs) so a same-n different-edge-set rerun refuses
    # the stale state instead of resuming it.
    rmin = star = agg = None
    star_cnt = 0
    if runner.checkpoint_dir and runner.fingerprint is None:
        # content hash, not a count: equal-cardinality different edge
        # sets must not resume each other's checkpoints
        runner.fingerprint = (
            f"cc_contract:n={n}:{edge_fingerprint(graph.edges)}:b={n_buckets}:cap={bucket_row_cap}"
        )
    resumed = runner.latest()
    if resumed is not None:
        _it0, df0, meta0 = resumed
        if meta0.get("phase") == "done":
            out = df0
            if persist_result:
                out = out.persist()
                out.count()
            runner.log(0, phase="resume", resumed="done")
            return runner.finalize(out)
        if meta0.get("phase") == "contract":
            rmin = df0.filter(F.col("kind") == 0).select(
                F.col("a").alias("vid"), F.col("b").alias("r")
            )
            star = truncate_plan(
                df0.filter(F.col("kind") == 1).select(
                    F.col("a").alias("src"), F.col("b").alias("dst")
                )
            ).persist()
            star_cnt = star.count()
            runner.log(0, phase="resume", resumed="contract", star_edges=star_cnt)

    if star is None:
        rmin, star, star_cnt, agg = _contract_phase1(
            graph, runner, n, n_buckets, bucket_row_cap
        )
        if runner.checkpoint_dir:
            combined = rmin.select(
                F.col("vid").alias("a"), F.col("r").alias("b"), F.lit(0).alias("kind")
            ).unionByName(
                star.select(
                    F.col("src").alias("a"), F.col("dst").alias("b"), F.lit(1).alias("kind")
                )
            )
            ck = runner.materialize(combined, 1, force=True, meta={"phase": "contract"})
            # downstream reads come from the durable copy (free lineage
            # truncation; the in-memory copies release below)
            rmin = ck.filter(F.col("kind") == 0).select(
                F.col("a").alias("vid"), F.col("b").alias("r")
            )
            new_star = ck.filter(F.col("kind") == 1).select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            ).persist()
            star.unpersist()
            star = new_star

    return _contract_phase23(
        graph, runner, rmin, star, star_cnt, agg,
        max_iter=max_iter, persist_result=persist_result,
        single_solve_max=single_solve_max,
    )


def _contract_phase1(graph: Graph, runner, n: int, n_buckets: int, bucket_row_cap: int):
    """Phase 1 of contraction CC (see connected_components_contract):
    returns (rmin, star [persisted], star_cnt, agg [persisted])."""
    spark = graph.edges.sparkSession

    # NO canonicalization pass: the local kernel unions both endpoint
    # directions and is duplicate-insensitive, so symmetrize/dedup
    # shuffles would be pure waste — raw directed edges route straight
    # to their bucket (the only m-scale exchange in the whole run)
    bucketed = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst")).withColumn(
        "bucket",
        ((F.greatest("src", "dst") * n_buckets) / F.lit(max(n, 1))).cast("int"),
    )
    # skew guard (docstring): sub-bucket any range bucket whose edge
    # count exceeds the kernel's memory budget. xxhash64 pmod spreads a
    # split bucket's edges evenly; unsplit buckets keep salt 0. The
    # bucketed set is persisted across the sizes pass and the mapping
    # job so the upstream edge derivation is scanned ONCE (MEMORY_AND_
    # DISK — at 100 TB this spills to local disk, still cheaper than
    # re-deriving); released as soon as the mapping materializes.
    bucketed_base = bucketed.persist()
    sizes = {
        r["bucket"]: r["cnt"]
        for r in bucketed_base.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    m = sum(sizes.values())
    splits = {b: -(-c // bucket_row_cap) for b, c in sizes.items() if c > bucket_row_cap}
    if splits:
        split_df = spark.createDataFrame(
            [(int(b), int(k)) for b, k in splits.items()], "bucket int, n_splits int"
        )
        bucketed = (
            bucketed_base.join(F.broadcast(split_df), "bucket", "left")
            .withColumn(
                "salt",
                F.coalesce(
                    F.pmod(F.xxhash64("src", "dst"), F.col("n_splits")), F.lit(0)
                ).cast("int"),
            )
            .drop("n_splits")
        )
    else:
        bucketed = bucketed_base.withColumn("salt", F.lit(0))

    local_cc = _shiloach_vishkin_kernel

    mapping = truncate_plan(
        bucketed.groupBy("bucket", "salt").applyInPandas(local_cc, schema="vid long, root long")
    ).persist()
    n_map = mapping.count()
    bucketed_base.unpersist()
    # ONE n-scale shuffle extracts both phase-2 inputs: r(v) = min root
    # across the buckets v appears in (the phase-3 representative —
    # r(v) is a component-mate of v and min-over-roots telescopes up to
    # the global component minimum) and v's full root set (bounded by
    # n_buckets — even a hub appears in at most every bucket). The
    # star edges (r(v), root_b(v)) link all of v's bucket roots; rows
    # with vid == root are exactly the cross-bucket links of a root
    # that is itself dominated elsewhere — they MUST be kept. A
    # separate rmin + mapping⋈rmin join shape measured +3 s of pure
    # n-scale exchange over this fused aggregate at 14.3M edges.
    agg = truncate_plan(
        mapping.groupBy("vid").agg(
            F.min("root").alias("r"), F.collect_set("root").alias("roots_set")
        )
    ).persist()
    mapping.unpersist()
    rmin = agg.select("vid", "r")
    star = truncate_plan(
        agg.select("r", F.explode("roots_set").alias("dst"))
        .filter(F.col("r") != F.col("dst"))
        .select(F.col("r").alias("src"), "dst")
        .distinct()
    ).persist()
    star_cnt = star.count()
    runner.log(
        0,
        phase="contract",
        mapping_rows=n_map,
        star_edges=star_cnt,
        m_edges=m,
        split_buckets=len(splits),
        max_bucket_rows=max(sizes.values(), default=0),
    )
    return rmin, star, star_cnt, agg


def _contract_phase23(
    graph: Graph,
    runner,
    rmin: DataFrame,
    star: DataFrame,
    star_cnt: int,
    agg: DataFrame | None,
    max_iter: int,
    persist_result: bool,
    single_solve_max: int,
):
    """Phases 2 (root-scale stitch) + 3 (rehydration) of contraction
    CC. ``agg`` is None on a phase-1 resume — the dataframe-engine
    branch then derives its root set from the star edges (equivalent:
    star-untouched roots are their own label either way, and phase 3's
    coalesce handles their absence)."""
    local_cc = _shiloach_vishkin_kernel
    # phase 2 at root scale. Multi-level solve choice: the star graph
    # is usually 1-2 orders below n (for conversation graphs ~#convs),
    # so below ``single_solve_max`` rows it is solved in ONE task by
    # the SAME vectorized kernel — a superstep loop's per-round driver
    # barriers (the measured ~11 s fixed cost of this function's first
    # version) cannot amortize over so little data. Past the bound the
    # dataframe engine takes over ('shuffle' mode: a bucketed table
    # write cannot amortize over a handful of rounds either).
    if star_cnt <= single_solve_max:
        labels2 = truncate_plan(
            star.withColumn("bucket", F.lit(0))
            .groupBy("bucket")
            .applyInPandas(local_cc, schema="vid long, root long")
            .select("vid", F.col("root").alias("label"))
        ).persist()
        n_roots = labels2.count()  # roots touched by cross-bucket links
    else:
        if agg is not None:
            roots = agg.select(F.explode("roots_set").alias("vid")).distinct()
        else:
            roots = star.select(F.col("src").alias("vid")).unionByName(
                star.select(F.col("dst").alias("vid"))
            ).distinct()
        # The stitch solve gets a DEDICATED sub-runner: the inner CC
        # must not inherit the contraction's fingerprint/checkpoint
        # lineage — otherwise its resume restores the (a,b,kind)
        # contract table as a label state, and its iter-numbered
        # durable writes shadow the contraction's own phase markers
        # (iter=1 'contract' / iter=2 'done').
        stitch_runner = SuperstepRunner(
            runner.spark,
            runner.name + "_stitch",
            checkpoint_dir=runner.checkpoint_dir,
            checkpoint_every=runner.checkpoint_every,
            fingerprint=(runner.fingerprint + ":stitch") if runner.fingerprint else None,
        )
        labels2 = connected_components(
            Graph(vertices=roots, edges=star.withColumn("weight", F.lit(1.0))),
            max_iter=max_iter,
            runner=stitch_runner,
            edges_mode="shuffle",
            persist_result=False,
        )
        n_roots = labels2.count()
    runner.log(0, phase="stitch", n_roots=n_roots)
    # phase 3 rehydration: label(v) = phase2label(r(v)); a root absent
    # from phase 2 (no cross-bucket links — the single-solve path emits
    # only star-touched roots) IS its component's min, so fall back
    # r(v); fully isolated vertices (no mapping row) keep their vid.
    # rmin is already hash-partitioned by vid; the root lookup is
    # root-scale (hinted).
    out = (
        graph.vertices.select("vid")
        .join(rmin, "vid", "left")
        .join(
            hint_state_join(labels2.select(F.col("vid").alias("r"), F.col("label").alias("l2")), n_roots),
            "r",
            "left",
        )
        .select("vid", F.coalesce(F.col("l2"), F.col("r"), F.col("vid")).alias("label"))
    )
    if runner.checkpoint_dir:
        # durable final state (phase 'done'): a rerun against the same
        # checkpoint_dir restores the labels verbatim, the same
        # force-checkpoint-on-convergence contract as the superstep
        # engine (materialize returns the parquet read-back, so this
        # also truncates lineage)
        out = runner.materialize(out, 2, force=True, meta={"phase": "done"})
    else:
        out = truncate_plan(out)
    if persist_result:
        out = out.persist()
        out.count()
    if agg is not None:
        agg.unpersist()
    star.unpersist()
    labels2.unpersist()
    return runner.finalize(out)


def connected_components(
    graph: Graph,
    max_iter: int = 200,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    edges_mode: str = "bucketed",
    persist_result: bool = True,
    kernel: str = "dataframe",
    n_buckets: int | None = None,
    small_round_max: int | None = None,
    edge_rows: int | None = None,
) -> DataFrame:
    """Returns (vid: long, label: long) — label = min vid in component.

    ``kernel='csr'``: the hash-min message round runs as a MIN-semiring
    gather-scatter over packed per-bucket CSR blocks (graph/
    csr_blocks.csr_min_push — np.minimum.at ≙ the reference's
    atomic::min, mst.hxx:173-199); the hook/jump label algebra stays
    dataframe-side either way, and above the loop gate small-frontier
    rounds always use the broadcast shape. Same exact labels, different
    physical path for the edge-scale step (A/B-tested).

    Round shape: below the loop gate (``runner.loop`` yields it) every
    round takes the general shuffle shape: one action, plus one
    broadcast job while the frontier is broadcast-scale. Above it, ``small_round_max`` is the frontier row count below which
    the broadcast round shape is used (default: the state-broadcast
    bound; 0 forces the general shape). Each superstep logs its
    ``shape`` ("general" or "small") in ``runner.metrics``.

    ``persist_result=False`` drops the DataFrame-level cache pin on the
    final labels before returning: the data stays in the (eager)
    localCheckpoint blocks, which ContextCleaner reaps once the caller
    drops the DataFrame — unlike CacheManager entries, which live until
    an explicit unpersist. Pipelines that call CC repeatedly in one
    session (dedup clustering) use this to avoid cache accumulation.
    ``edge_rows``: the known edge count for edges_mode='prepared'."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "cc")

    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    edges, m = prepare_static_edges(edges.select("src", "dst"), runner, mode=edges_mode, rows=edge_rows, name_hint="cc")

    blocks = None
    if kernel == "csr":
        from essentials_spark.graph.csr_blocks import build_csr_blocks, csr_min_push

        n_buckets = n_buckets or spark.sparkContext.defaultParallelism
        blocks, _ = prepare_static_edges(
            build_csr_blocks(edges.withColumn("coef", F.lit(1.0)), n_buckets),
            runner, keys="bucket", n_buckets=n_buckets, name_hint="cc_blocks",
        )

    labels = truncate_plan(graph.vertices.select("vid", F.col("vid").alias("label")))
    n = labels.count()

    if runner.fingerprint is None:
        runner.fingerprint = f"cc:n={n}:m={m}"
    iteration = 0
    converged = False
    resumed = runner.latest()
    if resumed is not None:
        iteration, labels, meta = resumed
        converged = bool(meta.get("converged"))
    labels = labels.persist()
    # frontier: vertices that changed last round (all, at start; on a
    # non-converged resume the full set is a safe superset — extra
    # hash-min messages are >= the receiver's label, a no-op)
    frontier = labels.select("vid", "label")

    # message-mass gate for the broadcast round shape: a frontier ROW
    # count bounds nothing on a power-law graph (one hub in a 3k-vertex
    # frontier makes its neighborhood edge-scale). Every frame the
    # small round broadcasts (msgs/recv/hook/lookup) is bounded by
    # sum(deg(frontier)), so that mass — one tiny broadcast-join
    # aggregate per candidate round — is the gate. The out-degree table
    # is built lazily from the bucketed edge scan (no shuffle) and
    # persisted only if a small round ever becomes possible.
    _deg_cache: dict = {}

    def frontier_msg_mass(front: DataFrame) -> int:
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

    broadcast_mass_cap = 4 * STATE_BROADCAST_MAX_ROWS

    def one_round(
        cur: DataFrame, front: DataFrame, front_rows: int | None, persists: list
    ) -> DataFrame:
        """One hash-min + hook + jump round as pure dataflow.
        Returns (vid, label, old). ``persists``: within-round shared
        subtrees get persisted and registered here — ``cand`` feeds
        both the hook aggregate and the final join chain and ``hook``
        is joined twice, so without caching Catalyst recomputes them
        inside the single round action (measured ~30% of round time at
        3.3M vertices; Spark reuses exchanges, not arbitrary subtrees)."""
        # adaptive state-join hint (engine/static_table.py): small
        # frontier broadcasts (zero-shuffle round), vertex-scale
        # frontier is shuffled-hash into the bucketed edge layout —
        # never a size-estimate-driven broadcast that OOMs at millions
        # of vertices, never an edge-side sort. front_rows is the
        # KNOWN frontier size (previous round's change count — the
        # delta frontier shrinks fast, so late rounds broadcast a tiny
        # frontier even on billion-vertex graphs).
        if blocks is not None:
            # csr_min_push bound by the kernel=='csr' import above
            msgs = csr_min_push(blocks, front.select("vid", "label"), n_buckets).withColumnRenamed(
                "dst", "vid"
            )
        else:
            msgs = (
                edges.join(hint_state_join(front.select(F.col("vid").alias("src"), "label"), front_rows), "src")
                .groupBy("dst")
                .agg(F.min("label").alias("nbr_min"))
                .withColumnRenamed("dst", "vid")
            )
        cand = cur.join(msgs, "vid", "left").select(
            "vid", F.least(F.col("label"), F.col("nbr_min")).alias("cand"), F.col("label").alias("old")
        )
        cand = cand.persist()
        persists.append(cand)
        # root hooking: each pointer-tree root absorbs the min candidate
        # seen anywhere in its tree this round
        hook = (
            cand.groupBy(F.col("old").alias("root"))
            .agg(F.min("cand").alias("hmin"))
            .select("root", F.least(F.col("root"), F.col("hmin")).alias("hmin"))
        )
        hook = hook.persist()
        persists.append(hook)
        # jump through the old root and the candidate-as-root (hooked
        # values), then a pointer-doubling jump label[cand] — hooking
        # alone degenerates to 1 hop/round on pure chains, doubling
        # alone crawls when a smaller label enters a formed tree
        lookup = cur.select(F.col("vid").alias("cand"), F.col("label").alias("jump"))
        return (
            cand.join(hook.withColumnRenamed("root", "old"), "old", "left")
            .select("vid", "old", F.least(F.col("cand"), F.col("hmin")).alias("cand"))
            .join(hook.withColumnRenamed("root", "cand").withColumnRenamed("hmin", "hmin2"), "cand", "left")
            .select("vid", "old", F.least(F.col("cand"), F.col("hmin2")).alias("cand"))
            .join(lookup, "cand", "left")
            .select("vid", F.least(F.col("cand"), F.col("jump")).alias("label"), "old")
        )

    def small_round(cur: DataFrame, front: DataFrame, persists: list) -> DataFrame:
        """Frontier-scale round for small frontiers: ZERO state-side
        shuffles. Profiling at 3.3M vertices showed the tail rounds
        (frontier 46k -> 2k -> 0) still cost 8-11 s each in the general
        shape — the hook groupBy and the three label joins re-exchange
        the full 3.3M-row state even when almost nothing changes. Here
        every derived piece (messages, receivers, hooks) is bounded by
        the frontier's neighborhood and moves via explicit broadcast;
        the state is only SCANNED (twice) and rewritten:

          msgs  = min label over frontier neighbors        (tiny agg)
          recv  = vertices whose msg < label               (state scan 1)
          hook  = min recv-candidate per receiver root     (tiny agg)
          L     = label[k] for k in cand ∪ hmin values     (state scan 2,
                  the pointer-doubling lookup restricted to the only
                  keys a changed vertex can land on — frontier-scale)
          new   = state ⟕ bcast(recv) ⟕ bcast(hook[label])
                        ⟕ bcast(hook[l1]) ⟕ bcast(L[l1])   (state scan 3)

        Monotonicity/exactness: every applied value is the min over
        candidates that are component-mate vids, same as one_round; a
        changed vertex always enters the next frontier, so the
        converged fixpoint (no change) is the exact hash-min fixpoint
        (all labels = component min). Member vertices read their
        root's hook in the SAME round (hook[label]); the L hop keeps
        the geometric pointer-doubling collapse the chain test pins
        (without it, hooking alone advances ~2 hops/round)."""
        msgs = (
            edges.join(F.broadcast(front.select(F.col("vid").alias("src"), "label")), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("dst", "vid")
        )
        recv = (
            cur.join(F.broadcast(msgs), "vid")
            .filter(F.col("nbr_min") < F.col("label"))
            .select("vid", F.col("label").alias("old"), F.col("nbr_min").alias("cand"))
        )
        recv = recv.persist()
        persists.append(recv)
        hook = recv.groupBy(F.col("old").alias("root")).agg(F.min("cand").alias("hmin"))
        hook = hook.persist()
        persists.append(hook)
        h1 = hook.select(F.col("root").alias("label"), F.col("hmin").alias("h_lab"))
        h2 = hook.select(F.col("root").alias("l1"), F.col("hmin").alias("h_l1"))
        keys = (
            recv.select(F.col("cand").alias("vid"))
            .unionByName(hook.select(F.col("hmin").alias("vid")))
            .distinct()
        )
        lkp = cur.join(F.broadcast(keys), "vid").select(
            F.col("vid").alias("l1"), F.col("label").alias("jump")
        )
        lkp = lkp.persist()
        persists.append(lkp)
        return (
            cur.join(F.broadcast(recv.select("vid", "cand")), "vid", "left")
            .join(F.broadcast(h1), "label", "left")
            .select(
                "vid",
                F.col("label").alias("old"),
                F.least("label", "cand", "h_lab").alias("l1"),
            )
            .join(F.broadcast(h2), "l1", "left")
            .join(F.broadcast(lkp), "l1", "left")
            .select("vid", F.least("l1", "h_l1", "jump").alias("label"), "old")
        )

    front_rows = n
    with runner.loop(work_rows=m) as small:
        while not converged and iteration < max_iter:
            # below the loop gate (AQE off, shuffle partitions sized from
            # the known work) every round takes the general shape: its
            # state exchanges are shuffle stages of the round's one
            # action, where small_round's six separate broadcasts are six
            # serial jobs (traced events-sf0.01: 48 -> 16 CC jobs, 2 per
            # round instead of 7-8). Above the gate the broadcast shape
            # removes the full-state re-exchange of tiny tail frontiers
            # (see small_round)
            in_small_regime = not small and front_rows < (
                STATE_BROADCAST_MAX_ROWS if small_round_max is None else small_round_max
            )
            if in_small_regime and front_rows and m >= broadcast_mass_cap:
                # row count passed — confirm the NEIGHBORHOOD mass is
                # broadcastable before committing to the broadcast shape.
                # (When the WHOLE edge table is under the cap the gate
                # holds for any frontier — skip the per-round probe job.)
                in_small_regime = frontier_msg_mass(frontier) < broadcast_mass_cap
            persists: list = []
            if in_small_regime:
                cur = small_round(labels.select("vid", "label"), frontier, persists)
            else:
                cur = one_round(labels.select("vid", "label"), frontier, front_rows, persists)
            iteration += 1
            new_labels = runner.materialize(cur, iteration)
            changed = new_labels.filter(F.col("label") != F.col("old")).select("vid", "label")
            n_changed = changed.count()
            for df in persists:
                df.unpersist()
            runner.log(
                iteration, changed=n_changed, edges_processed=m,
                shape="small" if in_small_regime else "general",
            )
            labels.unpersist()
            labels = new_labels.drop("old").persist()
            frontier = changed
            front_rows = n_changed
            if n_changed == 0:
                prev = labels
                # eager: the converged checkpoint must be materialized
                # before the superseded per-round persist is released
                labels = runner.materialize(
                    labels, iteration, eager=True, force=True, meta={"converged": True}
                ).persist()
                prev.unpersist()
                break

    out = runner.finalize(labels.select("vid", "label"))
    if not persist_result:
        labels.unpersist()
    return out
