"""K-core decomposition — h-index fixpoint (bulk path) + peeling (A/B).

Reference: include/gunrock/algorithms/kcore.hxx:112-199 — for k = 1..:
repeatedly delete vertices with remaining degree < k (advance +
parallel_for + predicated filter); a vertex's core number is the
largest k at which it survives (peeled during round k => core = k-1).

Two algorithms, identical results:

- ``method='hindex'`` (default): the iterated neighbor-h-index
  fixpoint (Lü et al. 2016, "The H-index of a network node"):
  c_0 = degree; c_{t+1}(v) = H({c_t(u) : u ~ v}), where H is the
  largest h such that at least h neighbors have value >= h. Converges
  to the coreness in a NUMBER OF BULK ROUNDS (typically O(10-20) even
  on web graphs), each round one edge-scale shuffle — the scale path.
  On a power-law graph with core numbers in the hundreds, peeling
  costs O(max_core + #waves) driver round-trips; h-index doesn't.
- ``method='peel'``: direct reference-parity peeling, kept as the
  structurally independent A/B cross-check (tests compare the two).
- ``method='local'`` (:func:`kcore_hindex_local`): the same h-index
  fixpoint with the iteration pushed into per-bucket vectorized
  kernels run to LOCAL fixpoint per global round (async/chaotic
  schedule of the same monotone operator — identical results, far
  fewer driver-synchronized rounds when neighbors are bucket-local).

Scale shape (both): the symmetrized edge table is persisted ONCE as a
src-bucketed table. h-index rounds recompute H only for vertices with
at least one CHANGED neighbor (delta frontier — late rounds touch a
shrinking subgraph); peel sub-rounds move only the victims' adjacency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import (
    STATE_BROADCAST_MAX_ROWS,
    hint_state_join,
    prepare_static_edges,
)
from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def kcore(
    graph: Graph,
    max_k: int = 1000,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    edges_mode: str = "bucketed",
    method: str = "hindex",
    fused_iters: int = 4,
    edge_rows: int | None = None,
) -> DataFrame:
    """Returns (vid: long, core: int) for every vertex (0 if isolated).

    ``max_k`` caps the reported core VALUE in both methods (peel stops
    at k = max_k and survivors keep it; h-index runs to its fixpoint
    and clamps) — it is NOT an h-index round budget, so the two paths
    keep identical semantics for any max_k. ``edge_rows``: the known
    edge count for edges_mode='prepared'."""
    if method in ("hindex", "local"):
        if method == "hindex":
            out = kcore_hindex(
                graph, runner=runner,
                pre_symmetrized=pre_symmetrized, edges_mode=edges_mode,
                fused_iters=fused_iters, edge_rows=edge_rows,
            )
        else:
            out = kcore_hindex_local(
                graph, runner=runner, pre_symmetrized=pre_symmetrized
            )
        # unconditional clamp (no-op when cores are below the cap):
        # peel stops at k = max_k and caps survivors, so h-index must
        # cap at ANY max_k — including >= 1000 — or the A/B cross-check
        # diverges on graphs whose true max core reaches the cap
        return out.select(
            "vid", F.least(F.col("core"), F.lit(max_k)).cast("int").alias("core")
        )
    return kcore_peel(
        graph, max_k=max_k, runner=runner,
        pre_symmetrized=pre_symmetrized, edges_mode=edges_mode, edge_rows=edge_rows,
    )


def kcore_hindex(
    graph: Graph,
    max_rounds: int = 1000,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    edges_mode: str = "bucketed",
    fused_iters: int = 4,
    edge_rows: int | None = None,
) -> DataFrame:
    """Neighbor-h-index fixpoint (module docstring). Per round:

      msgs(v)  = {c(u) : u -> v}        (state join into bucketed edges)
      H(v)     = max over rank r of min(r, c_r)   (window row_number,
                 the same formulation as the driver-gate SQL oracle)
      c(v)    <- coalesce(H(v), 0)

    Delta frontier: once converged vertices stop changing, H is
    recomputed only for vertices with >= 1 changed neighbor; everyone
    else keeps c. The window partitions by dst, so a hub's neighbor
    list sorts within one partition — the same skew shape as any
    per-vertex top-k; bounded because H(v) <= deg(v) means late rounds
    only carry low-degree stragglers."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "kcore_hindex")
    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    edges, m = prepare_static_edges(edges.select("src", "dst"), runner, mode=edges_mode, rows=edge_rows, name_hint="kcoreh")

    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "vid")
    # persisted for the per-block message-mass gate (bucketed scan +
    # partial agg — no shuffle); released on finalize
    deg = deg.persist()
    runner.defer(deg.unpersist)
    state = truncate_plan(
        graph.vertices.select("vid")
        .join(deg, "vid", "left")
        .select("vid", F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("c"))
    ).persist()
    n = state.count()
    if runner.fingerprint is None:
        runner.fingerprint = f"kcore_hindex:n={n}:m={m}"

    # changed set: vertices whose c moved last round (all, at start)
    changed = state.select("vid")
    changed_rows = n
    rounds = 0
    w = Window.partitionBy("dst").orderBy(F.desc("c"), "src")

    def _mass(front: DataFrame) -> int:
        """sum(deg(front)) — the broadcast-size bound for the frames a
        small round derives from this frontier (one tiny aggregate)."""
        row = (
            deg.join(F.broadcast(front.select("vid")), "vid")
            .agg(F.sum("deg"))
            .collect()[0][0]
        )
        return int(row or 0)

    def one_round(cur: DataFrame, chg: DataFrame, chg_rows: int, shape: str) -> DataFrame:
        """One h-index round as pure dataflow -> (vid, c, old).

        ``shape`` ('full' | 'small' | 'mid') is decided by the caller
        from the ACTUAL frontier's row count and message mass. The
        stream choice and the update rule MUST agree on one flag: a
        restricted (frontier-affected) message stream pairs with
        keep-c-when-no-message, the full stream pairs with
        zero-when-no-message — mixing them would zero every untouched
        vertex. 'full' ignores ``chg`` entirely: a stale full hint just
        costs one full recompute, never a wrong value."""
        full = shape == "full"
        small = shape == "small"
        if small:
            # frontier-scale round: the affected set and its in-edge
            # subset are bounded by |changed| x deg (x deg) — both move
            # via explicit broadcast, the state and edge tables are
            # only SCANNED. Profiled at 3.3M vertices: without this the
            # m-scale state join ran every one of 53 rounds (~2.9 s
            # each) even with a 3k-vertex frontier.
            affected = (
                edges.join(F.broadcast(chg.select(F.col("vid").alias("src"))), "src")
                .select("dst")
                .distinct()
            )
            sub = edges.join(F.broadcast(affected), "dst")  # in-edges of affected
            joined = cur.select(F.col("vid").alias("src"), "c").join(F.broadcast(sub), "src")
        elif not full:
            # mid-size frontier: full state join into the bucketed
            # layout, message stream filtered to affected dsts before
            # the window. `affected` is a NEIGHBORHOOD (its size is
            # unbounded by the frontier row count on hub-heavy graphs),
            # so it is never broadcast-hinted — shuffle_hash is the
            # safe join for it.
            affected = (
                edges.join(
                    hint_state_join(chg.select(F.col("vid").alias("src")), chg_rows), "src"
                )
                .select(F.col("dst"))
                .distinct()
            )
            joined = edges.join(
                hint_state_join(cur.select(F.col("vid").alias("src"), "c"), n), "src"
            ).join(hint_state_join(affected, None), "dst")
        else:
            joined = edges.join(
                hint_state_join(cur.select(F.col("vid").alias("src"), "c"), n), "src"
            )
        hidx = (
            joined.withColumn("rn", F.row_number().over(w))
            .groupBy("dst")
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("c"))).alias("h"))
            .withColumnRenamed("dst", "vid")
        )
        if not full:
            # non-affected vertices keep c: left join (h null => keep).
            # In small rounds hidx is frontier-scale — broadcast it so
            # the state update is a pure scan (no state exchange)
            hidx_side = F.broadcast(hidx) if small else hidx
            return (
                cur.join(hidx_side, "vid", "left")
                .select("vid", F.coalesce(F.col("h"), F.col("c")).alias("c"), F.col("c").alias("old"))
            )
        # full round: isolated vertices (no in-messages) -> 0,
        # mirroring the oracle's coalesce(h, 0)
        return (
            cur.join(hidx, "vid", "left")
            .select("vid", F.coalesce(F.col("h"), F.lit(0)).alias("c"), F.col("c").alias("old"))
        )

    # fused blocks (depth clamp: see lp.py): k rounds per Spark action; the
    # frontier-size hint inside a block is the last KNOWN count (stale
    # by <k rounds — only picks broadcast vs shuffle shape, never
    # affects values). h-index needs ~chain/2 rounds on conversation
    # chains (53 at 3.3M vertices), so per-action overhead is the
    # dominant tail cost without fusion.
    fused = min(fused_iters, 4)
    mass_cap = 4 * STATE_BROADCAST_MAX_ROWS
    with runner.loop(work_rows=m):
        while rounds < max_rounds:
            # shape decision from the ACTUAL frontier: row count alone
            # bounds nothing on a power-law graph (one hub makes the
            # neighborhood edge-scale), so the small (all-broadcast) shape
            # additionally requires the 1-hop and 2-hop message MASS to fit
            # the broadcast cap. Within a fused block the shape is stale by
            # <k rounds — the 4x cap over the state-broadcast bound is the
            # margin for that drift, and a mid-shape fallback is always
            # correct (same values, shuffled instead of broadcast).
            if changed_rows >= n:
                shape = "full"
            elif changed_rows < STATE_BROADCAST_MAX_ROWS // 8 and _mass(changed) < mass_cap:
                affected_probe = (
                    edges.join(F.broadcast(changed.select(F.col("vid").alias("src"))), "src")
                    .select(F.col("dst").alias("vid"))
                    .distinct()
                )
                shape = "small" if _mass(affected_probe) < mass_cap else "mid"
            else:
                shape = "mid"
            # fuse only small rounds: a stale full/mid hint makes every
            # sub-round pay the m-scale stream, so big rounds run one per
            # action (their frontier shrinkage is worth more than the
            # saved action overhead)
            k = min(max(1, fused), max_rounds - rounds) if shape == "small" else 1
            cur, chg = state, changed
            intermediates: list[DataFrame] = []
            for j in range(k):
                cur = one_round(cur.select("vid", "c"), chg, changed_rows, shape)
                if j < k - 1:
                    cur = cur.persist()
                    intermediates.append(cur)
                    chg = cur.filter(F.col("c") != F.col("old")).select("vid")
            new_state = runner.materialize(cur, rounds + k)
            delta = new_state.filter(F.col("c") != F.col("old")).select("vid")
            n_changed = delta.count()
            for df in intermediates:
                df.unpersist()
            rounds += k
            runner.log(rounds, changed=n_changed, edges_processed=m * k)
            state.unpersist()
            state = new_state.drop("old").persist()
            changed = delta
            changed_rows = n_changed
            if n_changed == 0:
                break

    return runner.finalize(state.select("vid", F.col("c").cast("int").alias("core")))


def kcore_hindex_local(
    graph: Graph,
    n_buckets: int | None = None,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    max_rounds: int = 200,
    local_iter_cap: int = 1000,
    persist_result: bool = True,
) -> DataFrame:
    """Bucketed LOCAL-fixpoint h-index — the coreness analogue of the
    contraction-CC idea (cc.py): push the iteration into per-bucket
    vectorized kernels so the number of GLOBAL (driver-synchronized,
    shuffle-paying) rounds collapses.

    Edges are RANGE-bucketed by dst; since the table is symmetrized, a
    bucket holds ALL in-edges of its vertices, and vids are
    rank-of-skey (graph/keyed.py) so a conversation's chain is bucket-
    local. Per global round each bucket iterates the neighbor-h-index
    operator to its LOCAL fixpoint in one Arrow batch — in-bucket
    neighbor estimates are read live, out-of-bucket ones stay frozen
    at the round's boundary snapshot. Exactness: the h-index operator
    is monotone and every estimate starts at deg(v) >= coreness(v), so
    any chaotic update schedule keeps estimates upper bounds and
    non-increasing, and the global loop stops only at the (unique)
    greatest fixpoint = the coreness vector — the standard async
    coreness argument (Montresor et al. 2011, and the same reasoning
    as Lü et al.'s sync fixpoint). A per-iteration min() clamp makes
    the monotone decrease explicit.

    Per global round the cluster exchanges: the boundary estimates
    (distinct cross-bucket (bucket, src) pairs — for conversation
    graphs a small fraction of m) and the n-scale state cogroup. The
    54 window-aggregate rounds of :func:`kcore_hindex` at 3.3M
    vertices become a handful of rounds of memory-speed kernels."""
    import numpy as np
    import pandas as pd

    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "kcore_local")
    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    edges = truncate_plan(edges.select("src", "dst")).persist()
    m = edges.count()
    vmax1 = (graph.vertices.agg(F.max("vid")).collect()[0][0] or 0) + 1
    nb = n_buckets or spark.sparkContext.defaultParallelism

    def _bk(col: str):
        return ((F.col(col) * nb) / F.lit(vmax1)).cast("int")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=["bucket", "dsts", "srcs"])
        order = np.argsort(pdf["dst"].to_numpy(), kind="stable")
        return pd.DataFrame({
            "bucket": [int(pdf["bucket"].iloc[0])],
            "dsts": [pdf["dst"].to_numpy()[order]],
            "srcs": [pdf["src"].to_numpy()[order]],
        })

    blocks = (
        edges.withColumn("bucket", _bk("dst"))
        .groupBy("bucket")
        .applyInPandas(pack, schema="bucket int, dsts array<long>, srcs array<long>")
        .persist()
    )
    blocks.count()
    # boundary: cross-bucket sources whose estimates each round ships
    cross = truncate_plan(
        edges.filter(_bk("src") != _bk("dst"))
        .select(_bk("dst").alias("bucket"), "src")
        .distinct()
    ).persist()
    b_rows = cross.count()

    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "vid")
    state = truncate_plan(
        graph.vertices.select("vid")
        .join(deg, "vid", "left")
        .select("vid", F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("c"))
    ).persist()
    n = state.count()
    edges.unpersist()  # blocks + cross + state carry everything the loop needs
    if runner.fingerprint is None:
        runner.fingerprint = f"kcore_local:n={n}:m={m}:nb={nb}"
    runner.log(0, phase="layout", boundary_rows=b_rows, m_edges=m)

    def kernel(block_pdf: pd.DataFrame, vals_pdf: pd.DataFrame) -> pd.DataFrame:
        loc = vals_pdf[vals_pdf["loc"]]
        base_vid = loc["vid"].to_numpy()
        base_c = loc["c"].to_numpy()
        if len(block_pdf) == 0 or len(vals_pdf) == 0:
            return pd.DataFrame({"vid": base_vid, "c": base_c, "changed": np.zeros(len(base_vid), dtype="int32")})
        row = block_pdf.iloc[0]
        dst = np.asarray(row["dsts"], dtype=np.int64)
        src = np.asarray(row["srcs"], dtype=np.int64)
        vocab = np.unique(np.concatenate([dst, src]))
        di = np.searchsorted(vocab, dst)
        si = np.searchsorted(vocab, src)
        est = np.zeros(len(vocab), dtype=np.int64)
        vv = vals_pdf["vid"].to_numpy()
        cc_ = vals_pdf["c"].to_numpy()
        pos = np.searchsorted(vocab, vv)
        ok = (pos < len(vocab))
        pos_c = np.clip(pos, 0, len(vocab) - 1)
        ok &= vocab[pos_c] == vv
        est[pos_c[ok]] = cc_[ok]
        # in-kernel delta frontier: after the first sweep only dsts
        # with >= 1 changed neighbor are recomputed — H needs their
        # FULL in-neighborhood, which the (sorted) block provides, so
        # the sub-iteration sorts only the affected edge subset (the
        # same restriction argument as the dataframe ladder's rounds)
        changed_flag = np.ones(len(vocab), dtype=bool)
        for _ in range(local_iter_cap):
            emask = changed_flag[si]
            if not emask.any():
                break
            aff = np.zeros(len(vocab), dtype=bool)
            aff[di[emask]] = True
            emask = aff[di]  # ALL in-edges of every affected dst
            adi = di[emask]  # still sorted (di sorted, mask order-preserving)
            asi = si[emask]
            udst, starts = np.unique(adi, return_index=True)
            sv = est[asi]
            order = np.lexsort((-sv, adi))
            svs = sv[order]
            rn = np.arange(len(adi), dtype=np.int64) - np.repeat(
                starts, np.diff(np.append(starts, len(adi)))
            ) + 1
            h = np.maximum.reduceat(np.minimum(rn, svs), starts)
            new = np.minimum(h, est[udst])  # explicit monotone clamp
            moved = new < est[udst]
            if not moved.any():
                break
            est[udst] = new
            changed_flag = np.zeros(len(vocab), dtype=bool)
            changed_flag[udst[moved]] = True
        # emit every LOCAL vertex: kernel value if it appears in the
        # block's vocab (i.e. has edges), else its input c (isolated)
        bpos = np.searchsorted(vocab, base_vid)
        bok = bpos < len(vocab)
        bpos_c = np.clip(bpos, 0, len(vocab) - 1)
        bok &= vocab[bpos_c] == base_vid
        out_c = np.where(bok, est[bpos_c], base_c)
        return pd.DataFrame({
            "vid": base_vid,
            "c": out_c,
            "changed": (out_c != base_c).astype("int32"),
        })

    rounds = 0
    with runner.loop(work_rows=m):
        while rounds < max_rounds:
            local_side = state.select(_bk("vid").alias("bucket"), "vid", "c", F.lit(True).alias("loc"))
            bound_side = cross.join(state, cross.src == state.vid).select(
                "bucket", F.col("src").alias("vid"), "c", F.lit(False).alias("loc")
            )
            out = (
                blocks.groupby("bucket")
                .cogroup(local_side.unionByName(bound_side).groupby("bucket"))
                .applyInPandas(kernel, schema="vid long, c long, changed int")
            )
            new_state = runner.materialize(out, rounds + 1)
            n_changed = int(new_state.agg(F.sum("changed")).collect()[0][0] or 0)
            rounds += 1
            runner.log(rounds, changed=n_changed, boundary_rows=b_rows)
            state.unpersist()
            state = new_state.drop("changed").persist()
            if n_changed == 0:
                break

        out = runner.finalize(state.select("vid", F.col("c").cast("int").alias("core")))
        blocks.unpersist()
        cross.unpersist()
    if not persist_result:
        state.unpersist()
    return out


def kcore_peel(
    graph: Graph,
    max_k: int = 1000,
    runner: SuperstepRunner | None = None,
    pre_symmetrized: bool = False,
    edges_mode: str = "bucketed",
    edge_rows: int | None = None,
) -> DataFrame:
    """Reference-parity peeling (kcore.hxx:112-199): returns
    (vid: long, core: int) for every vertex (0 if isolated)."""
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "kcore")
    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    edges, m = prepare_static_edges(edges.select("src", "dst"), runner, mode=edges_mode, rows=edge_rows, name_hint="kcore")

    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "vid")
    state = truncate_plan(
        graph.vertices.select("vid")
        .join(deg, "vid", "left")
        .select("vid", F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"))
    ).persist()

    peeled: list[DataFrame] = []  # (vid, core) fragments
    it = 0
    k = 1
    with runner.loop(work_rows=m):
        while k <= max_k:
            victims = state.filter(F.col("deg") < k).select("vid")
            n_removed = victims.count()
            it += 1
            runner.log(it, k=k, removed=n_removed)
            if n_removed == 0:
                if state.count() == 0:
                    break
                k += 1
                continue
            peeled.append(
                truncate_plan(victims.withColumn("core", F.lit(k - 1).cast("int")))
            )
            # degree decrements along the victims' adjacency only
            dec = (
                edges.join(peeled[-1].select(F.col("vid").alias("src")), "src")
                .groupBy("dst")
                .agg(F.count("*").alias("dec"))
                .withColumnRenamed("dst", "vid")
            )
            new_state = truncate_plan(
                state.join(peeled[-1].select("vid"), "vid", "left_anti")
                .join(dec, "vid", "left")
                .select("vid", (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"))
            ).persist()
            state.unpersist()
            state = new_state

    # survivors past max_k keep the last k they were known to survive
    survivors = state.select("vid", F.lit(min(k, max_k)).cast("int").alias("core"))
    out = survivors
    for frag in peeled:
        out = out.unionByName(frag)
    return runner.finalize(out)
