"""Minimum spanning forest — Borůvka supersteps with edge contraction.

Reference: include/gunrock/algorithms/mst.hxx:105-261 — per round:
remove-filter picks each component's minimum outgoing edge (:119-145),
components contract via hooking + pointer jumping (:173-220), repeat
until no cross-component edges remain. Component count at least halves
per round -> O(log n) rounds.

Deterministic tiebreak on (weight, src, dst) — the reference notes its
own atomics admit ties broken by arrival order (mst.hxx:196-199); we
pin a total order instead so results are reproducible.

Scale shape: the edge table is CONTRACTED each round (endpoints
relabeled to component ids, intra-component edges dropped,
multi-edges collapsed to their min representative), so round r works
on the shrinking cross-component edge set — round-1's version joined
the full original edge table against the vertex→component map every
round, which re-shuffles the whole graph O(log n) times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def _hook_collapse_kernel(pdf):
    """Collapse one round's hook forest to roots in a single Arrow
    batch: the root rule that breaks the 2-cycles mutual minimum edges
    create (mst.hxx:196-205 — the only cycles a consistently
    tie-broken hook graph admits are length 2) followed by label[label]
    pointer doubling to the fixpoint (mst.hxx:207-220). Input rows
    (c, tgt) — one hook per component; returns (c, p) with p = the
    component's contraction root. Replaces a component-scale self-join
    plus up to 20 checkpointed n-scale doubling joins with one
    memory-speed task — the same gated single-task discipline as
    contraction CC's star stitch (cc.py)."""
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return pd.DataFrame({"c": pd.Series(dtype="int64"), "p": pd.Series(dtype="int64")})
    c = pdf["c"].to_numpy()
    t = pdf["tgt"].to_numpy()
    ids = np.unique(np.concatenate([c, t]))
    ci = np.searchsorted(ids, c)
    ti = np.searchsorted(ids, t)
    parent = np.arange(len(ids), dtype=np.int64)
    parent[ci] = ti
    # root rule: for mutual pairs keep the smaller id as root
    mutual = parent[parent[ci]] == ci
    keep = mutual & (ci < parent[ci])
    parent[ci[keep]] = ci[keep]
    while True:
        p2 = parent[parent]
        if np.array_equal(p2, parent):
            break
        parent = p2
    return pd.DataFrame({"c": ids, "p": ids[parent]})


def _local_msf_kernel(pdf):
    """Per-bucket minimum-spanning-forest filter: vectorized Borůvka
    over one edge bucket under the engine's (weight, src, dst) total
    order; returns the bucket's local MSF edges. Filtering lemma
    (cycle property; Karloff/Suri/Vassilvitskii MapReduce filtering,
    SPAA'11): an edge outside its bucket's local MSF is the heaviest
    edge of a cycle contained in the bucket's subgraph, hence outside
    the global MSF — so dropping it is exact under ANY edge partition.
    The uniqueness the lemma needs comes from the same lexicographic
    tiebreak the superstep loop pins (mst.hxx:196-199 note)."""
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "weight": pd.Series(dtype="float64"),
            }
        )
    a0 = pdf["src"].to_numpy()
    b0 = pdf["dst"].to_numpy()
    w0 = pdf["weight"].to_numpy()
    order = np.lexsort((b0, a0, w0))  # priority order: weight, src, dst
    a, b, w = a0[order], b0[order], w0[order]
    verts = np.unique(np.concatenate([a, b]))
    ai = np.searchsorted(verts, a)
    bi = np.searchsorted(verts, b)
    nv = len(verts)
    lab = np.arange(nv, dtype=np.int64)
    chosen = np.zeros(len(a), dtype=bool)
    alive = np.arange(len(a))
    while alive.size:
        ca = lab[ai[alive]]
        cb = lab[bi[alive]]
        cross = ca != cb
        alive, ca, cb = alive[cross], ca[cross], cb[cross]
        if alive.size == 0:
            break
        # min edge per component: edge arrays are priority-sorted, so
        # the smallest edge INDEX per component is its minimum under
        # the total order. lexsort by (comp, index) — a stable sort of
        # the concatenated [ca, cb] halves would NOT do (concatenation
        # order is not priority order across the two halves)
        comp = np.concatenate([ca, cb])
        eidx = np.concatenate([alive, alive])
        by_comp = np.lexsort((eidx, comp))
        comp_s, eidx_s = comp[by_comp], eidx[by_comp]
        first = np.ones(len(comp_s), dtype=bool)
        first[1:] = comp_s[1:] != comp_s[:-1]
        hook_comp, hook_e = comp_s[first], eidx_s[first]
        chosen[hook_e] = True
        hca = lab[ai[hook_e]]
        hcb = lab[bi[hook_e]]
        tgt = np.where(hook_comp == hca, hcb, hca)
        parent = np.arange(nv, dtype=np.int64)
        parent[hook_comp] = tgt
        mutual = parent[parent[hook_comp]] == hook_comp
        keep = mutual & (hook_comp < tgt)
        parent[hook_comp[keep]] = hook_comp[keep]
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        lab = parent[lab]
    return pd.DataFrame({"src": a[chosen], "dst": b[chosen], "weight": w[chosen]})


def mst(
    graph: Graph,
    max_iter: int = 100,
    runner: SuperstepRunner | None = None,
    jump: str = "auto",
    single_solve_max: int = 20_000_000,
    prefilter: bool = False,
    n_buckets: int | None = None,
    bucket_row_cap: int = 32_000_000,
) -> tuple[DataFrame, float]:
    """Returns (chosen edges DataFrame (src, dst, weight), total weight).

    Input treated as undirected; edges canonicalized to src < dst.

    ``jump``: 'auto' collapses each round's hook forest with the
    single-task ``_hook_collapse_kernel`` while the forest is provably
    below ``single_solve_max`` rows (hooks ≤ 2 × cross edges), else
    falls back to the dataframe doubling loop; 'kernel'/'loop' force a
    path (loop = the reference-shaped O(log depth) join ladder).

    ``prefilter``: range-bucket the canonical edge set and keep only
    each bucket's local MSF before the Borůvka rounds
    (``_local_msf_kernel``; exact by the cycle property under any edge
    partition). Pays one extra m-scale shuffle to shrink every
    subsequent round — worth it when m sufficiently exceeds n (many
    bucket-local cycles); on tree-like inputs survivors ≈ m and the
    pass is overhead, hence opt-in.
    """
    spark = graph.edges.sparkSession
    runner = runner or SuperstepRunner(spark, "mst")
    und = canonicalize_edges(graph.edges, symmetrize=True, dedup=False, drop_self_loops=True)
    # canonical undirected edge = (min, max) with min weight kept
    und = (
        und.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"), "weight"
        )
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )
    if prefilter:
        n = graph.vertices.count()
        nb = n_buckets or spark.sparkContext.defaultParallelism
        bucketed = und.withColumn(
            "bucket", ((F.col("dst") * nb) / F.lit(max(n, 1))).cast("int")
        ).persist()
        sizes = {
            r["bucket"]: r["cnt"]
            for r in bucketed.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
        }
        m_in = sum(sizes.values())
        splits = {b: -(-c // bucket_row_cap) for b, c in sizes.items() if c > bucket_row_cap}
        if splits:
            split_df = spark.createDataFrame(
                [(int(b), int(k)) for b, k in splits.items()], "bucket int, n_splits int"
            )
            bucketed_s = (
                bucketed.join(F.broadcast(split_df), "bucket", "left")
                .withColumn(
                    "salt",
                    F.coalesce(
                        F.pmod(F.xxhash64("src", "dst"), F.col("n_splits")), F.lit(0)
                    ).cast("int"),
                )
                .drop("n_splits")
            )
        else:
            bucketed_s = bucketed.withColumn("salt", F.lit(0))
        survivors = truncate_plan(
            bucketed_s.groupBy("bucket", "salt").applyInPandas(
                _local_msf_kernel, schema="src long, dst long, weight double"
            )
        ).persist()
        m_out = survivors.count()
        bucketed.unpersist()
        runner.log(
            0, phase="prefilter", edges_in=m_in, edges_out=m_out, split_buckets=len(splits)
        )
        und = survivors
    # active cross-component edges; original endpoints ride along so the
    # chosen set reports input edges, not contracted ids
    active = truncate_plan(
        und.select(
            F.col("src").alias("csrc"), F.col("dst").alias("cdst"), "weight", "src", "dst"
        )
    ).persist()
    chosen_frags: list[DataFrame] = []

    it = 0
    m_active = active.count()
    with runner.loop(work_rows=m_active):
        while it < max_iter:
            it += 1
            n_active = active.count()
            runner.log(it, cross_edges=n_active)
            if n_active == 0:
                break
            # min outgoing edge per component, deterministic tiebreak
            sym_active = active.select(
                F.col("csrc").alias("c"), "weight", "src", "dst", F.col("cdst").alias("tgt")
            ).unionByName(
                active.select(F.col("cdst").alias("c"), "weight", "src", "dst", F.col("csrc").alias("tgt"))
            )
            hooks = (
                sym_active.groupBy("c")
                .agg(F.min(F.struct("weight", "src", "dst", "tgt")).alias("e"))
                .select("c", F.col("e.src").alias("src"), F.col("e.dst").alias("dst"),
                        F.col("e.weight").alias("weight"), F.col("e.tgt").alias("tgt"))
            )
            hooks = truncate_plan(hooks).persist()
            chosen_frags.append(
                truncate_plan(hooks.select("src", "dst", "weight").dropDuplicates(["src", "dst"]))
            )
            # contract the hook forest (mst.hxx:173-220 analogue). Gated
            # single-task path: hook rows ≤ 2 × cross edges (one per
            # component incident to a cross edge), so n_active bounds the
            # forest size without an extra count — below the bound the
            # root rule + pointer doubling run as ONE Arrow kernel task
            # instead of a component-scale self-join plus up to 20
            # checkpointed doubling joins (each doubling's truncate_plan
            # checkpoint was the real per-round cost: measured 46 s at
            # 3.3M vertices even with per-doubling settled checks).
            use_kernel = jump == "kernel" or (jump == "auto" and 2 * n_active <= single_solve_max)
            if use_kernel:
                parent = truncate_plan(
                    hooks.select("c", "tgt")
                    .withColumn("_g", F.lit(0))
                    .groupBy("_g")
                    .applyInPandas(_hook_collapse_kernel, schema="c long, p long")
                ).persist()
                runner.log(it, jump_kernel=1)
            else:
                # dataframe fallback (forest above the single-task bound).
                # Root rule breaks the 2-cycles mutual min-edges create:
                #   p(c) = c    if hooks are mutual and c < tgt (c root)
                #   p(c) = tgt  otherwise
                parent = hooks.select("c", F.col("tgt").alias("p"))
                parent = (
                    parent.alias("a")
                    .join(
                        parent.alias("b"),
                        (F.col("a.p") == F.col("b.c")) & (F.col("b.p") == F.col("a.c")),
                        "left",
                    )
                    .select(
                        F.col("a.c").alias("c"),
                        F.when(F.col("b.c").isNotNull() & (F.col("a.c") < F.col("a.p")), F.col("a.c"))
                        .otherwise(F.col("a.p"))
                        .alias("p"),
                    )
                )
                parent = truncate_plan(parent).persist()
                # pointer-jump to roots (doubling: depth halves per step).
                # The settled signal is computed INLINE as a `_moved` flag
                # during the doubling join — never a second n-scale join of
                # nxt against parent — and checked EVERY doubling:
                # truncate_plan's eager localCheckpoint is already a full
                # materialization barrier per doubling, so the flag count
                # is a near-free scan of cached blocks, while SKIPPING
                # checks costs real extra doublings (measured 63 s batched
                # every 3rd vs 46 s per-doubling at 3.3M vertices).
                # Reference anchor: mst.hxx:207-220 (its jump loop is
                # unsynchronized, but its per-step cost is a device
                # kernel, not a checkpoint).
                jump_doublings = jump_checks = 0
                for j in range(20):
                    lookup = parent.select(F.col("c").alias("p"), F.col("p").alias("pp"))
                    nxt = parent.join(lookup, "p", "left").select(
                        "c",
                        F.coalesce(F.col("pp"), F.col("p")).alias("p"),
                        (F.col("pp").isNotNull() & (F.col("pp") != F.col("p"))).alias("_moved"),
                    )
                    nxt = truncate_plan(nxt).persist()
                    # nxt is materialized — the superseded parent cache is
                    # dead (see bc.py note)
                    parent.unpersist()
                    parent = nxt
                    jump_doublings += 1
                    jump_checks += 1
                    if nxt.filter("_moved").count() == 0:
                        break
                parent = parent.drop("_moved")
                runner.log(it, jump_doublings=jump_doublings, jump_checks=jump_checks)
            # relabel the active edge set through the contraction map, drop
            # the (now intra-component) merged edges, and collapse
            # multi-edges between the same component pair to the min
            # representative — only the min edge can ever be chosen later
            pm_src = parent.select(F.col("c").alias("csrc"), F.col("p").alias("nsrc"))
            pm_dst = parent.select(F.col("c").alias("cdst"), F.col("p").alias("ndst"))
            relabeled = (
                active.join(pm_src, "csrc", "left")
                .join(pm_dst, "cdst", "left")
                .select(
                    F.coalesce(F.col("nsrc"), F.col("csrc")).alias("a"),
                    F.coalesce(F.col("ndst"), F.col("cdst")).alias("b"),
                    "weight", "src", "dst",
                )
                .filter(F.col("a") != F.col("b"))
                .select(
                    F.least("a", "b").alias("csrc"), F.greatest("a", "b").alias("cdst"),
                    "weight", "src", "dst",
                )
                .groupBy("csrc", "cdst")
                .agg(F.min(F.struct("weight", "src", "dst")).alias("e"))
                .select("csrc", "cdst", F.col("e.weight").alias("weight"),
                        F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            )
            new_active = truncate_plan(relabeled).persist()
            active.unpersist()
            hooks.unpersist()
            parent.unpersist()
            active = new_active

    chosen = spark.createDataFrame([], "src long, dst long, weight double")
    for frag in chosen_frags:
        chosen = chosen.unionByName(frag)
    chosen = chosen.dropDuplicates(["src", "dst"]).persist()
    total = chosen.agg(F.sum("weight")).collect()[0][0] or 0.0
    runner.finalize()
    return chosen, float(total)


def incremental_msf_update(
    forest: DataFrame,
    new_edges: DataFrame,
    **mst_kwargs,
) -> tuple[DataFrame, float]:
    """Exact incremental MSF maintenance (streaming micro-batch shape,
    the MST companion to cc.incremental_cc_update /
    tc.incremental_tc_update).

    ``forest``: the current minimum spanning forest's chosen edges
    (src, dst, weight) — what :func:`mst` returned for everything seen
    so far (empty DataFrame for the first batch). ``new_edges``: a
    batch of NEW edges (src, dst, weight), any direction, parallel
    edges welcome. Returns (chosen, total) EQUAL to ``mst`` on the
    union of all edges ever fed.

    Sparsification lemma (cycle property under the engine's strict
    (weight, src, dst) total order on canonical pairs — the same order
    every mst path pins, so the MSF is unique): any edge of E1 outside
    MSF(E1) is the maximum edge of a cycle inside E1 ⊆ E1 ∪ E2 and so
    is outside MSF(E1 ∪ E2); hence

        MSF(E1 ∪ E2) = MSF(MSF(E1) ∪ E2)

    and by induction a forest maintained as T ← MSF(T ∪ batch) is the
    exact MSF of the union at every step. (This is the classic
    Eppstein/offline-sparsification identity — also the invariant
    behind the filtering pre-pass ``_local_msf_kernel`` above, applied
    across time instead of across buckets.)

    Scale shape: each update runs Borůvka over |T| + |batch| ≤
    (n - 1) + |batch| edges instead of the full accumulated m — on
    m ≫ n graphs (similarity/link graphs, the regimes the reference's
    mst.cu targets) the per-batch cost is decoupled from history size.
    The n-scale forest is re-read per batch but never the raw edge
    history; no state beyond the forest itself is kept.

    Reference anchor: mst.hxx:105-261 (the batch algorithm this
    maintains); streaming shape per SURVEY §2's micro-batch
    maintenance family."""
    union = forest.select("src", "dst", "weight").unionByName(
        new_edges.select("src", "dst", "weight")
    )
    verts = (
        union.select(F.col("src").alias("vid"))
        .union(union.select(F.col("dst").alias("vid")))
        .distinct()
    )
    return mst(Graph(vertices=verts, edges=union), **mst_kwargs)
