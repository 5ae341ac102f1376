"""Seeded graph sampling: random walks and fanout neighbor sampling.

Training-data pipeline operators the reference does not ship (it is a
pure analytics engine) but that a link-graph corpus at 10^12-turn scale
needs for representation learning: node2vec/DeepWalk-style random-walk
corpora and GraphSAGE-style bounded-fanout neighbor samples. Both are
built on the engine's existing scale machinery (bucketed static tables,
packed CSR blocks) and — unusually for "random" sampling — are fully
deterministic and ANSI-SQL-reproducible, so the driver's DuckDB gate can
value-check every sampled edge:

- every random choice is a PORTABLE hash (functions/portable_hash
  ``md5_int60``: first 60 bits of md5, identical in Spark and DuckDB),
  never an RNG. ``choice(walker, step) = h % degree``;
- the neighbor order that a choice indexes into is dst-ASCENDING.
  Dense vids are assigned as the global rank of the string key
  (graph/keyed.py), so vid order == skey order: the DataFrame path's
  ``row_number() OVER (ORDER BY dst vid)``, the CSR kernel's packed
  dst-sorted runs (csr_blocks build: lexsort by (src, dst)), and the
  oracle SQL's ``ORDER BY dst vkey`` all index the SAME list.

Scale shape (100 TB): the ranked adjacency is built with ONE shuffle
(both window functions share the src partitioning) and persisted as a
src-bucketed static table; each walk step shuffles only the O(walks)
frontier into that layout — the classic frontier ⋈ static-edges advance
(reference operators/advance, but with a rank-select predicate instead
of a full expand). The CSR kernel path does the step with zero edge-side
exchange: frontier rows co-group with their vertex's packed block and
the next hop is one vectorized gather ``dst[offset[cur] + h % deg]``
(O(frontier) work, no per-row Python — north-rule requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import prepare_static_edges
from essentials_spark.engine.superstep import SuperstepRunner, edge_fingerprint, truncate_plan
from essentials_spark.functions.portable_hash import md5_int60


def ranked_adjacency(edges: DataFrame) -> DataFrame:
    """(src, dst, rank, deg): 1-based rank of dst in src's ascending
    neighbor list, plus src's degree. Input should already be the
    canonical symmetrized/dedup'd edge set.

    One shuffle: both windows share the partitionBy(src) exchange
    (Catalyst reuses the sort for row_number; the unordered count
    window adds no second exchange)."""
    w_rank = Window.partitionBy("src").orderBy("dst")
    w_deg = Window.partitionBy("src")
    return edges.select("src", "dst").withColumn(
        "rank", F.row_number().over(w_rank)
    ).withColumn("deg", F.count("*").over(w_deg))


def walk_hash(wid: F.Column, step: int) -> F.Column:
    """Portable per-(walker, step) choice hash — positive 60-bit long.
    The oracle twin is ``sql_md5_int60(wid || ':<step>')``."""
    return md5_int60(F.concat(wid, F.lit(f":{step}")))


def _walk_resume(runner: SuperstepRunner, length: int):
    """Per-step resume support for walk loops (north-rule
    checkpoint-resumability). A walk frontier at step t IS the step-t
    output, so with a checkpoint_dir every materialized frontier
    doubles as a durable checkpoint: resume re-reads frontiers
    0..latest (all iteration dirs are retained on disk) and continues
    stepping from the newest. Returns (frontiers list 0..t0, t0) or
    (None, 0) for a fresh start — fresh also when any earlier step dir
    is missing (a partially-cleaned directory must not silently drop
    walk prefix rows) or carries a DIFFERENT fingerprint (a reused
    checkpoint_dir can hold a stale high step from one graph and
    overwritten low steps from another; the prefix must be validated
    per step, not just at the latest)."""
    import json
    import os

    resumed = runner.latest()
    if resumed is None:
        return None, 0
    t0, latest_df, _meta = resumed
    if t0 > length:
        return None, 0
    fronts = []
    for t in range(t0):
        path = runner._ckpt_path(t)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return None, 0
        if runner.fingerprint is not None:
            try:
                with open(os.path.join(path, "_meta.json")) as fh:
                    if json.load(fh).get("fingerprint") != runner.fingerprint:
                        return None, 0
            except Exception:
                return None, 0
        fronts.append(runner.spark.read.parquet(path))
    fronts.append(latest_df)
    return fronts, t0


def random_walks(
    edges: DataFrame,
    start: DataFrame,
    length: int,
    kernel: str = "dataframe",
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    n_buckets: int | None = None,
    sink_path: str | None = None,
) -> DataFrame:
    """Deterministic random walks over a symmetrized edge set.

    ``start``: (wid: string, vid: long) — one row per walker; ``wid``
    is the portable walker identity every choice hash is derived from
    (callers build it from the string vertex key, e.g.
    ``skey || '#' || walk_index``, so the oracle can reproduce it).
    Returns (wid, step, vid) for step 0..length; a walk that reaches a
    vertex with no out-neighbors (only isolated vertices, on a
    symmetrized graph) simply ends early.

    kernel='dataframe': two joins per step, both against src-bucketed
    static tables — a narrow degree lookup to compute the target rank,
    then a PURE EQUI-JOIN on (src, rank) against the ranked adjacency.
    The equi-join makes each walker an O(1) point probe; the naive
    shape (join on src, filter rank afterwards) streams deg(src)
    candidate rows per walker through the predicate — a walker sitting
    on a 10^6-degree hub would expand a million rows to keep one. The
    static side's HashPartitioning(src) satisfies the (src, rank)
    clustering, so only the frontier shuffles.
    kernel='csr': vectorized step over the packed CSR blocks — the
    choice hash is still computed JVM-side (md5), the kernel only does
    the O(frontier) gather. Both paths index the same dst-ascending
    neighbor order, so they are A/B-exact.

    ``sink_path``: stream the corpus OUT per step — each step's
    (wid, vid) rows land in ``sink_path/step=t/`` as soon as the
    frontier materializes, and the returned DataFrame is the sink
    read-back. At 10^12-turn scale the union of L step outputs is
    itself huge; incremental sink writes keep driver-side state at
    O(1) step handles, make a partially-written corpus readable
    mid-run, and a resumed run completes only the missing steps
    (existing step dirs with _SUCCESS are never rewritten).
    """
    spark = edges.sparkSession
    runner = runner or SuperstepRunner(spark, "walks")

    def _sink_step(df: DataFrame, t: int) -> None:
        import os

        if sink_path is None:
            return
        path = f"{sink_path}/step={t}"
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return  # resumed run: already streamed
        df.select("wid", F.col("cur").alias("vid")).write.mode("overwrite").parquet(path)

    # per-step checkpoint-resume (north rule): every materialized
    # frontier is durable when a checkpoint_dir is configured — a
    # killed corpus run restores the prefix and continues stepping
    if runner.checkpoint_dir and runner.fingerprint is None:
        # content hash (not a count): a same-size different edge set
        # must refuse this run's checkpoints
        runner.fingerprint = f"walks:{kernel}:len={length}:{edge_fingerprint(edges)}"
    fronts, t0 = (
        _walk_resume(runner, length) if runner.checkpoint_dir else (None, 0)
    )

    def _pin(df: DataFrame, t: int) -> DataFrame:
        # materialize each frontier: keeps the per-step plan flat (the
        # O(rounds^2) lineage re-evaluation truncate_plan exists to
        # stop), lets the step unions below share the stored blocks,
        # and doubles as the durable per-step checkpoint
        if runner.checkpoint_dir:
            return runner.materialize(df, t, force=True, meta={"kind": "walks"})
        return truncate_plan(df)

    if fronts is not None:
        out = [
            f.select("wid", F.lit(i).alias("step"), F.col("cur").alias("vid"))
            for i, f in enumerate(fronts)
        ]
        for i, f in enumerate(fronts):
            _sink_step(f, i)  # no-op for steps already streamed
        front = fronts[-1]
        runner.log(t0, resumed=True)
    else:
        front = _pin(start.select("wid", F.col("vid").alias("cur")), 0)
        _sink_step(front, 0)
        out = [front.select("wid", F.lit(0).alias("step"), F.col("cur").alias("vid"))]
        t0 = 0

    blocks = None
    radj = None
    degt = None
    if t0 < length:
        if kernel == "csr":
            from essentials_spark.graph.csr_blocks import build_csr_blocks

            n_buckets = n_buckets or spark.sparkContext.defaultParallelism
            blocks, _ = prepare_static_edges(
                build_csr_blocks(edges.select("src", "dst").withColumn("coef", F.lit(1.0)), n_buckets),
                runner, keys="bucket", n_buckets=n_buckets, name_hint="walk_blocks",
            )
        else:
            radj, _ = prepare_static_edges(
                ranked_adjacency(edges), runner, keys="src", mode=edges_mode, name_hint="walk_radj"
            )
            degt, _ = prepare_static_edges(
                edges.groupBy("src").agg(F.count("*").alias("deg")),
                runner, keys="src", mode=edges_mode, name_hint="walk_deg",
            )

    for t in range(t0 + 1, length + 1):
        hashed = front.withColumn("h", walk_hash(F.col("wid"), t))
        if blocks is not None:
            from essentials_spark.graph.csr_blocks import csr_walk_step

            stepped = csr_walk_step(blocks, hashed, n_buckets)
        else:
            chosen = (
                hashed.join(degt, hashed.cur == degt.src)
                .select("wid", "cur", (F.pmod(F.col("h"), F.col("deg")) + 1).alias("rank"))
            )
            stepped = (
                chosen.join(radj, (chosen.cur == radj.src) & (chosen.rank == radj.rank))
                .select("wid", F.col("dst").alias("cur"))
            )
        front = _pin(stepped, t)
        _sink_step(front, t)
        out.append(front.select("wid", F.lit(t).alias("step"), F.col("cur").alias("vid")))
        if front.isEmpty():
            break

    if sink_path is not None:
        runner.finalize()
        # the corpus IS the sink: the result reads stored step
        # partitions, no L-way union plan over pinned frontiers
        return (
            spark.read.option("basePath", sink_path)
            .parquet(f"{sink_path}/step=*")
            .select("wid", F.col("step").cast("int").alias("step"), "vid")
        )
    walks = out[0]
    for df in out[1:]:
        walks = walks.unionByName(df)
    return runner.finalize(walks)


def sampled_adjacency(key_edges: DataFrame, fanout: int, seed: str = "ns") -> DataFrame:
    """GraphSAGE-style bounded-fanout neighbor table over STRING-keyed
    symmetrized edges (src_key, dst_key): per src, keep the ``fanout``
    neighbors with the smallest portable hash of (src, dst, seed) —
    node-level sampling (one sample per vertex, shared by every query
    that expands it), the standard trick that makes multi-hop expansion
    a pure join instead of per-root re-sampling.

    One shuffle (the row_number window by src_key); at 100 TB the
    output is a fanout-bounded static table — n·fanout rows regardless
    of skew, which is the point: hub neighborhoods are capped before
    any downstream hop join can amplify them."""
    h = md5_int60(F.concat(F.col("src_key"), F.lit(":"), F.col("dst_key"), F.lit(f":{seed}")))
    w = Window.partitionBy("src_key").orderBy(F.col("h"), F.col("dst_key"))
    return (
        key_edges.select("src_key", "dst_key")
        .withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= fanout)
        .select("src_key", "dst_key")
    )


def neighbor_sample(
    key_edges: DataFrame,
    roots: DataFrame,
    fanouts: list[int],
    seed: str = "ns",
) -> DataFrame:
    """Multi-hop sampled neighborhood expansion: for each root in
    ``roots`` (root_key), hop i expands the previous hop's frontier
    through :func:`sampled_adjacency` with fanout ``fanouts[i]``.
    Returns (root_key, hop, src_key, dst_key) — the sampled computation
    graph a GNN mini-batch loader would feed.

    Each hop is one equi-join of the (root-bounded) frontier against
    the fanout-capped adjacency — frontier size is bounded by
    |roots|·Πfanouts by construction, so the expansion can never go
    edge-scale even through hubs."""
    out = None
    front = roots.select(F.col("root_key"), F.col("root_key").alias("src_key"))
    for hop, f in enumerate(fanouts, start=1):
        adj = sampled_adjacency(key_edges, f, seed=f"{seed}:{hop}")
        step = front.join(adj, "src_key").select(
            "root_key", F.lit(hop).alias("hop"), "src_key", "dst_key"
        ).distinct()
        out = step if out is None else out.unionByName(step)
        front = step.select("root_key", F.col("dst_key").alias("src_key")).distinct()
    return out


def walk_contexts(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from a walk corpus —
    the word2vec-style training table DeepWalk/node2vec feed to an
    embedding trainer. For every walk, vertices at step distance
    1..window form a pair (both directions); returns
    (center, ctx, cnt) aggregated corpus-wide.

    Plan: ONE window pass per walk (lead(vid, d) for d <= window over
    the wid partition — O(window) projected columns, a single shuffle
    by wid), then a stack + groupBy with map-side partials. Never a
    walks ⋈ walks self-join: at 10^12-turn scale the corpus is
    n·walks_per_vertex·length rows and the window pass keeps context
    extraction linear in it."""
    w = Window.partitionBy("wid").orderBy("step")
    base = walks.select(
        "vid", *[F.lead("vid", d).over(w).alias(f"c{d}") for d in range(1, window + 1)]
    )
    pairs = None
    for d in range(1, window + 1):
        fwd = base.filter(F.col(f"c{d}").isNotNull()).select(
            F.col("vid").alias("center"), F.col(f"c{d}").alias("ctx")
        )
        both = fwd.unionByName(
            fwd.select(F.col("ctx").alias("center"), F.col("center").alias("ctx"))
        )
        pairs = both if pairs is None else pairs.unionByName(both)
    return pairs.groupBy("center", "ctx").agg(F.count("*").alias("cnt"))


def node2vec_walks(
    edges: DataFrame,
    start: DataFrame,
    length: int,
    w_return: int = 1,
    w_common: int = 4,
    w_far: int = 2,
    max_expand: int = 1024,
    kernel: str = "dataframe",
    runner: SuperstepRunner | None = None,
    edges_mode: str = "bucketed",
    n_buckets: int | None = None,
) -> DataFrame:
    """Second-order (node2vec-style, Grover & Leskovec 2016) biased
    walks over a symmetrized edge set — deterministic and
    SQL-replayable like :func:`random_walks`.

    At step t >= 2 a walker at ``cur`` with previous vertex ``prev``
    weights each candidate c in N(cur):

        w_return  if c == prev          (node2vec's 1/p)
        w_common  if c in N(prev)       (alpha = 1)
        w_far     otherwise             (node2vec's 1/q)

    Weights are POSITIVE INTEGERS (not 1/p floats) so the cumulative-
    weight selection ``r = h % W_total`` is exact integer arithmetic in
    Spark, NumPy and DuckDB alike; step 1 is the first-order choice.
    Candidates accumulate in dst-ascending order, so a walk is a pure
    function of (wid, weights, graph) on every path.

    **Hub cap (``max_expand``)**: second-order choice expands
    O(deg(cur)) candidates per walker, and walkers concentrate on hubs
    (stationary mass ∝ degree) — on a transcript graph's tool hubs the
    exact expansion is walkers_at_hub × deg_hub, measured 17e9 rows per
    step at 3.3M walkers BEFORE this cap. A walker whose ``cur`` has
    more than ``max_expand`` neighbors therefore takes the FIRST-ORDER
    uniform step (h % deg point probe, O(1)) instead of the biased
    pick. Deterministic, part of the walk spec (the oracle replays it),
    and semantically mild: on a 10^5-degree hub the p/q bias over one
    prev-neighborhood is noise anyway — capping bias at hubs is what
    production second-order samplers do (alias tables are
    O(sum deg^2) memory at 100 TB, a non-starter; uncapped streaming
    expansion is the measured OOM above).

    Plan per step (kernel='dataframe'): capped walkers take the
    degree-lookup + (src, rank) equi-join point probe; the rest expand
    against the ranked adjacency (bounded by max_expand rows each), a
    LEFT membership probe of (prev, dst) against the same bucketed
    edge table, then one window pass per walker for the cumulative
    pick. All joins stream against bucketed static tables, so only
    walker-scale and bounded-candidate-scale rows move.

    kernel='csr': two vectorized cogroup passes per step — expand from
    cur's packed block, then membership + weighted pick in prev's
    block (a walker's candidates share ``prev``, so they co-group with
    exactly the block that can answer the N(prev) probe). A/B-exact
    with the dataframe path.

    Returns (wid, step, vid), step 0..length.
    """
    if min(w_return, w_common, w_far) < 1:
        raise ValueError("node2vec weights must be positive integers")
    if max_expand < 1:
        raise ValueError("max_expand must be >= 1")
    spark = edges.sparkSession
    runner = runner or SuperstepRunner(spark, "node2vec")

    use_csr = kernel == "csr"
    if use_csr:
        from essentials_spark.graph.csr_blocks import build_csr_blocks

        n_buckets = n_buckets or spark.sparkContext.defaultParallelism
        blocks, _ = prepare_static_edges(
            build_csr_blocks(edges.select("src", "dst").withColumn("coef", F.lit(1.0)), n_buckets),
            runner, keys="bucket", n_buckets=n_buckets, name_hint="n2v_blocks",
        )
        radj = degt = None
    else:
        blocks = None
        radj, _ = prepare_static_edges(
            ranked_adjacency(edges), runner, keys="src", mode=edges_mode, name_hint="n2v_radj"
        )
        degt, _ = prepare_static_edges(
            edges.groupBy("src").agg(F.count("*").alias("deg")),
            runner, keys="src", mode=edges_mode, name_hint="n2v_deg",
        )
        # membership probe table (prev, dst) — the same edge set keyed
        # for the N(prev) test
        member, _ = prepare_static_edges(
            edges.select(F.col("src").alias("mprev"), F.col("dst").alias("mdst"))
            .withColumn("is_common", F.lit(1)),
            runner, keys="mprev", mode=edges_mode, name_hint="n2v_member",
        )

    # per-step checkpoint-resume, as in random_walks: the durable
    # frontier schema is (wid, prev, cur) uniformly (prev = cur at
    # step 0, unused — step 1 is first-order)
    if runner.checkpoint_dir and runner.fingerprint is None:
        runner.fingerprint = (
            f"n2v:{kernel}:len={length}:w={w_return}/{w_common}/{w_far}"
            f":cap={max_expand}:{edge_fingerprint(edges)}"
        )
    fronts, t0 = (
        _walk_resume(runner, length) if runner.checkpoint_dir else (None, 0)
    )

    def _pin(df: DataFrame, t: int) -> DataFrame:
        if runner.checkpoint_dir:
            return runner.materialize(df, t, force=True, meta={"kind": "n2v"})
        return truncate_plan(df)

    if fronts is not None:
        out = [
            f.select("wid", F.lit(i).alias("step"), F.col("cur").alias("vid"))
            for i, f in enumerate(fronts)
        ]
        prev_front = fronts[-1]
        front = prev_front.select("wid", "cur")
        runner.log(t0, resumed=True)
    else:
        prev_front = _pin(
            start.select("wid", F.col("vid").alias("prev"), F.col("vid").alias("cur")), 0
        )
        front = prev_front.select("wid", "cur")
        out = [front.select("wid", F.lit(0).alias("step"), F.col("cur").alias("vid"))]
        t0 = 0

    for t in range(t0 + 1, length + 1):
        if t == 1:
            hashed = front.withColumn("h", walk_hash(F.col("wid"), 1))
            if use_csr:
                from essentials_spark.graph.csr_blocks import csr_walk_step

                stepped = csr_walk_step(blocks, hashed, n_buckets).select(
                    "wid", F.col("cur").alias("nxt")
                )
                stepped = stepped.join(
                    front.select("wid", F.col("cur").alias("pprev")), "wid"
                ).select("wid", F.col("pprev").alias("prev"), F.col("nxt").alias("cur"))
            else:
                chosen = (
                    hashed.join(degt, hashed.cur == degt.src)
                    .select("wid", "cur", (F.pmod(F.col("h"), F.col("deg")) + 1).alias("rank"))
                )
                stepped = (
                    chosen.join(radj, (chosen.cur == radj.src) & (chosen.rank == radj.rank))
                    .select("wid", F.col("cur").alias("prev"), F.col("dst").alias("cur"))
                )
        else:
            hashed = prev_front.withColumn("h", walk_hash(F.col("wid"), t))
            if use_csr:
                from essentials_spark.graph.csr_blocks import (
                    csr_node2vec_expand,
                    csr_node2vec_pick,
                )

                cand = csr_node2vec_expand(blocks, hashed, n_buckets, max_expand)
                stepped = csr_node2vec_pick(
                    blocks, cand, n_buckets, w_return, w_common, w_far
                )
            else:
                withdeg = hashed.join(degt, hashed.cur == degt.src)
                # hub cap: first-order point probe for deg > max_expand
                big = withdeg.filter(F.col("deg") > max_expand).select(
                    "wid", "cur", (F.pmod(F.col("h"), F.col("deg")) + 1).alias("rank")
                )
                big_step = big.join(
                    radj, (big.cur == radj.src) & (big.rank == radj.rank)
                ).select("wid", F.col("cur").alias("prev"), F.col("dst").alias("cur"))
                hashed = withdeg.filter(F.col("deg") <= max_expand).select(
                    "wid", "prev", "cur", "h"
                )
                cand = hashed.join(radj, hashed.cur == radj.src).select(
                    "wid", "prev", "cur", "h", "dst", "rank"
                )
                marked = cand.join(
                    member,
                    (cand.prev == member.mprev) & (cand.dst == member.mdst),
                    "left",
                ).select(
                    "wid", "prev", "cur", "h", "dst", "rank",
                    F.when(F.col("dst") == F.col("prev"), F.lit(w_return))
                    .when(F.col("is_common") == 1, F.lit(w_common))
                    .otherwise(F.lit(w_far))
                    .alias("w"),
                )
                wspec = Window.partitionBy("wid").orderBy("rank")
                wtot = Window.partitionBy("wid")
                picked = (
                    marked.withColumn("cum", F.sum("w").over(wspec))
                    .withColumn("tot", F.sum("w").over(wtot))
                    .withColumn("r", F.pmod(F.col("h"), F.col("tot")))
                    .filter(
                        (F.col("cum") - F.col("w") <= F.col("r")) & (F.col("r") < F.col("cum"))
                    )
                )
                stepped = picked.select(
                    "wid", F.col("cur").alias("prev"), F.col("dst").alias("cur")
                ).unionByName(big_step)
        prev_front = _pin(stepped, t)
        front = prev_front.select("wid", "cur")
        out.append(prev_front.select("wid", F.lit(t).alias("step"), F.col("cur").alias("vid")))
        if prev_front.isEmpty():
            break

    walks = out[0]
    for df in out[1:]:
        walks = walks.unionByName(df)
    return runner.finalize(walks)


def temporal_neighbor_sample(
    tedges: DataFrame,
    roots: DataFrame,
    fanouts: list[int],
    recent_cap: int = 32,
) -> DataFrame:
    """Time-respecting bounded-fanout neighborhood sampling (the
    TGN-style mini-batch loader): ``tedges`` = (src_key, dst_key,
    ets_us) time-stamped edges, ``roots`` = (root_key, t0_us). Hop i
    expands each frontier row (root, v, bound) through up to
    ``fanouts[i]`` of v's MOST-RECENT out-edges with ets_us < bound
    (ties to the smaller dst); the sampled edge's own timestamp
    becomes the next hop's bound, so every path respects time
    monotonically backwards from the root's query time. To gather
    INFLUENCERS (edges pointing at the root), pass the reversed edge
    table. Returns (root_key, hop, src_key, dst_key, ets_us).

    Scale shape: the adjacency is pre-capped to each vertex's
    ``recent_cap`` most-recent edges (one window shuffle; n·cap static
    rows — hub histories are bounded BEFORE any hop join, the temporal
    analog of the walk hub cap; older-than-cap edges are invisible, a
    documented approximation the oracle replays identically). Each hop
    is one frontier⋈adjacency join + a per-(root, v, bound) top-k —
    output ≤ |roots|·Πfanouts rows by construction. All ranking keys
    are integers/strings: deterministic and SQL-replayable."""
    w_cap = Window.partitionBy("src_key").orderBy(
        F.col("ets_us").desc(), F.col("dst_key")
    )
    adj = (
        tedges.select("src_key", "dst_key", F.col("ets_us").cast("long").alias("ets_us"))
        .withColumn("_rk", F.row_number().over(w_cap))
        .filter(F.col("_rk") <= recent_cap)
        .drop("_rk")
    )
    front = roots.select(
        "root_key",
        F.col("root_key").alias("src_key"),
        F.col("t0_us").cast("long").alias("bound_us"),
    )
    out = None
    for hop, f in enumerate(fanouts, start=1):
        cand = front.join(adj, "src_key").filter(F.col("ets_us") < F.col("bound_us"))
        w = Window.partitionBy("root_key", "src_key", "bound_us").orderBy(
            F.col("ets_us").desc(), F.col("dst_key")
        )
        step = (
            cand.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= f)
            .select("root_key", F.lit(hop).alias("hop"), "src_key", "dst_key", "ets_us")
        )
        out = step if out is None else out.unionByName(step)
        front = step.select(
            "root_key", F.col("dst_key").alias("src_key"), F.col("ets_us").alias("bound_us")
        ).distinct()
    # the same (root, v) can be reached under two different bounds and
    # sample the same edge — dedup the emitted rows (bounds are not in
    # the output schema)
    return out.distinct()


def negative_samples(
    pairs: DataFrame,
    vkeys: DataFrame,
    k: int = 3,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic word2vec negative sampling: for each skip-gram
    pair (center_key, ctx_key), draw ``k`` uniform negatives over the
    vertex set via the portable hash — neg_vid =
    md5_int60(center:ctx:j:salt) % n, mapped back to keys through the
    dense rank table (vids ARE ranks of skey, so the oracle rebuilds
    the mapping with one ordered row_number). A draw that collides
    with the pair's own endpoints is bumped deterministically
    (+1, then +2 — distinct for n > 2), the standard resample made
    branch-free. Uniform over vertices is the deterministic baseline;
    frequency-tempered distributions compose by feeding a resampled
    vertex table.

    Scale shape: one explode (k rows per pair) + two hash-partitioned
    joins against the vertex table; no windows over the corpus, no
    RNG state. Returns (center_key, ctx_key, neg_idx, neg_key)."""
    n = vkeys.count()
    cvid = vkeys.select(F.col("skey").alias("center_key"), F.col("vid").alias("_cv"))
    xvid = vkeys.select(F.col("skey").alias("ctx_key"), F.col("vid").alias("_xv"))
    p = pairs.select("center_key", "ctx_key").join(cvid, "center_key").join(xvid, "ctx_key")
    drawn = p.select(
        "center_key",
        "ctx_key",
        "_cv",
        "_xv",
        F.posexplode(
            F.array(
                *[
                    (
                        md5_int60(
                            F.concat(
                                F.col("center_key"), F.lit(":"), F.col("ctx_key"),
                                F.lit(f":{j}:{salt}"),
                            )
                        )
                        % F.lit(n)
                    )
                    for j in range(k)
                ]
            )
        ).alias("neg_idx", "_raw"),
    )
    bump1 = (F.col("_raw") + 1) % F.lit(n)
    bump2 = (F.col("_raw") + 2) % F.lit(n)
    neg = (
        F.when(
            (F.col("_raw") != F.col("_cv")) & (F.col("_raw") != F.col("_xv")), F.col("_raw")
        )
        .when((bump1 != F.col("_cv")) & (bump1 != F.col("_xv")), bump1)
        .otherwise(bump2)
    )
    nkey = vkeys.select(F.col("vid").alias("_nv"), F.col("skey").alias("neg_key"))
    return (
        drawn.select("center_key", "ctx_key", "neg_idx", neg.alias("_nv"))
        .join(nkey, "_nv")
        .select("center_key", "ctx_key", F.col("neg_idx").cast("int").alias("neg_idx"), "neg_key")
    )
