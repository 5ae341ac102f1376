"""Degree-2 chain contraction — derivation-layer preprocessing for
traversal on high-diameter graphs.

Transcript-derived link graphs are DIAMETER-dominated: a conversation
is an 86-turn path, so BFS/SSSP/BC/diameter pay one superstep per hop
even though almost every hop crosses a degree-2 "chain" vertex with no
branching choice. This module contracts every maximal path whose
interior vertices have degree exactly 2 into a single weighted
SUPER-EDGE (endpoints = branch points / tool hubs / chain ends),
keeping an exact REHYDRATION map so per-vertex results on the original
graph are recovered bit-exactly. The machinery is the same contraction
idea as Boruvka MST's supervertex collapse (reference
include/gunrock/algorithms/mst.hxx:173-220), applied to the derivation
layer: traversals then run over a graph whose vertex count ~ #branch
points and whose hop-diameter is the CONTRACTED diameter (for
conversation graphs, a handful), not the turn count.

Construction is pure list ranking (Wyllie pointer jumping, public
classic): each interior vertex owns two HALF-EDGES (one per
direction); pointer doubling composes them until every half-edge
reaches a non-interior endpoint — O(log max-chain-length) rounds, each
one interior-scale self-join. No per-row Python anywhere. Pure
degree-2 CYCLES never finalize; their vertices are simply excluded
from contraction (detected when every surviving walk is longer than
any simple chain can be), so correctness never depends on the graph
being cycle-free.

Weights are tracked PER DIRECTION: a symmetrized edge set may carry
asymmetric weights (weight(u->v) != weight(v->u)), so every half-edge
accumulates both its outbound sum (v -> endpoint) and inbound sum
(endpoint -> v). Super-edge p->q weight = (p->member inbound prefix) +
(member->q outbound suffix), identical for every member.

Exactness: interiors have no branching, so any path through a chain
traverses it whole, and a shortest path to an interior vertex v is a
shortest path to one of its chain endpoints plus the in-chain prefix:
dist(v) = min(dist(A) + w_in_A(v), dist(B) + w_in_B(v)). Both hop
counts and directional weight sums are carried, so BFS and weighted
SSSP rehydrate exactly (bit-exact for integer-valued weights; within
summation-order ULPs for general floats).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import truncate_plan


@dataclass
class ChainContraction:
    """Result handle.

    - ``super_edges``: (src, dst, hops long, weight double, chain_id
      long) — directed contracted edge set over terminal vertices:
      one row PER DIRECTION per maximal chain (chain_id = the interior
      vertex adjacent to the src-side endpoint; parallel chains stay
      distinct rows; weight = directional traversal sum src -> dst)
      plus every original terminal-terminal edge with hops=1
      (chain_id null).
    - ``interior``: one row per contracted interior vertex v —
      (vid, end_a, da_hops, da_w_out, da_w_in, last_a,
       end_b, db_hops, db_w_out, db_w_in, last_b,
       chain_id, pos_hops, pos_w_out, pos_w_in) where direction a/b
      walks toward that endpoint; ``*_w_out`` sums edge weights in the
      v->endpoint direction, ``*_w_in`` in the endpoint->v direction;
      ``last_*`` is the interior vertex adjacent to that endpoint;
      ``chain_id`` is the p-side head (one value per maximal chain,
      shared by all members); ``pos_*`` are the member's prefix
      coordinates from the p endpoint (pos_w_in = weight p..v walking
      AWAY from p, pos_w_out = weight v..p walking toward p).
    - ``terminals``: (vid) — vertices present in the contracted graph
      (non-interior, incl. degree-2 vertices protected by ``keep`` and
      pure-cycle members).
    """

    super_edges: DataFrame
    interior: DataFrame
    terminals: DataFrame
    # one row per maximal chain: (p, q, hops, w_pq, w_qp, head_p,
    # head_q) — head_p doubles as the chain_id used by interior rows.
    # Chain-aware algorithms (BC's per-chain dependency algebra, geo's
    # delivery DAG) consume this directly.
    chains: DataFrame | None = None

    def release(self) -> None:
        for df in (self.super_edges, self.interior, self.terminals, self.chains):
            if df is not None:
                df.unpersist()


def _local_rank_kernel(pdf):
    """Per-bucket vectorized pointer doubling (NumPy, no per-row
    Python): compose every half-edge with its pointer target AS LONG AS
    the target lives in the same bucket. Range-bucketing by vid means
    consecutive-turn chains co-locate, so most chains fully resolve
    here in one task; only bucket-boundary crossings (and cycles) are
    left for the global doubling rounds. Composition is associative,
    so any prefix of local jumps is exact."""
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return pdf.drop(columns=["bucket"])
    v = pdf["v"].to_numpy(np.int64)
    x = pdf["x"].to_numpy(np.int64)
    end = pdf["end"].to_numpy(np.int64)
    hops = pdf["hops"].to_numpy(np.int64)
    w_out = pdf["w_out"].to_numpy(np.float64)
    w_in = pdf["w_in"].to_numpy(np.float64)
    final = pdf["final"].to_numpy(bool)
    nv = pdf["nv"].astype("float64").to_numpy()  # nullable -> NaN
    nx = pdf["nx"].astype("float64").to_numpy()
    last = pdf["last"].astype("float64").to_numpy()

    # local dense ids so the (v, x) pair key fits int64 at any scale
    allv = np.unique(np.concatenate([v, x]))
    L = len(allv)
    key = np.searchsorted(allv, v) * L + np.searchsorted(allv, x)
    order = np.argsort(key)
    key_sorted = key[order]

    max_rounds = int(np.ceil(np.log2(max(len(pdf), 2)))) + 2
    for _ in range(max_rounds):
        live = ~final & ~np.isnan(nv)
        if not live.any():
            break
        nvi = nv[live].astype(np.int64)
        nxi = nx[live].astype(np.int64)
        # pointer target present in this bucket?
        pv = np.searchsorted(allv, nvi)
        px = np.searchsorted(allv, nxi)
        in_ids = (pv < L) & (allv[np.clip(pv, 0, L - 1)] == nvi) & (
            px < L
        ) & (allv[np.clip(px, 0, L - 1)] == nxi)
        nkey = pv * L + px
        pos = np.clip(np.searchsorted(key_sorted, nkey), 0, len(key_sorted) - 1)
        hit = in_ids & (key_sorted[pos] == nkey)
        if not hit.any():
            break
        rows = np.flatnonzero(live)[hit]
        tgt = order[pos[hit]]
        end[rows] = end[tgt]
        hops[rows] = hops[rows] + hops[tgt]
        w_out[rows] = w_out[rows] + w_out[tgt]
        w_in[rows] = w_in[rows] + w_in[tgt]
        final[rows] = final[tgt]
        nv[rows] = nv[tgt]
        nx[rows] = nx[tgt]
        last[rows] = last[tgt]

    return pd.DataFrame(
        {
            "v": v, "x": x, "end": end, "hops": hops,
            "w_out": w_out, "w_in": w_in, "final": final,
            "nv": pd.array(nv, dtype="Int64"),
            "nx": pd.array(nx, dtype="Int64"),
            "last": pd.array(last, dtype="Int64"),
        }
    )


def chain_contraction(
    vertices: DataFrame,
    edges: DataFrame,
    keep: DataFrame | None = None,
    max_rounds: int = 64,
    n_buckets: int | None = None,
) -> ChainContraction:
    """Contract maximal degree-2 chains of a SYMMETRIZED, deduplicated,
    self-loop-free edge set (src, dst[, weight]; weight defaults 1.0;
    both orientations must be present, weights may differ by
    direction).

    ``keep``: optional (vid) rows that must stay terminal even at
    degree 2 — callers that cannot route an interior source through
    rehydration pass their sources here."""
    e = edges.select("src", "dst", *(["weight"] if "weight" in edges.columns else []))
    if "weight" not in e.columns:
        e = e.withColumn("weight", F.lit(1.0))
    # reverse-direction weight alongside each edge (both orientations
    # exist on a symmetrized set, so this inner join is total)
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("weight").alias("win")
    )
    ew = e.join(rev, ["src", "dst"])

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    interior0 = deg.filter(F.col("deg") == 2).select(F.col("src").alias("vid"))
    if keep is not None:
        interior0 = interior0.join(keep.select("vid"), "vid", "left_anti")

    # per-interior neighbor pair, dst-ascending (deg==2 guarantees two
    # distinct rows after dedup) — min/max struct aggregates (map-side
    # partials, no array materialization) carry both neighbor ids and
    # both directional edge weights
    nb = truncate_plan(
        ew.join(interior0.select(F.col("vid").alias("src")), "src")
        .groupBy("src")
        .agg(
            F.min(F.struct("dst", "weight", "win")).alias("lo"),
            F.max(F.struct("dst", "weight", "win")).alias("hi"),
        )
        .select(
            F.col("src").alias("vid"),
            F.col("lo")["dst"].alias("n1"),
            F.col("lo")["weight"].alias("w1o"),
            F.col("lo")["win"].alias("w1i"),
            F.col("hi")["dst"].alias("n2"),
            F.col("hi")["weight"].alias("w2o"),
            F.col("hi")["win"].alias("w2i"),
        )
    ).persist()

    # half-edges: (v, x) = standing at interior v, walking toward x.
    # State: end/hops/w_out/w_in = farthest composed position with the
    # directional weight sums; final once the walk exits the interior
    # set; (nv, nx) = next half-edge to compose with; last = interior
    # vertex adjacent to the endpoint (set when the final hop is taken).
    h0 = nb.select(
        "vid", F.col("n1").alias("x"), F.col("w1o").alias("wo"), F.col("w1i").alias("wi")
    ).unionByName(
        nb.select("vid", F.col("n2").alias("x"), F.col("w2o").alias("wo"), F.col("w2i").alias("wi"))
    )
    x_side = nb.select(
        F.col("vid").alias("x"), F.col("n1").alias("xn1"), F.col("n2").alias("xn2")
    )
    cur = truncate_plan(
        h0.join(x_side, "x", "left").select(
            F.col("vid").alias("v"),
            "x",
            F.col("x").alias("end"),
            F.lit(1).cast("long").alias("hops"),
            F.col("wo").cast("double").alias("w_out"),
            F.col("wi").cast("double").alias("w_in"),
            F.col("xn1").isNull().alias("final"),
            F.when(F.col("xn1").isNotNull(), F.col("x")).alias("nv"),
            F.when(
                F.col("xn1").isNotNull(),
                F.when(F.col("xn1") == F.col("vid"), F.col("xn2")).otherwise(F.col("xn1")),
            ).alias("nx"),
            F.when(F.col("xn1").isNull(), F.col("vid")).alias("last"),
        )
    ).persist()

    # Phase A — bucket-local vectorized doubling: RANGE-bucket by vid
    # (dense vids are skey ranks, so consecutive turns of a
    # conversation are adjacent ids and whole chains co-locate) and
    # resolve in-bucket pointer runs inside one NumPy task each. Most
    # chains finalize here; the global loop below only composes the
    # bucket-boundary remainder (and detects cycles).
    n_interior = nb.count()
    spark = edges.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    vmax_row = vertices.agg(F.max("vid")).collect()[0][0]
    vmax = int(vmax_row) + 1 if vmax_row is not None else 1
    bucketed = cur.withColumn(
        "bucket", ((F.col("v") * n_buckets) / F.lit(vmax)).cast("int")
    )
    compacted = bucketed.groupBy("bucket").applyInPandas(
        _local_rank_kernel,
        schema=(
            "v long, x long, end long, hops long, w_out double, "
            "w_in double, final boolean, nv long, nx long, last long"
        ),
    )
    old_cur = cur
    cur = truncate_plan(compacted).persist()
    old_cur.unpersist()

    # Phase B — global Wyllie pointer doubling: compose each non-final
    # half-edge with the half-edge it points at; distance covered
    # doubles per round.
    for _ in range(max_rounds):
        row = cur.filter(~F.col("final")).agg(
            F.count(F.lit(1)).alias("c"), F.min("hops").alias("minh")
        ).collect()[0]
        if row["c"] == 0:
            break
        if row["minh"] is not None and row["minh"] > n_interior:
            # every remaining non-final walk is longer than any simple
            # chain can be — all are pure cycles (pointers rotate
            # forever); stop and let them fall back to terminals
            break
        s = cur.select(
            F.col("v").alias("sv"), F.col("x").alias("sx"),
            F.col("end").alias("send"), F.col("hops").alias("shops"),
            F.col("w_out").alias("swo"), F.col("w_in").alias("swi"),
            F.col("final").alias("sfinal"),
            F.col("nv").alias("snv"), F.col("nx").alias("snx"),
            F.col("last").alias("slast"),
        )
        nxt = (
            cur.join(s, (cur.nv == s.sv) & (cur.nx == s.sx), "left")
            .select(
                "v", "x",
                F.when(F.col("final"), F.col("end")).otherwise(F.col("send")).alias("end"),
                F.when(F.col("final"), F.col("hops")).otherwise(F.col("hops") + F.col("shops")).alias("hops"),
                F.when(F.col("final"), F.col("w_out")).otherwise(F.col("w_out") + F.col("swo")).alias("w_out"),
                F.when(F.col("final"), F.col("w_in")).otherwise(F.col("w_in") + F.col("swi")).alias("w_in"),
                F.when(F.col("final"), F.lit(True)).otherwise(F.coalesce(F.col("sfinal"), F.lit(False))).alias("final"),
                F.when(F.col("final"), F.lit(None).cast("long")).otherwise(F.col("snv")).alias("nv"),
                F.when(F.col("final"), F.lit(None).cast("long")).otherwise(F.col("snx")).alias("nx"),
                F.when(F.col("final"), F.col("last")).otherwise(F.col("slast")).alias("last"),
            )
        )
        old = cur
        cur = truncate_plan(nxt).persist()
        old.unpersist()

    # pure-cycle members: any vertex still owning a non-final half-edge
    # falls back to terminal status (its edges pass through verbatim)
    cyc = cur.filter(~F.col("final")).select("v").distinct()
    resolved = cur.filter(F.col("final")).join(
        cyc.withColumnRenamed("v", "cv"), cur.v == F.col("cv"), "left_anti"
    )

    # interior map: fold the two directions back into one row (the
    # dst-ascending x order makes direction assignment deterministic),
    # then canonicalize an orientation per CHAIN so every member agrees
    # on chain identity and position:
    # - non-loop chain (end_a != end_b): the "p side" is the smaller
    #   endpoint;
    # - loop chain (both directions exit at the same terminal): the
    #   p side is the one whose adjacent-head interior vertex is
    #   smaller (endpoints tie, heads cannot).
    # chain_id := the head interior vertex on the p side — an interior
    # vertex belongs to exactly one chain, so this is chain-unique and
    # identical for every member; pos := prefix walking in from p.
    base = (
        resolved.groupBy("v")
        .agg(
            F.min(F.struct("x", "end", "hops", "w_out", "w_in", "last")).alias("lo"),
            F.max(F.struct("x", "end", "hops", "w_out", "w_in", "last")).alias("hi"),
        )
        .select(
            F.col("v").alias("vid"),
            F.col("lo")["end"].alias("end_a"),
            F.col("lo")["hops"].alias("da_hops"),
            F.col("lo")["w_out"].alias("da_w_out"),
            F.col("lo")["w_in"].alias("da_w_in"),
            F.col("lo")["last"].alias("last_a"),
            F.col("hi")["end"].alias("end_b"),
            F.col("hi")["hops"].alias("db_hops"),
            F.col("hi")["w_out"].alias("db_w_out"),
            F.col("hi")["w_in"].alias("db_w_in"),
            F.col("hi")["last"].alias("last_b"),
        )
    )
    use_a = F.when(
        F.col("end_a") != F.col("end_b"), F.col("end_a") < F.col("end_b")
    ).otherwise(F.col("last_a") <= F.col("last_b"))
    interior = truncate_plan(
        base.withColumns(
            {
                "chain_id": F.when(use_a, F.col("last_a")).otherwise(F.col("last_b")),
                "pos_hops": F.when(use_a, F.col("da_hops")).otherwise(F.col("db_hops")),
                # pos_w_in: weight of p..v walking AWAY from p (the
                # inbound prefix of the p-side direction); pos_w_out:
                # v..p walking toward p
                "pos_w_in": F.when(use_a, F.col("da_w_in")).otherwise(F.col("db_w_in")),
                "pos_w_out": F.when(use_a, F.col("da_w_out")).otherwise(F.col("db_w_out")),
            }
        )
    ).persist()
    nb.unpersist()
    cur.unpersist()

    # one super-edge PER DIRECTION per maximal chain. Group by the
    # head pair (interior vertices adjacent to each endpoint): chain-
    # unique, identical for every member, and keeps PARALLEL
    # same-length chains distinct; min() over the member-emitted sums
    # makes the row deterministic even when float summation order
    # differs between members. Directional weight p->q = (p->member
    # inbound prefix) + (member->q outbound suffix).
    int_use_a = F.when(
        F.col("end_a") != F.col("end_b"), F.col("end_a") < F.col("end_b")
    ).otherwise(F.col("last_a") <= F.col("last_b"))
    chains = truncate_plan(
        interior.select(
            F.when(int_use_a, F.col("end_a")).otherwise(F.col("end_b")).alias("p"),
            F.when(int_use_a, F.col("end_b")).otherwise(F.col("end_a")).alias("q"),
            (F.col("da_hops") + F.col("db_hops")).alias("hops"),
            F.when(int_use_a, F.col("da_w_in") + F.col("db_w_out"))
            .otherwise(F.col("db_w_in") + F.col("da_w_out")).alias("w_pq"),
            F.when(int_use_a, F.col("db_w_in") + F.col("da_w_out"))
            .otherwise(F.col("da_w_in") + F.col("db_w_out")).alias("w_qp"),
            F.when(int_use_a, F.col("last_a")).otherwise(F.col("last_b")).alias("head_p"),
            F.when(int_use_a, F.col("last_b")).otherwise(F.col("last_a")).alias("head_q"),
        )
        .groupBy("p", "q", "head_p", "head_q")
        .agg(F.min("hops").alias("hops"), F.min("w_pq").alias("w_pq"), F.min("w_qp").alias("w_qp"))
    ).persist()

    terminals = truncate_plan(
        vertices.select("vid").join(interior.select("vid"), "vid", "left_anti")
    ).persist()

    passthrough = (
        e.join(interior.select(F.col("vid").alias("src")), "src", "left_anti")
        .join(interior.select(F.col("vid").alias("dst")), "dst", "left_anti")
        .select(
            "src", "dst", F.lit(1).cast("long").alias("hops"),
            F.col("weight").cast("double").alias("weight"),
            F.lit(None).cast("long").alias("chain_id"),
        )
    )
    chain_edges = chains.select(
        F.col("p").alias("src"), F.col("q").alias("dst"), "hops",
        F.col("w_pq").alias("weight"), F.col("head_p").alias("chain_id"),
    ).unionByName(
        chains.filter(F.col("p") != F.col("q")).select(
            F.col("q").alias("src"), F.col("p").alias("dst"), "hops",
            F.col("w_qp").alias("weight"), F.col("head_q").alias("chain_id"),
        )
    )
    super_edges = truncate_plan(passthrough.unionByName(chain_edges)).persist()
    return ChainContraction(
        super_edges=super_edges, interior=interior, terminals=terminals, chains=chains
    )


def expand_distances(
    contraction: ChainContraction,
    dist: DataFrame,
    value_col: str = "dist",
    use_hops: bool = True,
) -> DataFrame:
    """Rehydrate per-vertex distances: given (vid, <value_col>) over
    TERMINAL vertices (reachable only), return the same over ALL
    reachable original vertices. Interior v takes
    min(dist(end_a) + inbound_prefix_a, dist(end_b) + inbound_prefix_b)
    — the INBOUND (endpoint -> v) directional sums — null-safe
    (F.least skips an unreachable side); ``use_hops`` picks the hop
    prefix (BFS) vs the weight prefix (SSSP)."""
    da = F.col("da_hops") if use_hops else F.col("da_w_in")
    db = F.col("db_hops") if use_hops else F.col("db_w_in")
    d_a = dist.select(F.col("vid").alias("end_a"), F.col(value_col).alias("dist_a"))
    d_b = dist.select(F.col("vid").alias("end_b"), F.col(value_col).alias("dist_b"))
    interior_dist = (
        contraction.interior.join(d_a, "end_a", "left")
        .join(d_b, "end_b", "left")
        .select(
            "vid",
            F.least(F.col("dist_a") + da, F.col("dist_b") + db).alias(value_col),
        )
        .filter(F.col(value_col).isNotNull())
    )
    return dist.select("vid", value_col).unionByName(interior_dist)
