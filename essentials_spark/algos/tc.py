"""Triangle counting — degree-ordered enumeration, reference semantics.

Reference: include/gunrock/algorithms/tc.hxx:68-129 + the sorted
neighbor-list intersection in graph/csr.hxx:110-167 (smaller list
first :126-129 — the degree-ordering optimization). Semantics pinned
by the golden fixture unittests/algorithms/tc.cuh:19-95:

- undirected graph, self-loops excluded;
- per-vertex count = number of triangles containing the vertex
  ("third vertex" attribution: each edge (u,v) with neighbor > source
  credits every w in N(u) ∩ N(v), so each triangle credits all three
  corners once);
- total = sum = 3 x #triangles.

Spark plan: orient every undirected edge from its (degree, vid)-lower
endpoint to its higher one — a DAG where every vertex's out-degree is
O(sqrt(m)) on any graph, which bounds the wedge join (the standard
distributed-TC mitigation for the same power-law blow-up the
reference's merge-path load balancer fights). Then
  triangles = wedges(u->v, u->w with v<w) JOIN oriented(v->w)
— two shuffle joins total, no iteration.

``kernel='csr'`` swaps the wedge join + closing join for two packed
NumPy kernels over hash-bucketed blocks — the reference's sorted
neighbor-list intersection (graph/csr.hxx:110-167) made a Spark
physical path, completing the CSR-kernel family (PR: spmv_push, CC:
csr_min_push / contraction):

  kernel A  per-bucket wedge generation: each u's out-neighbors are
            sorted by (deg, vid) and all ordered pairs (b, c) emitted
            via repeat/arange index algebra (zero per-row Python);
  kernel B  cogroup(wedges by hash(b), oriented edges by hash(u)):
            membership c ∈ N+(b) by np.searchsorted on the block's
            sorted (u·M+v) key array (≙ the reference's binary-search
            intersection, csr.hxx:126-150), matched corners counted
            with np.unique.

Both paths are A/B-exact (same orientation, same wedge set). The
dataframe path stays the default: whole-stage codegen wins locally
(same story as PR/CC kernels); the CSR path is the shape whose block
residency and Arrow batch transfer survive a 1000-executor scale-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from essentials_spark.engine.superstep import truncate_plan
from essentials_spark.graph.derive import Graph, canonicalize_edges


def triangle_count(
    graph: Graph,
    pre_symmetrized: bool = False,
    kernel: str = "dataframe",
    n_buckets: int | None = None,
) -> tuple[DataFrame, int]:
    """Returns (per-vertex DataFrame (vid, tc: long), total).

    total == 3 x number of distinct triangles (reference convention).
    """
    edges = graph.edges if pre_symmetrized else canonicalize_edges(
        graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    # truncate derivation lineage: the wedge plan references this
    # subtree several times (see engine/superstep.truncate_plan)
    sym = truncate_plan(edges.select("src", "dst"))

    deg = sym.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "vid")

    und = sym.filter(F.col("src") < F.col("dst"))
    with_deg = (
        und.join(deg.select(F.col("vid").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    )
    lower_first = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
    oriented = with_deg.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(lower_first, F.col("ddeg")).otherwise(F.col("sdeg")).alias("vdeg"),
    )
    oriented = truncate_plan(oriented)

    if kernel == "csr":
        corners = _csr_corners(oriented, n_buckets)
    else:
        e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("vdeg").alias("bdeg"))
        e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"), F.col("vdeg").alias("cdeg"))
        wedges = e1.join(e2, "a").filter(F.struct("bdeg", "b") < F.struct("cdeg", "c"))
        closing = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
        triangles = wedges.join(closing, ["b", "c"]).select("a", "b", "c")

        corners = (
            triangles.select(F.explode(F.array("a", "b", "c")).alias("vid"))
            .groupBy("vid")
            .agg(F.count("*").alias("tc"))
        )
    per_vertex = (
        graph.vertices.select("vid")
        .join(corners, "vid", "left")
        .select("vid", F.coalesce(F.col("tc"), F.lit(0)).alias("tc"))
    )
    total = per_vertex.agg(F.sum("tc")).collect()[0][0] or 0
    return per_vertex, int(total)


def _csr_corners(oriented: DataFrame, n_buckets: int | None) -> DataFrame:
    """Per-vertex corner counts via the packed intersection kernels
    (module docstring). Input: the degree-oriented DAG (u, v, vdeg).

    Data volume is identical to the join path (the wedge set W is
    irreducible); what changes is the physical operator: wedges move
    as Arrow batches and the closing check is a searchsorted against
    the block's packed key array instead of a shuffled hash join of W
    rows. At 100 TB the wedge batch for one bucket can exceed one
    Arrow allocation — raise n_buckets so per-bucket Σ deg⁺(u)² stays
    in memory (degree orientation bounds it by m·√m globally)."""
    import numpy as np
    import pandas as pd

    spark = oriented.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism

    ob = oriented.withColumn(
        "bucket", F.pmod(F.xxhash64("u"), F.lit(n_buckets)).cast("int")
    )

    def gen_wedges(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"a": pd.Series(dtype="int64"), "b": pd.Series(dtype="int64"), "c": pd.Series(dtype="int64")}
            )
        # neighbor order must mirror the join path's wedge filter
        # struct(bdeg,b) < struct(cdeg,c): sort each u's adjacency by
        # (vdeg, v); i<j pairs then satisfy it by construction, and the
        # closing edge — if it exists — is oriented b->c in the DAG
        order = np.lexsort((pdf["v"].to_numpy(), pdf["vdeg"].to_numpy(), pdf["u"].to_numpy()))
        u = pdf["u"].to_numpy()[order]
        v = pdf["v"].to_numpy()[order]
        _, starts, counts = np.unique(u, return_index=True, return_counts=True)
        idx = np.arange(len(u), dtype=np.int64)
        # rep[i] = later same-u elements: i pairs (as b) with each
        rep = np.repeat(starts + counts, counts) - idx - 1
        total = int(rep.sum())
        if total == 0:
            return pd.DataFrame(
                {"a": pd.Series(dtype="int64"), "b": pd.Series(dtype="int64"), "c": pd.Series(dtype="int64")}
            )
        cstart = np.repeat(idx + 1, rep)
        run_off = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(rep) - rep, rep)
        return pd.DataFrame(
            {"a": np.repeat(u, rep), "b": np.repeat(v, rep), "c": v[cstart + run_off]}
        )

    wedges = ob.groupBy("bucket").applyInPandas(gen_wedges, schema="a long, b long, c long")
    wb = wedges.withColumn(
        "bucket", F.pmod(F.xxhash64("b"), F.lit(n_buckets)).cast("int")
    )
    adj = oriented.select("u", "v").withColumn(
        "bucket", F.pmod(F.xxhash64("u"), F.lit(n_buckets)).cast("int")
    )

    def close(wpdf: pd.DataFrame, apdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vid": pd.Series(dtype="int64"), "cnt": pd.Series(dtype="int64")})
        if len(wpdf) == 0 or len(apdf) == 0:
            return empty
        eu = apdf["u"].to_numpy()
        ev = apdf["v"].to_numpy()
        b = wpdf["b"].to_numpy()
        c = wpdf["c"].to_numpy()
        # composite key u*M+v: M bounds every id in play; ids are
        # rank-of-skey vids, so M^2 < 2^63 holds to ~3e9 vertices —
        # past that, split the probe into (searchsorted on u, then v)
        M = int(max(ev.max(), c.max())) + 1
        ekey = np.sort(eu * M + ev)
        qkey = b * M + c
        pos = np.searchsorted(ekey, qkey)
        pos[pos >= len(ekey)] = 0
        hit = ekey[pos] == qkey
        if not hit.any():
            return empty
        vids = np.concatenate([wpdf["a"].to_numpy()[hit], b[hit], c[hit]])
        uniq, cnt = np.unique(vids, return_counts=True)
        return pd.DataFrame({"vid": uniq, "cnt": cnt})

    partial = (
        wb.groupBy("bucket")
        .cogroup(adj.groupBy("bucket"))
        .applyInPandas(lambda w, a: close(w, a), schema="vid long, cnt long")
    )
    return partial.groupBy("vid").agg(F.sum("cnt").alias("tc"))


def incremental_tc_update(
    per_vertex: DataFrame,
    edges: DataFrame,
    new_edges: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Exact incremental triangle-count maintenance (streaming
    micro-batch shape, the TC companion to cc.incremental_cc_update).

    ``per_vertex``: current corner counts (vid, tc). ``edges``: the
    current CANONICAL undirected edge set (src < dst, deduped, no
    self-loops) the counts were computed on. ``new_edges``: a raw
    batch (any direction, dups ok). Returns (per_vertex', edges')
    EQUAL to ``triangle_count`` on the union graph.

    New edges only CREATE triangles, and every new triangle contains
    1, 2, or 3 batch edges — enumerated disjointly (batch edges are
    first anti-joined against the current set, so batch and static
    sets are disjoint):

      t1 (one batch edge (u,v)): third corner w with BOTH (u,w) and
         (v,w) static — enumerate w over N_static(u), close on the
         static (v,w); each such triangle has a unique batch edge, so
         it is found exactly once;
      t2 (two batch edges): a batch wedge (w,u),(w,v) closed by a
         STATIC (u,v) — the wedge center is unique per triangle;
      t3 (all three): plain ``triangle_count`` on the batch subgraph.

    Corner deltas are additive across the three disjoint classes, so
    per-vertex counts update by one groupBy-sum; the total stays
    3 x #triangles by construction. Scale shape: every join is
    batch-side against the static table (in production the static
    side is the bucketed symmetrized table every other algorithm
    shares — engine/static_table.py), the static set is never
    re-enumerated, and the t3 solve is batch-scale. Reference anchor:
    tc.hxx:68-129 semantics; the per-batch maintenance algebra is the
    standard streaming-TC decomposition.
    """
    spark = edges.sparkSession
    if "weight" not in new_edges.columns:
        new_edges = new_edges.withColumn("weight", F.lit(1.0))
    batch = (
        canonicalize_edges(new_edges, symmetrize=True, dedup=True, drop_self_loops=True)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .join(edges.select("src", "dst"), ["src", "dst"], "left_anti")
    )
    batch = truncate_plan(batch).persist()
    sym = truncate_plan(
        edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ).persist()

    # t1: w ∈ N_static(u) with (v, w) static
    cand = batch.join(
        sym.select(F.col("src").alias("src"), F.col("dst").alias("w")), "src"
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
    t1 = cand.join(
        sym.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    # t2: batch wedge centered w, closed by a static (u, v)
    bsym = batch.unionByName(
        batch.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    wedge = (
        bsym.select(F.col("src").alias("w"), F.col("dst").alias("u"))
        .join(bsym.select(F.col("src").alias("w"), F.col("dst").alias("v")), "w")
        .filter(F.col("u") < F.col("v"))
    )
    t2 = wedge.join(edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
                    ["u", "v"], "left_semi").select("u", "v", "w")
    # t3: triangles inside the batch subgraph
    bverts = truncate_plan(
        batch.select(F.col("src").alias("vid"))
        .unionByName(batch.select(F.col("dst").alias("vid")))
        .distinct()
    ).persist()
    t3_pv, _t3_total = triangle_count(
        Graph(vertices=bverts, edges=batch.withColumn("weight", F.lit(1.0)))
    )

    corners = (
        t1.select(F.explode(F.array("u", "v", "w")).alias("vid"))
        .unionByName(t2.select(F.explode(F.array("u", "v", "w")).alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("d"))
        .unionByName(t3_pv.filter(F.col("tc") > 0).select("vid", F.col("tc").alias("d")))
        .groupBy("vid")
        .agg(F.sum("d").alias("delta"))
    )
    base = (
        per_vertex.select("vid", "tc")
        .unionByName(bverts.select("vid", F.lit(0).cast("long").alias("tc")))
        .groupBy("vid")
        .agg(F.max("tc").alias("tc"))
    )
    out_pv = truncate_plan(
        base.join(corners, "vid", "left")
        .select("vid", (F.col("tc") + F.coalesce(F.col("delta"), F.lit(0))).cast("long").alias("tc"))
    )
    out_edges = truncate_plan(edges.select("src", "dst").unionByName(batch))
    batch.unpersist()
    sym.unpersist()
    bverts.unpersist()
    return out_pv, out_edges
