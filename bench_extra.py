#!/usr/bin/env python
"""Round-7 optimization measurement harness (bench.py is FROZEN).

Isolates each suite query per guide §1.4 (noop-style: the algorithms
already end in counts/aggregates over persisted state, so the timed
region is the computation, not a sink), labels jobs (§1.5), counts the
Spark jobs each query issues (fixed per-job driver latency dominates at
sf0.1 — 131k edges), and dumps ``.explain("formatted")`` artifacts for
plans/r07/.

Usage:
    python bench_extra.py isolate [--passes 2] [--sf DIR | --synthetic N]
    python bench_extra.py plans  [--out plans/r07 --suffix before]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(cpus: int):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from essentials_spark.session import get_spark

    return get_spark(
        master=f"local[{cpus}]", app_name="bench-extra", shuffle_partitions=cpus
    )


def _job_count(sc) -> int:
    """Highest job id seen so far (monotone per session) — deltas count
    the jobs a timed region issued."""
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(None) or []
    try:
        all_ids = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        ids = list(all_ids) or ids
    except Exception:
        pass
    return max(ids) if ids else 0


def _rest_jobs(spark) -> list[dict]:
    """All jobs from the UI REST API (needs spark.ui.enabled=true, e.g.
    via SPARK_GRAFT_EXTRA_CONF='{"spark.ui.enabled":"true"}')."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/jobs") as r:
            return json.loads(r.read())
    except Exception:
        return []


def _profile_region(spark, jobs_before: set, label: str) -> dict:
    """Aggregate REST job rows created since ``jobs_before`` by name."""
    import datetime as _dt

    rows = [j for j in _rest_jobs(spark) if j["jobId"] not in jobs_before]

    def dur(j):
        try:
            f = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t0 = _dt.datetime.strptime(j["submissionTime"], f)
            t1 = _dt.datetime.strptime(j["completionTime"], f)
            return (t1 - t0).total_seconds()
        except Exception:
            return 0.0
    agg: dict[str, dict] = {}
    for j in rows:
        name = (j.get("name") or "?").split(" at ")[0][:70]
        a = agg.setdefault(name, {"n": 0, "sec": 0.0, "tasks": 0})
        a["n"] += 1
        a["sec"] = round(a["sec"] + dur(j), 3)
        a["tasks"] += j.get("numTasks", 0)
    return {"label": label, "n_jobs": len(rows), "by_name": agg}


def cmd_isolate(args) -> None:
    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    sc = spark.sparkContext

    import bench as bench_mod
    from essentials_spark.algos import triangle_count
    from essentials_spark.engine.superstep import SuperstepRunner, truncate_plan
    from essentials_spark.graph.derive import Graph, canonicalize_edges
    from essentials_spark.graph.prepared import prepare_graph

    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    t0 = time.perf_counter()
    kg, kg_m = bench_mod.build_graph(
        spark, None if args.synthetic else sf_dir, args.synthetic
    )
    n = kg.graph.vertices.count()
    m = kg.graph.edges.count()
    pg = prepare_graph(kg.graph)
    pg.pr_st.df.count()
    sym_m = truncate_plan(
        canonicalize_edges(kg_m.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    )
    m_sym = pg.sym_st.df.count()
    sym_m.count()
    g_sym_m = Graph(vertices=kg_m.graph.vertices, edges=sym_m)
    build_sec = time.perf_counter() - t0

    # warmup (same as bench.py)
    pg.pagerank(tol=0.0, max_iter=1, persist_result=False).count()

    out: dict = {
        "metric": "isolate",
        "cpus": cpus,
        "n_vertices": n,
        "n_edges": m,
        "n_edges_sym": m_sym,
        "build_sec": round(build_sec, 3),
        "queries": {},
    }

    def probe(name, fn, meta_fn=None):
        samples, jobs, metas, profs = [], [], [], []
        for _ in range(max(1, args.passes)):
            sc.setJobDescription(f"isolate:{name}")
            j0 = _job_count(sc)
            jb = {j["jobId"] for j in _rest_jobs(spark)} if args.profile else set()
            t0 = time.perf_counter()
            r = fn()
            samples.append(time.perf_counter() - t0)
            jobs.append(_job_count(sc) - j0)
            if args.profile:
                profs.append(_profile_region(spark, jb, name))
            if meta_fn:
                metas.append(meta_fn(r))
            sc.setJobDescription(None)
        out["queries"][name] = {
            "sec": round(min(samples), 3),
            "samples": [round(s, 3) for s in samples],
            "jobs": jobs[samples.index(min(samples))],
        }
        if metas:
            out["queries"][name]["meta"] = metas[samples.index(min(samples))]
        if profs:
            out["queries"][name]["profile"] = profs[samples.index(min(samples))]

    if not args.only or "pagerank" in args.only:
        probe(
            "pagerank",
            lambda: pg.pagerank(tol=0.0, max_iter=10, fused_iters=5, persist_result=False).count(),
        )
    if not args.only or "cc" in args.only:

        def run_cc():
            runner = SuperstepRunner(spark, "iso_cc")
            pg.connected_components(runner=runner, persist_result=False).count()
            return max((r["iteration"] for r in runner.metrics), default=1)

        probe("cc", run_cc, meta_fn=lambda iters: {"cc_iterations": iters})
    if not args.only or "lp" in args.only:
        probe(
            "lp",
            lambda: pg.label_propagation(max_iter=5, fused_iters=5, persist_result=False).count(),
        )
    if not args.only or "tc" in args.only:

        def run_tc():
            _pv, total = triangle_count(g_sym_m, pre_symmetrized=True)
            return total

        probe("tc", run_tc, meta_fn=lambda total: {"tc_corner_total": int(total)})

    out["total"] = round(
        sum(v["sec"] for v in out["queries"].values()), 3
    )
    pg.close()
    print(json.dumps(out))
    spark.stop()


def cmd_sweep(args) -> None:
    """Time every declared query (queries() registry) at one SF dir.

    One pass each (ordering follows the registry), counting rows to
    force full computation — the same action the driver's gate runs.
    Used to rank the non-headline operators by cost for the round-7
    checklist; NOT a replacement for the frozen bench.py contract."""
    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    sc = spark.sparkContext

    import __spark_entry__ as entry_mod

    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = entry_mod.queries()
    names = args.only or list(qs)
    out = {"metric": "sweep", "cpus": cpus, "sf": sf_dir, "queries": {}}
    for name in names:
        fn = qs[name]
        sc.setJobDescription(f"sweep:{name}")
        t0 = time.perf_counter()
        try:
            rows = fn(spark, sf_dir).count()
            out["queries"][name] = {"sec": round(time.perf_counter() - t0, 3), "rows": rows}
        except Exception as e:  # keep sweeping; record the failure
            out["queries"][name] = {
                "sec": round(time.perf_counter() - t0, 3),
                "error": f"{type(e).__name__}: {e}"[:200],
            }
        sc.setJobDescription(None)
        print(json.dumps({name: out["queries"][name]}), flush=True)
    out["total"] = round(sum(v["sec"] for v in out["queries"].values()), 3)
    print(json.dumps(out))
    spark.stop()


def cmd_plans(args) -> None:
    """Dump .explain('formatted') for one representative superstep of
    each headline query (the judge-readable plan artifact; the loops
    execute eagerly, so the artifact is the per-round dataflow)."""
    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    from pyspark.sql import functions as F

    import bench as bench_mod
    from essentials_spark.engine.static_table import hint_state_join
    from essentials_spark.engine.superstep import truncate_plan
    from essentials_spark.graph.derive import Graph, canonicalize_edges
    from essentials_spark.graph.prepared import prepare_graph

    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    kg, kg_m = bench_mod.build_graph(spark, sf_dir, None)
    n = kg.graph.vertices.count()
    pg = prepare_graph(kg.graph)
    m = pg.pr_st.rows  # = the edge count, carried from the table write
    os.makedirs(args.out, exist_ok=True)

    from essentials_spark.engine.superstep import SuperstepRunner

    def dump(name, df):
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
        print(f"wrote {path}")

    # dump the loop plans under the SAME loop scope the superstep loops
    # run in (scoped AQE suppression + size-derived shuffle partitions
    # below the row bound; a no-op above it) so the artifact matches
    # what actually executes; the scope restores the conf on any exit
    with SuperstepRunner(spark, "plans").loop(work_rows=m):
        # pagerank: one spread superstep over the prepared weighted table;
        # the dangling sum enters as a literal collected with the previous
        # superstep's error check (here 0.0: no in-plan aggregate)
        edges_w = pg.pr_st.df
        cur = kg.graph.vertices.select(
            "vid", F.lit(False).alias("dangling"), F.lit(1.0 / n).alias("rank")
        )
        msgs = (
            edges_w.join(hint_state_join(cur.select(F.col("vid").alias("src"), "rank"), n), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("coef")).alias("contrib"))
        )
        step = cur.select("vid", "dangling", F.col("rank").alias("plast")).join(
            msgs.withColumnRenamed("dst", "vid"), "vid", "left"
        ).select(
            "vid", "dangling",
            (F.lit((0.15 + 0.0) / float(n)) + F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
            "plast",
        )
        dump("pagerank_superstep", step)

        # cc: one hash-min round (general shape) over the shared sym table
        edges = pg.sym_st.df
        labels = kg.graph.vertices.select("vid", F.col("vid").alias("label"))
        msgs = (
            edges.join(hint_state_join(labels.select(F.col("vid").alias("src"), "label"), n), "src")
            .groupBy("dst").agg(F.min("label").alias("nbr_min")).withColumnRenamed("dst", "vid")
        )
        cand = labels.join(msgs, "vid", "left").select(
            "vid", F.least(F.col("label"), F.col("nbr_min")).alias("cand"), F.col("label").alias("old")
        )
        hook = (
            cand.groupBy(F.col("old").alias("root")).agg(F.min("cand").alias("hmin"))
            .select("root", F.least(F.col("root"), F.col("hmin")).alias("hmin"))
        )
        lookup = labels.select(F.col("vid").alias("cand"), F.col("label").alias("jump"))
        round1 = (
            cand.join(hook.withColumnRenamed("root", "old"), "old", "left")
            .select("vid", "old", F.least(F.col("cand"), F.col("hmin")).alias("cand"))
            .join(hook.withColumnRenamed("root", "cand").withColumnRenamed("hmin", "hmin2"), "cand", "left")
            .select("vid", "old", F.least(F.col("cand"), F.col("hmin2")).alias("cand"))
            .join(lookup, "cand", "left")
            .select("vid", F.least(F.col("cand"), F.col("jump")).alias("label"), "old")
        )
        dump("cc_round", round1)

        # lp: one full-shape mode round
        joined = edges.join(hint_state_join(labels.select(F.col("vid").alias("src"), "label"), n), "src")
        counts = joined.groupBy("dst", "label").agg(F.count("*").alias("cnt"))
        best = (
            counts.groupBy("dst")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top"))
            .select(F.col("dst").alias("vid"), (-F.col("top.neg")).alias("new_label"))
        )
        lp_round = labels.join(best, "vid", "left").select(
            "vid", F.coalesce(F.col("new_label"), F.col("label")).alias("label"), F.col("label").alias("old")
        )
        dump("lp_round", lp_round)

    # tc runs OUTSIDE the loop scope (one-shot join pipeline — AQE's
    # runtime broadcast conversion is a measured ~2x win there)

    # tc: the full (lazy) corner-count plan on the membership graph
    sym_m = truncate_plan(
        canonicalize_edges(kg_m.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    )
    sym = sym_m.select("src", "dst")
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
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("vdeg").alias("bdeg"))
    e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"), F.col("vdeg").alias("cdeg"))
    wedges = e1.join(e2, "a").filter(F.struct("bdeg", "b") < F.struct("cdeg", "c"))
    closing = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    triangles = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    corners = (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("vid"))
        .groupBy("vid").agg(F.count("*").alias("tc"))
    )
    dump("tc_corners", corners)

    pg.close()
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    iso = sub.add_parser("isolate")
    iso.add_argument("--passes", type=int, default=2)
    iso.add_argument("--cpus", type=int, default=None)
    iso.add_argument("--sf", default=None)
    iso.add_argument("--synthetic", type=int, default=None)
    iso.add_argument("--only", nargs="*", default=None)
    iso.add_argument(
        "--profile", action="store_true",
        help="aggregate REST job rows per probe (set "
        "SPARK_GRAFT_EXTRA_CONF='{\"spark.ui.enabled\":\"true\"}')",
    )
    pl = sub.add_parser("plans")
    pl.add_argument("--out", default="plans/r07")
    pl.add_argument("--suffix", default="before")
    pl.add_argument("--cpus", type=int, default=None)
    pl.add_argument("--sf", default=None)
    sw = sub.add_parser("sweep")
    sw.add_argument("--cpus", type=int, default=None)
    sw.add_argument("--sf", default=None)
    sw.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()
    if args.cmd == "isolate":
        cmd_isolate(args)
    elif args.cmd == "sweep":
        cmd_sweep(args)
    else:
        cmd_plans(args)


if __name__ == "__main__":
    main()
