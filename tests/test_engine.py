"""Superstep runner: checkpoint/resume/metrics; ops primitives; skew."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from essentials_spark.algos import pagerank
from essentials_spark.engine.skew import salted_join
from essentials_spark.engine.superstep import SuperstepRunner
from essentials_spark.ops import advance, batch_execute, filter_frontier, neighbor_reduce, uniquify
from tests.conftest import graph_from_edges

# the loop gate at its default (every toy loop below it) or forced to 0
# (every loop above it)
_GATES = {"default_gate": None, "above_gate": "0"}


def _set_gate(monkeypatch, gate):
    if gate is None:
        monkeypatch.delenv("SPARK_GRAFT_SUPERSTEP_AQE_MAX_ROWS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SUPERSTEP_AQE_MAX_ROWS", gate)


def test_resume_after_convergence_is_identical(spark, tmp_path):
    g = graph_from_edges(spark, [(0, 1), (1, 2), (2, 0), (0, 3)], directed=True, n_vertices=4)
    ck = str(tmp_path / "ck")
    r1 = SuperstepRunner(spark, "pr", checkpoint_dir=ck, checkpoint_every=2)
    a = np.array([r["rank"] for r in pagerank(g, runner=r1).orderBy("vid").collect()])
    r2 = SuperstepRunner(spark, "pr", checkpoint_dir=ck, checkpoint_every=2)
    it, _df, meta = r2.latest()
    assert meta.get("converged") is True
    b = np.array([r["rank"] for r in pagerank(g, runner=r2).orderBy("vid").collect()])
    assert np.array_equal(a, b)


def test_resume_mid_run_reproduces(spark, tmp_path):
    import glob
    import shutil

    g = graph_from_edges(spark, [(i, (i * 3 + 1) % 30) for i in range(30)], n_vertices=30)
    ck = str(tmp_path / "ck2")
    r1 = SuperstepRunner(spark, "pr", checkpoint_dir=ck, checkpoint_every=3)
    a = np.array([r["rank"] for r in pagerank(g, runner=r1).orderBy("vid").collect()])
    # simulate a kill: drop everything after the first durable checkpoint
    iters = sorted(glob.glob(ck + "/pr/iter=*"))
    for d in iters[1:]:
        shutil.rmtree(d)
    r2 = SuperstepRunner(spark, "pr", checkpoint_dir=ck, checkpoint_every=3)
    b = np.array([r["rank"] for r in pagerank(g, runner=r2).orderBy("vid").collect()])
    assert np.allclose(a, b, atol=1e-12)


@pytest.mark.parametrize("gate", list(_GATES.values()), ids=list(_GATES))
def test_cc_resume_mid_run_exact(spark, tmp_path, monkeypatch, gate):
    """Kill CC after its first durable checkpoint: the resumed run
    restores labels and a full-set frontier (a safe superset — extra
    hash-min messages are no-ops) and must converge to identical
    labels, in the general round shape below the loop gate and the
    hybrid general/broadcast shapes above it."""
    import glob
    import shutil

    from essentials_spark.algos import connected_components

    _set_gate(monkeypatch, gate)
    pairs = [(i, i + 1) for i in range(25)] + [(40 + i, 40 + (i * 7 + 1) % 20) for i in range(20)]
    g = graph_from_edges(spark, pairs, n_vertices=60)
    ck = str(tmp_path / "ckcc")
    r1 = SuperstepRunner(spark, "cc", checkpoint_dir=ck, checkpoint_every=2)
    a = {r["vid"]: r["label"] for r in connected_components(g, runner=r1).collect()}
    iters = sorted(glob.glob(ck + "/cc/iter=*"))
    assert len(iters) >= 2, "need a mid-run checkpoint to delete after"
    for d in iters[1:]:
        shutil.rmtree(d)
    r2 = SuperstepRunner(spark, "cc", checkpoint_dir=ck, checkpoint_every=2)
    b = {r["vid"]: r["label"] for r in connected_components(g, runner=r2).collect()}
    assert a == b


def test_cc_round_shape_follows_loop_gate(spark, tmp_path, monkeypatch):
    """Below the loop gate every CC superstep runs the general shuffle
    shape: at most 2 Spark jobs (the frontier broadcast and the change
    count that computes the lazy checkpoint), logged as shape
    "general". With the gate at 0 the broadcast shape runs and is
    logged as "small". Durable checkpoints land on every
    checkpoint_every-th superstep, with one metrics row per superstep."""
    import os

    from essentials_spark.algos import connected_components
    from tests.oracles import cc_oracle

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = "cc_round_shape"

    class JobCounting(SuperstepRunner):
        # the group's job count at each superstep's log row (the
        # listener bus drained first, so every finished job is listed)
        def log(self, iteration, **kv):
            bus.waitUntilEmpty()
            super().log(iteration, jobs=len(sc.statusTracker().getJobIdsForGroup(group)), **kv)

    pairs = [(i, i + 1) for i in range(24)] + [(25 + i, 25 + (i * 7 + 1) % 15) for i in range(15)]
    g = graph_from_edges(spark, pairs, n_vertices=40)
    exp = {v: int(lab) for v, lab in enumerate(cc_oracle(40, pairs))}

    def run(runner):
        return {r["vid"]: r["label"] for r in connected_components(g, runner=runner).collect()}

    _set_gate(monkeypatch, None)
    sc.setJobGroup(group, "cc below the loop gate")
    try:
        runner = JobCounting(spark, "cc")
        assert run(runner) == exp
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    rows = runner.metrics
    assert len(rows) >= 3 and {r["shape"] for r in rows} == {"general"}
    # superstep 1 also carries the setup jobs (static edges, vertex count)
    per_step = [b["jobs"] - a["jobs"] for a, b in zip(rows, rows[1:])]
    assert max(per_step) <= 2, per_step

    ck = str(tmp_path / "ck")
    runner = SuperstepRunner(spark, "cc", checkpoint_dir=ck, checkpoint_every=2)
    assert run(runner) == exp
    steps = [r["iteration"] for r in runner.metrics]
    assert steps == list(range(1, len(steps) + 1))
    for it in range(2, steps[-1] + 1, 2):
        assert os.path.exists(os.path.join(ck, "cc", f"iter={it:06d}", "_SUCCESS"))

    _set_gate(monkeypatch, "0")
    runner = SuperstepRunner(spark, "cc_above")
    assert run(runner) == exp
    assert {r["shape"] for r in runner.metrics} == {"small"}


def test_metrics_written(spark, tmp_path):
    g = graph_from_edges(spark, [(0, 1), (1, 2)], n_vertices=3)
    ck = str(tmp_path / "ck3")
    runner = SuperstepRunner(spark, "pr", checkpoint_dir=ck, checkpoint_every=1, log_partition_lineage=True)
    pagerank(g, runner=runner, max_iter=3, tol=0.0)
    m = spark.read.parquet(ck + "/pr/metrics")
    rows = m.collect()
    assert {r["iteration"] for r in rows} >= {1, 2, 3}
    assert any(r["linf_err"] is not None for r in rows)


def test_salted_join_equals_plain(spark):
    edges = spark.range(2000).select(
        (F.col("id") % 7).alias("src"), (F.col("id") % 97).alias("dst"), F.lit(1.0).alias("weight")
    )
    fr = spark.range(5).select(F.col("id").alias("src"))
    plain = edges.join(fr, "src").groupBy("src").count().collect()
    salted = salted_join(fr, edges, "src", n_salts=4).groupBy("src").count().collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_rejects_outer_modes(spark):
    # right/full would emit each unmatched small-side row n_salts times
    import pytest as _pytest

    edges = spark.range(10).select((F.col("id") % 3).alias("src"), F.col("id").alias("dst"))
    fr = spark.range(5).select(F.col("id").alias("src"))
    for how in ("right", "full", "outer", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(fr, edges, "src", how=how)


def test_runner_resume_refuses_fingerprint_mismatch(spark, tmp_path):
    runner = SuperstepRunner(spark, "fp", checkpoint_dir=str(tmp_path), fingerprint="graph-A")
    df = spark.range(5).select(F.col("id").alias("vid"))
    runner.materialize(df, 5, force=True)
    assert runner.latest() is not None
    # same checkpoint dir + name, different input: must refuse stale state
    other = SuperstepRunner(spark, "fp", checkpoint_dir=str(tmp_path), fingerprint="graph-B")
    assert other.latest() is None
    same = SuperstepRunner(spark, "fp", checkpoint_dir=str(tmp_path), fingerprint="graph-A")
    assert same.latest() is not None


def test_ops_primitives(spark):
    g = graph_from_edges(spark, [(0, 1), (0, 2), (1, 2)], n_vertices=3)
    frontier = spark.createDataFrame([(0,)], "vid long")
    out = advance(g.edges, frontier)
    assert {r["vid"] for r in out.collect()} == {1, 2}
    # whole-graph advance (io_type graph) == full edge scan
    assert advance(g.edges, None, output="edges").count() == g.edges.count()
    # filter + uniquify
    f = filter_frontier(out, F.col("vid") > 1)
    assert {r["vid"] for r in f.collect()} == {2}
    dup = out.unionByName(out)
    assert uniquify(dup, ["vid"]).count() == 2
    assert uniquify(dup, ["vid"], best_effort=True).count() >= 2  # per-partition dedup
    # neighbor_reduce: pull sum of neighbor values
    vals = spark.createDataFrame([(0, 1.0), (1, 10.0), (2, 100.0)], "vid long, value double")
    nr = {r["vid"]: r["value"] for r in neighbor_reduce(g.edges, vals, direction="pull").collect()}
    assert nr[0] == 110.0 and nr[1] == 101.0 and nr[2] == 11.0
    # batch: concurrent actions
    results, elapsed = batch_execute([lambda: g.edges.count(), lambda: vals.count()])
    assert results == [6, 3] and elapsed > 0


def test_reap_stale_tables_age_gated(spark):
    """Crashed-run orphans get reaped; anything younger than the age
    gate (i.e. any live concurrent run) is never touched."""
    import os
    import time
    from urllib.parse import urlparse

    from essentials_spark.engine.static_table import persist_bucketed, reap_stale_tables

    st = persist_bucketed(
        spark.range(10).selectExpr("id as src", "id as dst"), "src", name_hint="reap_live"
    )
    # simulate a crashed run's orphan: a warehouse dir with no catalog entry
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    orphan = os.path.join(wh, "es_reap_orphan_xxxx")
    os.makedirs(orphan, exist_ok=True)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    try:
        dropped = reap_stale_tables(spark, max_age_hours=1.0)
        assert "es_reap_orphan_xxxx" in dropped
        assert not os.path.exists(orphan)
        assert spark.catalog.tableExists(st.table)  # young + live: untouched
    finally:
        st.drop()


def test_ktruss_resume_mid_cascade_exact(spark, tmp_path):
    """Kill the delta peel after its first durable support checkpoint:
    the resumed run restores (edges, supports) mid-cascade and must
    finish with the identical k-truss edge set."""
    import glob
    import shutil

    from essentials_spark.algos import ktruss

    # window-3 chain (k=5 cascades d3 -> d2 -> d1 over 3+ rounds,
    # emptying the chain) + a K6 clique that survives (support 4)
    chain = [(i, i + d) for i in range(30) for d in (1, 2, 3) if i + d < 30]
    k6 = [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]
    g = graph_from_edges(spark, chain + k6, n_vertices=106)
    ck = str(tmp_path / "ckkt")
    r1 = SuperstepRunner(spark, "ktruss", checkpoint_dir=ck, checkpoint_every=1)
    a = {(r["src"], r["dst"]) for r in ktruss(g, 5, runner=r1).collect()}
    assert a == set(k6)
    iters = sorted(glob.glob(ck + "/ktruss/iter=*"))
    assert len(iters) >= 2, "need a mid-cascade checkpoint to delete after"
    for d in iters[1:]:
        shutil.rmtree(d)
    r2 = SuperstepRunner(spark, "ktruss", checkpoint_dir=ck, checkpoint_every=1)
    b = {(r["src"], r["dst"]) for r in ktruss(g, 5, runner=r2).collect()}
    assert a == b


def test_truss_decomposition_resume_exact(spark, tmp_path):
    """Kill the ascending decomposition mid-peel: the single-DataFrame
    state (settled trussness union active supports, k in meta) must
    restore and finish with identical per-edge trussness."""
    import glob
    import shutil

    from essentials_spark.algos import truss_decomposition

    chain = [(i, i + d) for i in range(30) for d in (1, 2, 3) if i + d < 30]
    k6 = [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]
    g = graph_from_edges(spark, chain + k6, n_vertices=106)
    want = {
        **{tuple(e): 4 for e in chain},
        **{tuple(e): 6 for e in k6},
    }
    ck = str(tmp_path / "cktd")
    r1 = SuperstepRunner(spark, "truss", checkpoint_dir=ck, checkpoint_every=1)
    a = {(r["src"], r["dst"]): r["trussness"]
         for r in truss_decomposition(g, runner=r1).collect()}
    assert a == want
    iters = sorted(glob.glob(ck + "/truss/iter=*"))
    assert len(iters) >= 2, "need a mid-run checkpoint to delete after"
    for d in iters[1:]:
        shutil.rmtree(d)
    r2 = SuperstepRunner(spark, "truss", checkpoint_dir=ck, checkpoint_every=1)
    b = {(r["src"], r["dst"]): r["trussness"]
         for r in truss_decomposition(g, runner=r2).collect()}
    assert a == b


def test_cc_contract_resume_phases_exact(spark, tmp_path):
    """Contraction CC resumability (phase granularity): (a) a
    completed run restores its 'done' checkpoint verbatim; (b) a run
    killed after phase 1 (done checkpoint deleted) resumes from the
    contract checkpoint — phase 1 never re-runs — and reproduces
    identical labels."""
    import glob
    import shutil

    from essentials_spark.algos import connected_components, connected_components_contract

    pairs = [(i, i + 1) for i in range(25)] + [(40 + i, 40 + (i * 7 + 1) % 20) for i in range(20)]
    g = graph_from_edges(spark, pairs, n_vertices=60)
    expect = {r["vid"]: r["label"] for r in connected_components(g).collect()}

    ck = str(tmp_path / "ckcct")
    r1 = SuperstepRunner(spark, "cct", checkpoint_dir=ck)
    a = {r["vid"]: r["label"] for r in connected_components_contract(g, n_buckets=4, runner=r1).collect()}
    assert a == expect
    iters = sorted(glob.glob(ck + "/cct/iter=*"))
    assert [d.rsplit("=", 1)[1] for d in iters] == ["000001", "000002"]

    # (a) completed-run restore: phase 'done' returned verbatim
    r2 = SuperstepRunner(spark, "cct", checkpoint_dir=ck)
    b = {r["vid"]: r["label"] for r in connected_components_contract(g, n_buckets=4, runner=r2).collect()}
    assert b == expect
    assert any(m.get("resumed") == "done" for m in r2.metrics)

    # (b) death after phase 1: remove the done checkpoint, resume from
    # the contract one
    shutil.rmtree(iters[-1])
    r3 = SuperstepRunner(spark, "cct", checkpoint_dir=ck)
    c = {r["vid"]: r["label"] for r in connected_components_contract(g, n_buckets=4, runner=r3).collect()}
    assert c == expect
    assert any(m.get("resumed") == "contract" for m in r3.metrics)
    assert not any(m.get("phase") == "contract" and "mapping_rows" in m for m in r3.metrics)


def test_random_walks_resume_per_step_exact(spark, tmp_path):
    """Walk resumability: kill after step k (delete newer step dirs) —
    the resumed run restores the walk prefix from the durable
    frontiers and continues to identical trajectories."""
    import glob
    import shutil

    from essentials_spark.sampling import random_walks

    pairs = [(0, 1), (1, 2), (2, 3), (1, 3), (3, 4), (4, 0)]
    rows = []
    for u, v in pairs:
        rows.append((u, v))
        rows.append((v, u))
    edges = spark.createDataFrame(rows, "src long, dst long").dropDuplicates(["src", "dst"])
    start = spark.createDataFrame([(f"r{i}#0", i) for i in range(5)], "wid string, vid long")

    ck = str(tmp_path / "ckwalks")
    r1 = SuperstepRunner(spark, "walks", checkpoint_dir=ck)
    a = sorted(map(tuple, random_walks(edges, start, length=5, runner=r1).collect()))
    iters = sorted(glob.glob(ck + "/walks/iter=*"))
    assert len(iters) == 6  # steps 0..5 all durable
    for d in iters[3:]:
        shutil.rmtree(d)  # kill after step 2
    r2 = SuperstepRunner(spark, "walks", checkpoint_dir=ck)
    b = sorted(map(tuple, random_walks(edges, start, length=5, runner=r2).collect()))
    assert a == b
    assert any(m.get("resumed") for m in r2.metrics)

    # completed-run restore: every step read back, no stepping
    r3 = SuperstepRunner(spark, "walks", checkpoint_dir=ck)
    c = sorted(map(tuple, random_walks(edges, start, length=5, runner=r3).collect()))
    assert a == c


def test_node2vec_resume_per_step_exact(spark, tmp_path):
    import glob
    import shutil

    from essentials_spark.sampling import node2vec_walks

    pairs = [(0, 1), (1, 2), (2, 3), (1, 3), (3, 4), (4, 0)]
    rows = []
    for u, v in pairs:
        rows.append((u, v))
        rows.append((v, u))
    edges = spark.createDataFrame(rows, "src long, dst long").dropDuplicates(["src", "dst"])
    start = spark.createDataFrame([(f"q{i}#0", i) for i in range(5)], "wid string, vid long")

    ck = str(tmp_path / "ckn2v")
    r1 = SuperstepRunner(spark, "n2v", checkpoint_dir=ck)
    a = sorted(map(tuple, node2vec_walks(edges, start, length=4, runner=r1).collect()))
    iters = sorted(glob.glob(ck + "/n2v/iter=*"))
    assert len(iters) == 5
    for d in iters[2:]:
        shutil.rmtree(d)  # kill after step 1 (prev matters from here)
    r2 = SuperstepRunner(spark, "n2v", checkpoint_dir=ck)
    b = sorted(map(tuple, node2vec_walks(edges, start, length=4, runner=r2).collect()))
    assert a == b
    assert any(m.get("resumed") for m in r2.metrics)


def test_cc_contract_resume_stitch_subrunner_exact(spark, tmp_path):
    """single_solve_max=0 forces the stitch phase through the inner
    dataframe connected_components — which must run on a DEDICATED
    sub-runner: inheriting the contraction's runner made the inner CC
    restore the (a,b,kind) contract table as a label state
    (AnalysisException) and shadow the contraction's phase markers.
    Covers full run, phase-1 resume, and completed-run restore in
    exactly the at-scale configuration the feature targets."""
    import glob
    import shutil

    from essentials_spark.algos import connected_components, connected_components_contract

    pairs = [(i, i + 1) for i in range(25)] + [(40 + i, 40 + (i * 7 + 1) % 20) for i in range(20)]
    g = graph_from_edges(spark, pairs, n_vertices=60)
    expect = {r["vid"]: r["label"] for r in connected_components(g).collect()}

    ck = str(tmp_path / "ckstitch")
    r1 = SuperstepRunner(spark, "ccts", checkpoint_dir=ck)
    a = {
        r["vid"]: r["label"]
        for r in connected_components_contract(g, n_buckets=4, runner=r1, single_solve_max=0).collect()
    }
    assert a == expect
    iters = sorted(glob.glob(ck + "/ccts/iter=*"))
    # contraction phase markers intact: exactly iter 1 (contract) and 2
    # (done) — the inner CC's higher converged iterations must land
    # under the sub-runner's namespace, not here
    assert [d.rsplit("=", 1)[1] for d in iters] == ["000001", "000002"]

    # completed-run restore
    r2 = SuperstepRunner(spark, "ccts", checkpoint_dir=ck)
    b = {
        r["vid"]: r["label"]
        for r in connected_components_contract(g, n_buckets=4, runner=r2, single_solve_max=0).collect()
    }
    assert b == expect
    assert any(m.get("resumed") == "done" for m in r2.metrics)

    # death after phase 1: remove 'done', resume through the stitch
    # (the first checkpointed pass through this branch — the inner CC
    # must not pick up the contract table via a shared fingerprint)
    shutil.rmtree(iters[-1])
    r3 = SuperstepRunner(spark, "ccts", checkpoint_dir=ck)
    c = {
        r["vid"]: r["label"]
        for r in connected_components_contract(g, n_buckets=4, runner=r3, single_solve_max=0).collect()
    }
    assert c == expect
    assert any(m.get("resumed") == "contract" for m in r3.metrics)


def test_walk_resume_refuses_cross_graph_prefix(spark, tmp_path):
    """A reused checkpoint_dir can hold a stale high step from graph A
    under overwritten low steps from graph B. The resume prefix loop
    must validate EVERY step's fingerprint — latest()-only validation
    silently splices graph B's frontiers into graph A's corpus."""
    from essentials_spark.sampling import random_walks

    def sym(pairs):
        rows = []
        for u, v in pairs:
            rows.append((u, v))
            rows.append((v, u))
        return spark.createDataFrame(rows, "src long, dst long").dropDuplicates(["src", "dst"])

    edges_a = sym([(0, 1), (1, 2), (2, 3), (1, 3), (3, 4), (4, 0)])
    edges_b = sym([(0, 4), (4, 2), (2, 1), (1, 0), (3, 0)])
    start = spark.createDataFrame([(f"x{i}#0", i) for i in range(5)], "wid string, vid long")

    ck = str(tmp_path / "ckcross")
    r1 = SuperstepRunner(spark, "wx", checkpoint_dir=ck)
    a = sorted(map(tuple, random_walks(edges_a, start, length=4, runner=r1).collect()))

    # graph B, same dir/name, shorter: refuses A's checkpoints (latest
    # fingerprint mismatch), runs fresh, OVERWRITES steps 0..2; A's
    # steps 3..4 survive with A's fingerprint
    r2 = SuperstepRunner(spark, "wx", checkpoint_dir=ck)
    random_walks(edges_b, start, length=2, runner=r2).collect()

    # graph A rerun: latest()=step 4 matches A's fingerprint, but the
    # prefix is B's — must fall back to a fresh start and still
    # reproduce A's corpus exactly
    r3 = SuperstepRunner(spark, "wx", checkpoint_dir=ck)
    c = sorted(map(tuple, random_walks(edges_a, start, length=4, runner=r3).collect()))
    assert c == a
    assert not any(m.get("resumed") for m in r3.metrics)


def test_random_walks_sink_streams_per_step_and_resumes(spark, tmp_path):
    """sink_path streams each step's (wid, vid) partition as soon as it
    materializes: a killed run leaves a READABLE partial corpus (the
    step prefix), and the resumed run completes only the missing steps
    — existing _SUCCESS step dirs are never rewritten."""
    import glob
    import os
    import shutil

    from essentials_spark.sampling import random_walks

    pairs = [(0, 1), (1, 2), (2, 3), (1, 3), (3, 4), (4, 0)]
    rows = []
    for u, v in pairs:
        rows.append((u, v))
        rows.append((v, u))
    edges = spark.createDataFrame(rows, "src long, dst long").dropDuplicates(["src", "dst"])
    start = spark.createDataFrame([(f"s{i}#0", i) for i in range(5)], "wid string, vid long")

    ck = str(tmp_path / "ckws")
    sink = str(tmp_path / "corpus")
    r1 = SuperstepRunner(spark, "ws", checkpoint_dir=ck)
    full = sorted(map(tuple, random_walks(edges, start, length=5, runner=r1, sink_path=sink).collect()))
    assert {int(d.rsplit("=", 1)[1]) for d in glob.glob(sink + "/step=*")} == set(range(6))

    # kill after step 2: drop newer checkpoints AND newer sink steps
    for d in sorted(glob.glob(ck + "/ws/iter=*"))[3:]:
        shutil.rmtree(d)
    for d in sorted(glob.glob(sink + "/step=*"))[3:]:
        shutil.rmtree(d)
    # the partial corpus is readable mid-run and is exactly the prefix
    partial = sorted(
        map(tuple, spark.read.option("basePath", sink).parquet(sink + "/step=*")
            .select("wid", "step", "vid").collect())
    )
    assert partial == [t for t in full if t[1] <= 2]

    mtimes = {d: os.path.getmtime(os.path.join(d, "_SUCCESS")) for d in glob.glob(sink + "/step=*")}
    r2 = SuperstepRunner(spark, "ws", checkpoint_dir=ck)
    again = sorted(map(tuple, random_walks(edges, start, length=5, runner=r2, sink_path=sink).collect()))
    assert again == full
    # surviving step dirs were not rewritten
    for d, t in mtimes.items():
        assert os.path.getmtime(os.path.join(d, "_SUCCESS")) == t


# --- the runner-owned loop scope -------------------------------------

_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"


def _loop_conf(spark):
    return spark.conf.get(_AQE), spark.conf.get(_PARTS)


def test_loop_conf_restored_when_body_raises(spark):
    runner = SuperstepRunner(spark, "loop_raise")
    before = _loop_conf(spark)
    with pytest.raises(RuntimeError):
        with runner.loop(work_rows=100):
            assert _loop_conf(spark) == ("false", "1")
            raise RuntimeError("superstep failed")
    assert _loop_conf(spark) == before


def test_loop_nested_scopes_keep_outer_conf(spark):
    """Nested scopes with different sizes: the outermost small scope's
    conf holds until that scope exits (serial single-writer use)."""
    outer, inner = SuperstepRunner(spark, "outer"), SuperstepRunner(spark, "inner")
    before = _loop_conf(spark)
    with outer.loop(work_rows=100):
        assert _loop_conf(spark) == ("false", "1")
        with inner.loop(work_rows=300_000):
            assert _loop_conf(spark) == ("false", "1")
        assert _loop_conf(spark) == ("false", "1")
    assert _loop_conf(spark) == before


def test_loop_unknown_size_leaves_conf_untouched(spark):
    runner = SuperstepRunner(spark, "loop_none")
    before = _loop_conf(spark)
    assert before[0] == "true"
    with runner.loop(work_rows=None):
        assert _loop_conf(spark) == before
    assert _loop_conf(spark) == before


# --- one PageRank superstep regime on both sides of the loop gate ------

# a directed graph with dangling vertices (0 and 4 have no out-edges);
# at tol=1e-6 it converges after 7 supersteps, so a check cadence of 3
# stops it at 9
_PR_EDGES = [(1, 0), (1, 2), (2, 1), (2, 3), (3, 0), (3, 1), (3, 2), (3, 4)]


def _pagerank_under_gate(spark, monkeypatch, gate, tmp_path, **kw):
    """Run PageRank with the loop gate at its default or forced to 0
    (every loop above it); returns (ranks by vid, runner)."""
    _set_gate(monkeypatch, gate)
    g = graph_from_edges(spark, _PR_EDGES, directed=True, n_vertices=5)
    runner = SuperstepRunner(spark, "pr", checkpoint_dir=str(tmp_path), checkpoint_every=3)
    got = pagerank(g, runner=runner, **kw)
    return np.array([r["rank"] for r in got.orderBy("vid").collect()]), runner


@pytest.mark.parametrize("gate", list(_GATES.values()), ids=list(_GATES))
def test_pagerank_checkpoints_and_logs_every_superstep(spark, tmp_path, monkeypatch, gate):
    """Every superstep is materialized and logged on both sides of the
    gate: the durable checkpoint contract and the per-iteration metrics
    never depend on graph size (fused_iters is only the check cadence)."""
    import os

    from tests.oracles import pagerank_oracle

    ranks, runner = _pagerank_under_gate(
        spark, monkeypatch, gate, tmp_path, tol=0.0, max_iter=6, fused_iters=5
    )
    for it in (3, 6):
        assert os.path.exists(os.path.join(str(tmp_path), "pr", f"iter={it:06d}", "_SUCCESS"))
    assert len([r for r in runner.metrics if "linf_err" in r]) == 6
    exp = pagerank_oracle(5, [(s, d, 1.0) for s, d in _PR_EDGES], tol=0.0, max_iter=6)
    assert np.allclose(ranks, exp, atol=1e-9)


def test_pagerank_identical_across_gates(spark, tmp_path, monkeypatch):
    """Both sides of the gate run the same supersteps and check
    convergence at the same cadence: equal ranks and final iteration."""
    for name, kw, final_iter in (
        ("fixed", dict(tol=0.0, max_iter=6, fused_iters=5), 6),
        ("converge", dict(tol=1e-6, fused_iters=3), 9),
    ):
        (a, ra), (b, rb) = (
            _pagerank_under_gate(spark, monkeypatch, gate, tmp_path / f"{name}_{label}", **kw)
            for label, gate in _GATES.items()
        )
        assert np.allclose(a, b, atol=1e-12)
        assert max(r["iteration"] for r in ra.metrics) == final_iter
        assert max(r["iteration"] for r in rb.metrics) == final_iter


def test_truncate_plan_resets_carried_stats(spark):
    """Plain localCheckpoint carries the checkpointed plan's size
    estimate (a few KB for range(1000)); truncate_plan must reset it to
    the default, which is what keeps CC-style supersteps from squaring
    it every iteration (a silent fallback to the plain checkpoint would
    fail this)."""
    from essentials_spark.engine.superstep import truncate_plan

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    assert size(spark.range(1000).localCheckpoint()) < default
    assert size(truncate_plan(spark.range(1000))) == default


def test_static_table_rows_carried_from_write(spark):
    from essentials_spark.engine.static_table import persist_bucketed, prepare_static_edges

    df = spark.range(1234).select((F.col("id") % 37).alias("src"), F.col("id").alias("dst"))
    st = persist_bucketed(df, "src", n_buckets=2, name_hint="rows")
    try:
        assert st.rows == st.df.count() == 1234
    finally:
        st.drop()
    shuffled, rows = prepare_static_edges(df.filter(F.col("id") < 500), None, mode="shuffle")
    assert rows == shuffled.count() == 500


def test_finalize_returns_frames_that_outlive_dropped_tables(spark):
    """A frame built on a runner-owned static table is still readable
    after finalize(out) dropped the table — both a frame naming the
    table in its plan and a lazily checkpointed iterate over it."""
    from essentials_spark.engine.static_table import prepare_static_edges

    df = spark.range(300).select((F.col("id") % 30).alias("src"), (F.col("id") % 7).alias("dst"))
    expect = sorted((r["src"], r["n"]) for r in df.groupBy("src").agg(F.count("*").alias("n")).collect())

    runner = SuperstepRunner(spark, "dangling")
    edges, m = prepare_static_edges(df, runner, keys="src", n_buckets=2, name_hint="dangling")
    assert m == 300
    table = runner._owned_tables[0]
    named = edges.groupBy("src").agg(F.count("*").alias("n")).persist()
    out = runner.finalize(named)
    assert not spark.catalog.tableExists(table)
    assert sorted((r["src"], r["n"]) for r in out.collect()) == expect

    runner = SuperstepRunner(spark, "dangling_lazy")
    edges, _ = prepare_static_edges(df, runner, keys="src", n_buckets=2, name_hint="dangling")
    lazy = runner.materialize(edges.groupBy("src").agg(F.count("*").alias("n")), 1)
    out = runner.finalize(lazy.select("src", "n"))
    assert sorted((r["src"], r["n"]) for r in out.collect()) == expect

    runner = SuperstepRunner(spark, "dangling_none")
    prepare_static_edges(df, runner, keys="src", n_buckets=2, name_hint="dangling")
    untouched = spark.range(3)
    assert runner.finalize(untouched) is untouched


def test_cleanup_failures_are_recorded_and_later_cleanups_run(spark):
    runner = SuperstepRunner(spark, "cleanup")
    ran = []

    def broken():
        raise OSError("drop failed")

    runner.defer(broken)
    runner.defer(lambda: ran.append(1))
    runner.finalize()
    errors = [r for r in runner.metrics if "cleanup_error" in r]
    assert len(errors) == 1 and errors[0]["cleanup"].endswith("broken")
    assert errors[0]["cleanup_error"] == "OSError('drop failed')"
    assert ran == [1]
