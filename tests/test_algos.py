"""Algorithm correctness vs NumPy oracles (reference semantics)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from essentials_spark.algos import connected_components, label_propagation, pagerank, triangle_count
from tests.conftest import graph_from_edges
from tests.oracles import cc_oracle, lp_oracle, pagerank_oracle, tc_oracle


def _collect_by_vid(df, col):
    rows = df.orderBy("vid").collect()
    return np.array([r[col] for r in rows])


def _edge_list(graph):
    return [(r["src"], r["dst"], r["weight"]) for r in graph.edges.collect()]


# ---------------- PageRank ----------------


def test_pagerank_golden_graph(spark, golden_tc_graph):
    g = golden_tc_graph
    got = _collect_by_vid(pagerank(g, alpha=0.85, tol=1e-6), "rank")
    exp = pagerank_oracle(4, _edge_list(g), alpha=0.85, tol=1e-6)
    assert np.allclose(got, exp, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-6


def test_pagerank_dangling(spark):
    # vertex 3 has no out-edges -> exercises dangling redistribution
    # (reference pr.hxx:124-133)
    g = graph_from_edges(spark, [(0, 1), (1, 2), (2, 0), (0, 3)], directed=True, n_vertices=4)
    got = _collect_by_vid(pagerank(g, alpha=0.85, tol=1e-6), "rank")
    exp = pagerank_oracle(4, _edge_list(g), alpha=0.85, tol=1e-6)
    assert np.allclose(got, exp, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-6


def test_pagerank_weighted(spark):
    g = graph_from_edges(
        spark, [(0, 1), (0, 2), (1, 2), (2, 0)], weights=[3.0, 1.0, 2.0, 5.0], directed=True, n_vertices=3
    )
    got = _collect_by_vid(pagerank(g, alpha=0.85, tol=1e-6), "rank")
    exp = pagerank_oracle(3, _edge_list(g), alpha=0.85, tol=1e-6)
    assert np.allclose(got, exp, atol=1e-6)


# ---------------- Connected components ----------------


def test_cc_two_chains_and_isolated(spark):
    # chain 0-1-2, chain 3-4, isolated 5
    g = graph_from_edges(spark, [(0, 1), (1, 2), (3, 4)], n_vertices=6)
    got = _collect_by_vid(connected_components(g), "label")
    exp = cc_oracle(6, [(0, 1), (1, 2), (3, 4)])
    assert np.array_equal(got, exp)


def test_cc_long_chain_pointer_jumping(spark):
    # chain of 40 vertices: plain hash-min needs 39 rounds; pointer
    # jumping (mst.hxx:207-220 analogue) must finish in O(log n)
    n = 40
    pairs = [(i, i + 1) for i in range(n - 1)]
    g = graph_from_edges(spark, pairs)
    got = _collect_by_vid(connected_components(g, max_iter=14), "label")
    assert np.array_equal(got, np.zeros(n, dtype=np.int64))


def test_cc_csr_kernel_equals_dataframe(spark):
    # MIN-semiring CSR kernel vs the dataframe hash-min path, forcing
    # the general round shape (small_round_max=0) so the kernel runs
    rng = np.random.RandomState(9)
    n = 120
    pairs = list({(int(a), int(b)) for a, b in rng.randint(0, n, size=(150, 2)) if a != b})
    pairs += [(i, i + 1) for i in range(60, 90)]  # a chain component
    g = graph_from_edges(spark, pairs, n_vertices=n)
    base = _collect_by_vid(connected_components(g, small_round_max=0), "label")
    csr = _collect_by_vid(
        connected_components(g, kernel="csr", n_buckets=4, small_round_max=0), "label"
    )
    assert np.array_equal(base, csr)
    assert np.array_equal(base, cc_oracle(n, pairs))


def test_cc_contract_fuzz_vs_union_find(spark):
    # two-phase contraction CC (per-bucket vectorized Shiloach-Vishkin
    # + dataframe CC on the star mapping) vs union-find, across bucket
    # counts (1 bucket = single local solve; many buckets = heavy
    # cross-bucket stitching) and graph shapes including chains that
    # straddle bucket ranges
    from essentials_spark.algos import connected_components_contract

    rng = np.random.RandomState(4321)
    for trial in range(4):
        n = int(rng.randint(24, 64))
        kind = trial % 2
        if kind == 0:  # chain spanning all ranges + isolated tail
            pairs = [(i, i + 1) for i in range(n - 4)]
        else:
            m = int(rng.randint(n // 2, 2 * n))
            pairs = list(
                {(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b}
            )
        g = graph_from_edges(spark, pairs, n_vertices=n)
        exp = cc_oracle(n, [(u, v) for u, v in pairs])
        for nb, ssm in ((1, 10**9), (3, 10**9), (8, 10**9), (3, 0)):
            # ssm=0 forces the dataframe phase-2 branch; huge ssm the
            # single-task kernel solve — both must be exact
            got = _collect_by_vid(
                connected_components_contract(g, n_buckets=nb, single_solve_max=ssm),
                "label",
            )
            assert np.array_equal(got, exp), f"trial {trial} nb {nb} ssm {ssm}"


def test_cc_contract_skew_split_exact(spark):
    # skew guard: a bucket over bucket_row_cap is sub-bucketed by an
    # edge-hash salt (applyInPandas can't split one group — at 100 TB
    # an unsplit dense-vid bucket would OOM its executor). Force every
    # bucket to split (cap=4 rows) on a chain graph whose components
    # straddle the sub-buckets, and require exact A/B with the
    # superstep engine plus a metrics row recording the split.
    from essentials_spark.algos import connected_components_contract
    from essentials_spark.engine.superstep import SuperstepRunner

    n = 48
    pairs = [(i, i + 1) for i in range(n - 5)] + [(44, 45), (46, 47)]
    g = graph_from_edges(spark, pairs, n_vertices=n)
    exp = cc_oracle(n, pairs)
    runner = SuperstepRunner(spark, "cc_contract_skew_test")
    got = _collect_by_vid(
        connected_components_contract(
            g, n_buckets=3, runner=runner, bucket_row_cap=4, single_solve_max=10**9
        ),
        "label",
    )
    assert np.array_equal(got, exp)
    contract_rows = [r for r in runner.metrics if r.get("phase") == "contract"]
    assert contract_rows and contract_rows[0]["split_buckets"] >= 1
    assert contract_rows[0]["m_edges"] == len(pairs) * 2  # symmetrized input


def test_incremental_cc_update_fuzz(spark):
    # streaming micro-batch CC maintenance: feed a random graph's
    # edges in k arbitrary batches (later batches introduce unseen
    # vertices); after every batch the labels must equal union-find on
    # the union of all edges so far — exactness is per-batch, not just
    # final. Also pins the no-op batch (all intra-component pairs).
    from pyspark.sql import functions as F

    from essentials_spark.algos import incremental_cc_update

    rng = np.random.RandomState(99)
    for trial in range(3):
        n = int(rng.randint(30, 70))
        m = int(rng.randint(n, 3 * n))
        pairs = list({(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b})
        rng.shuffle(pairs)
        k = 3
        cuts = sorted(rng.choice(range(1, len(pairs)), size=k - 1, replace=False))
        batches = [pairs[i:j] for i, j in zip([0] + list(cuts), list(cuts) + [len(pairs)])]
        labels = spark.createDataFrame(
            [(v, v) for v in range(n)], "vid long, label long"
        )
        seen: list = []
        for batch in batches:
            seen += batch
            bdf = spark.createDataFrame(batch, "src long, dst long")
            labels = incremental_cc_update(labels, bdf)
            got = {r["vid"]: r["label"] for r in labels.collect()}
            exp = cc_oracle(n, seen)
            assert got == {v: int(exp[v]) for v in range(n)}, f"trial {trial}"
        # no-op batch: re-feed already-merged pairs — labels unchanged
        bdf = spark.createDataFrame(batches[0], "src long, dst long")
        labels2 = incremental_cc_update(labels, bdf)
        assert {r["vid"]: r["label"] for r in labels2.collect()} == got
    # fresh-vertex batch: edges among entirely unseen vids
    labels = spark.createDataFrame([(0, 0), (1, 1)], "vid long, label long")
    bdf = spark.createDataFrame([(100, 101), (101, 0)], "src long, dst long")
    out = {r["vid"]: r["label"] for r in incremental_cc_update(labels, bdf).collect()}
    assert out == {0: 0, 1: 1, 100: 0, 101: 0}


def test_cc_small_round_path_fuzz_vs_union_find(spark, monkeypatch):
    # pins the broadcast (small_round) shape specifically: its
    # pointer-jump lookup is restricted to keys from this round's
    # recv.cand ∪ hook.hmin, an invariant previously argued only in the
    # docstring. Force small rounds from round 0 (loop gate at 0, so the
    # loop is above it, and small_round_max ≫ n)
    # on adversarial shuffled-id chains/trees — the worst case for a
    # restricted jump key set, since a stale non-root label must be
    # healed through hook[label] rather than the lookup — and compare
    # against a union-find oracle. Failure here means the hook/jump
    # algebra regressed.
    monkeypatch.setenv("SPARK_GRAFT_SUPERSTEP_AQE_MAX_ROWS", "0")
    rng = np.random.RandomState(1234)
    for trial in range(6):
        n = int(rng.randint(24, 64))
        perm = rng.permutation(n)
        kind = trial % 3
        if kind == 0:  # shuffled-id chain
            pairs = [(int(perm[i]), int(perm[i + 1])) for i in range(n - 1)]
        elif kind == 1:  # shuffled-id random tree (parent < child pre-perm)
            pairs = [
                (int(perm[int(rng.randint(0, i))]), int(perm[i])) for i in range(1, n)
            ]
        else:  # sparse random graph + isolated vertices
            m = int(rng.randint(n // 2, n))
            pairs = list(
                {(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b}
            )
        g = graph_from_edges(spark, pairs, n_vertices=n)
        got = _collect_by_vid(
            connected_components(g, small_round_max=10**9), "label"
        )
        exp = cc_oracle(n, [(u, v) for u, v in pairs])
        assert np.array_equal(got, exp), f"trial {trial} kind {kind} n {n}"


def test_cc_reversed_chain_plus_hub(spark):
    pairs = [(i + 1, i) for i in range(20)] + [(25, 10), (26, 25), (30, 31)]
    g = graph_from_edges(spark, pairs, n_vertices=32)
    got = _collect_by_vid(connected_components(g), "label")
    exp = cc_oracle(32, [(u, v) for u, v in pairs])
    assert np.array_equal(got, exp)


# ---------------- Label propagation ----------------


def test_lp_two_clusters_bridge(spark):
    # two 4-cliques joined by one bridge edge; each cluster converges
    # to its min label
    clique1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    clique2 = [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
    pairs = clique1 + clique2 + [(3, 4)]
    g = graph_from_edges(spark, pairs)
    got = _collect_by_vid(label_propagation(g, max_iter=20), "label")
    exp = lp_oracle(8, pairs, max_iter=20)
    assert np.array_equal(got, exp)


def test_lp_star(spark):
    # star: center 0 with leaves 1..5 — leaves adopt 0; center adopts
    # min leaf then oscillation is cut by the same max_iter both sides
    pairs = [(0, i) for i in range(1, 6)]
    g = graph_from_edges(spark, pairs)
    got = _collect_by_vid(label_propagation(g, max_iter=7), "label")
    exp = lp_oracle(6, pairs, max_iter=7)
    assert np.array_equal(got, exp)


def test_lp_delta_frontier_shapes_and_exactness(spark):
    # chain of 4-cliques, each bridged to the next: round 1 changes
    # every vertex (full shape), round 2 only the per-clique min
    # vertices (collapsed frontier -> small shape, restricted stream),
    # round 3 converges. Pins (a) exactness vs the full-recompute
    # oracle and (b) that late rounds actually ran the frontier-scale
    # restricted shape with frontier-proportional metrics — the LP
    # analogue of test_geolocate_delta_frontier_metrics.
    from essentials_spark.engine.superstep import SuperstepRunner

    n_cliques, csz = 6, 4
    pairs = []
    for c in range(n_cliques):
        base = c * csz
        pairs += [(base + a, base + b) for a in range(csz) for b in range(a + 1, csz)]
        if c:
            pairs.append((base - 1, base))  # bridge
    n = n_cliques * csz
    runner = SuperstepRunner(spark, "lp_delta")
    g = graph_from_edges(spark, pairs)
    got = _collect_by_vid(label_propagation(g, max_iter=20, runner=runner), "label")
    exp = lp_oracle(n, pairs, max_iter=20)
    assert np.array_equal(got, exp)
    shapes = [m["shape"] for m in runner.metrics]
    fronts = [m["frontier_rows"] for m in runner.metrics]
    assert shapes[0] == "full" and fronts[0] == n
    # the tail must run the restricted broadcast shape on the collapsed
    # frontier: round 1 changes every vertex (full), round 2 still sees
    # the full frontier (full), round 3 sees only the per-clique min
    # vertices — well under the small bound
    assert shapes[-1] == "small" and fronts[-1] < n, (shapes, fronts)
    # once the frontier collapses below n it never runs full again
    tail = [s for s, f in zip(shapes, fronts) if f < n]
    assert tail and all(s != "full" for s in tail), (shapes, fronts)


def test_lp_fuzz_all_shapes_vs_oracle(spark):
    # random graphs driven through each shape path: default (full ->
    # small tail), forced-never-small (full/mid), forced-small-from-
    # round-2 (small_round_max huge). All must equal the synchronous
    # full-recompute oracle at the same max_iter — the restricted
    # stream is a provable no-op for unaffected vertices.
    rng = np.random.RandomState(77)
    for trial in range(3):
        n = int(rng.randint(20, 48))
        m = int(rng.randint(n, 2 * n))
        pairs = list({(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b})
        g = graph_from_edges(spark, pairs, n_vertices=n)
        exp = lp_oracle(n, pairs, max_iter=7)
        for kw in (
            {},
            {"small_round_max": 0},
            {"small_round_max": 10**9},
            {"fused_iters": 3},
            {"kernel": "csr", "n_buckets": 4, "small_round_max": 0},
            {"kernel": "csr", "n_buckets": 4, "fused_iters": 3},
        ):
            got = _collect_by_vid(label_propagation(g, max_iter=7, **kw), "label")
            assert np.array_equal(got, exp), f"trial {trial} kw {kw}"


# ---------------- Triangle counting ----------------


def test_tc_golden_fixture(spark, golden_tc_graph):
    # reference golden: per-vertex {0:2, 1:1, 2:2, 3:1}, total 6
    # (unittests/algorithms/tc.cuh:19-55)
    per_vertex, total = triangle_count(golden_tc_graph)
    got = _collect_by_vid(per_vertex, "tc")
    assert got.tolist() == [2, 1, 2, 1]
    assert total == 6


def test_tc_self_loop_excluded(spark):
    # self-loop variant (tc.cuh:57-95): identical expected output
    g = graph_from_edges(spark, [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (0, 0), (1, 1)])
    per_vertex, total = triangle_count(g)
    got = _collect_by_vid(per_vertex, "tc")
    assert got.tolist() == [2, 1, 2, 1]
    assert total == 6


def test_pagerank_csr_kernel_matches_dataframe_path(spark):
    # A/B: vectorized CSR-block SpMV path vs plain join+groupBy path
    # (SURVEY.md §7.1 step 4: plain path is the correctness oracle)
    rng = np.random.RandomState(7)
    n = 50
    pairs = list({(int(u), int(v)) for u, v in rng.randint(0, n, size=(200, 2)) if u != v})
    g = graph_from_edges(spark, pairs, n_vertices=n, directed=True)
    a = _collect_by_vid(pagerank(g, tol=0.0, max_iter=8, kernel="dataframe"), "rank")
    b = _collect_by_vid(pagerank(g, tol=0.0, max_iter=8, kernel="csr", n_buckets=4), "rank")
    assert np.allclose(a, b, atol=1e-12)
    exp = pagerank_oracle(n, _edge_list(g), tol=0.0, max_iter=8)
    assert np.allclose(b, exp, atol=1e-9)
    # fused supersteps (k per Spark job) must not change the arithmetic
    c = _collect_by_vid(pagerank(g, tol=0.0, max_iter=8, fused_iters=4), "rank")
    assert np.allclose(a, c, atol=1e-12)
    # bucketed-edge-table path (zero edge re-shuffle) — same arithmetic
    d = _collect_by_vid(pagerank(g, tol=0.0, max_iter=8, kernel="bucketed", n_buckets=4), "rank")
    assert np.allclose(a, d, atol=1e-12)


def test_tc_random_graph_vs_oracle(spark):
    rng = np.random.RandomState(42)
    n = 30
    pairs = list({(int(min(u, v)), int(max(u, v))) for u, v in rng.randint(0, n, size=(120, 2)) if u != v})
    g = graph_from_edges(spark, pairs, n_vertices=n)
    per_vertex, total = triangle_count(g)
    got = _collect_by_vid(per_vertex, "tc")
    exp, exp_total = tc_oracle(n, pairs)
    assert got.tolist() == exp.tolist()
    assert total == exp_total


def test_tc_incremental_matches_batch_fuzz(spark):
    # exact micro-batch maintenance: random graphs fed in 1/2/3
    # arbitrary batches must reproduce batch TC per vertex; hash-style
    # splits put triangles across batches, exercising all three
    # new-triangle classes (1, 2, or 3 batch edges)
    from essentials_spark.algos import incremental_tc_update

    rng = np.random.RandomState(7)
    n = 24
    for n_batches in (1, 2, 3):
        pairs = sorted(
            {(int(min(u, v)), int(max(u, v))) for u, v in rng.randint(0, n, size=(110, 2)) if u != v}
        )
        exp, exp_total = tc_oracle(n, pairs)
        pv = spark.createDataFrame([], "vid long, tc long")
        state = spark.createDataFrame([], "src long, dst long")
        for b in range(n_batches):
            chunk = [p for i, p in enumerate(pairs) if (i * 2654435761 + i * i) % n_batches == b]
            batch = spark.createDataFrame(chunk, "src long, dst long")
            pv, state = incremental_tc_update(pv, state, batch)
        got = {r["vid"]: r["tc"] for r in pv.collect()}
        for vid in range(n):
            assert got.get(vid, 0) == exp[vid], (n_batches, vid)
        assert sum(got.values()) == exp_total


def test_tc_incremental_dup_and_directions(spark):
    # batches re-sending known edges (both directions, dups, self
    # loops) must not change counts
    from essentials_spark.algos import incremental_tc_update

    pv = spark.createDataFrame([], "vid long, tc long")
    state = spark.createDataFrame([], "src long, dst long")
    tri = [(0, 1), (1, 2), (0, 2)]
    pv, state = incremental_tc_update(pv, state, spark.createDataFrame(tri, "src long, dst long"))
    assert {r["vid"]: r["tc"] for r in pv.collect()} == {0: 1, 1: 1, 2: 1}
    noise = [(1, 0), (2, 1), (2, 2), (0, 1), (0, 1)]
    pv, state = incremental_tc_update(pv, state, spark.createDataFrame(noise, "src long, dst long"))
    assert {r["vid"]: r["tc"] for r in pv.collect()} == {0: 1, 1: 1, 2: 1}
    assert state.count() == 3


def test_tc_csr_kernel_matches_dataframe_path(spark, golden_tc_graph):
    # A/B: packed intersection kernels (wedge-gen + searchsorted
    # membership, csr.hxx:110-167 analogue) vs the wedge-join path,
    # on the golden fixture and on random graphs dense enough that
    # wedges straddle buckets
    pv, total = triangle_count(golden_tc_graph, kernel="csr", n_buckets=3)
    assert _collect_by_vid(pv, "tc").tolist() == [2, 1, 2, 1]
    assert total == 6
    rng = np.random.RandomState(11)
    for n, m, nb in ((30, 120, 4), (60, 500, 1), (60, 500, 7)):
        pairs = list(
            {(int(min(u, v)), int(max(u, v))) for u, v in rng.randint(0, n, size=(m, 2)) if u != v}
        )
        g = graph_from_edges(spark, pairs, n_vertices=n)
        base_pv, base_total = triangle_count(g)
        csr_pv, csr_total = triangle_count(g, kernel="csr", n_buckets=nb)
        assert csr_total == base_total
        assert np.array_equal(
            _collect_by_vid(csr_pv, "tc"), _collect_by_vid(base_pv, "tc")
        ), f"n={n} nb={nb}"


def test_prepared_graph_matches_standalone(spark, golden_tc_graph):
    """PreparedGraph (shared build-once static tables) must return the
    exact same results as the standalone algorithm entry points."""
    from essentials_spark.graph.prepared import prepare_graph
    from essentials_spark.algos import connected_components, pagerank

    small_graph = golden_tc_graph
    with prepare_graph(small_graph) as pg:
        pr1 = {r["vid"]: r["rank"] for r in pg.pagerank(max_iter=5, tol=0.0).collect()}
        cc1 = {r["vid"]: r["label"] for r in pg.connected_components().collect()}
        _pv, tc_total = pg.triangle_count()
    pr2 = {r["vid"]: r["rank"] for r in pagerank(small_graph, max_iter=5, tol=0.0).collect()}
    cc2 = {r["vid"]: r["label"] for r in connected_components(small_graph).collect()}
    assert cc1 == cc2
    assert set(pr1) == set(pr2) and all(abs(pr1[k] - pr2[k]) < 1e-12 for k in pr1)
    assert tc_total >= 0


def test_fused_iters_clamped_and_equivalent(spark, golden_tc_graph):
    """Absurd fused_iters must neither hang the planner nor change
    results (PageRank runs one superstep per action; fused_iters is only
    its convergence-check cadence)."""
    from essentials_spark.algos import pagerank

    g = golden_tc_graph
    a = {r["vid"]: r["rank"] for r in pagerank(g, max_iter=6, tol=0.0, fused_iters=1).collect()}
    b = {r["vid"]: r["rank"] for r in pagerank(g, max_iter=6, tol=0.0, fused_iters=100).collect()}
    assert set(a) == set(b) and all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_incremental_weighted_edges_matches_rebuild(spark):
    # touched sources rescale, untouched pass through, new sources and
    # brand-new vertices enter — the maintained table must equal a
    # full rebuild on the union (to float rounding)
    from essentials_spark.algos import incremental_weighted_edges, outweights
    from essentials_spark.algos.pagerank import weighted_pagerank_edges
    from essentials_spark.graph.derive import Graph

    def g(pairs_w, nv):
        e = spark.createDataFrame(
            [(a, b, w) for a, b, w in pairs_w], "src long, dst long, weight double"
        )
        v = spark.createDataFrame([(i,) for i in range(nv)], "vid long")
        return Graph(vertices=v, edges=e)

    e1 = [(0, 1, 1.0), (0, 2, 2.0), (1, 2, 1.0), (3, 0, 4.0)]
    batch = [(0, 3, 3.0), (2, 0, 1.0), (4, 1, 2.0)]  # 0 touched, 2 fresh-src, 4 new vid
    g1 = g(e1, 5)
    w1 = weighted_pagerank_edges(g1, 0.85)
    ow1 = outweights(g1)
    bdf = spark.createDataFrame(batch, "src long, dst long, weight double")
    w2, ow2 = incremental_weighted_edges(w1, ow1, bdf, 0.85)
    rebuilt = weighted_pagerank_edges(g(e1 + batch, 5), 0.85)
    got = {(r["src"], r["dst"]): r["coef"] for r in w2.collect()}
    want = {(r["src"], r["dst"]): r["coef"] for r in rebuilt.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-15), k
    ow_got = {r["src"]: r["outw"] for r in ow2.collect()}
    ow_want = {r["src"]: r["outw"] for r in outweights(g(e1 + batch, 5)).collect()}
    assert ow_got == ow_want


def test_incremental_pagerank_warm_start_exact_and_fewer_iters(spark):
    # warm-started maintenance must land on the same fixpoint as a
    # cold solve on the union (init-independence) in fewer supersteps
    from essentials_spark.algos import incremental_pagerank_update
    from essentials_spark.engine.superstep import SuperstepRunner

    rng = np.random.default_rng(5)
    n = 60
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, size=(160, 2)) if a != b})
    batch_flag = rng.random(len(pairs)) < 0.1  # ~10% arrive late
    base = [p for p, f in zip(pairs, batch_flag) if not f]
    late = [p for p, f in zip(pairs, batch_flag) if f]
    g0 = graph_from_edges(spark, base, directed=True, n_vertices=n)
    g1 = graph_from_edges(spark, pairs, directed=True, n_vertices=n)
    prev = pagerank(g0, tol=1e-10)
    r_cold_runner = SuperstepRunner(spark, "pr_cold")
    cold = pagerank(g1, tol=1e-10, runner=r_cold_runner)
    r_warm_runner = SuperstepRunner(spark, "pr_warm")
    warm = incremental_pagerank_update(g1, prev, tol=1e-10, runner=r_warm_runner)
    c = {r["vid"]: r["rank"] for r in cold.collect()}
    w = {r["vid"]: r["rank"] for r in warm.collect()}
    assert set(c) == set(w)
    for vid in c:
        assert w[vid] == pytest.approx(c[vid], abs=1e-9), vid
    iters_cold = max(m["iteration"] for m in r_cold_runner.metrics)
    iters_warm = max(m["iteration"] for m in r_warm_runner.metrics)
    assert iters_warm < iters_cold, (iters_warm, iters_cold)
    assert late  # the batch actually moved the fixpoint


def test_lp_semi_converges_where_sync_oscillates(spark):
    """Sync LP 2-cycles forever on a path (bipartite halves keep
    swapping); the semi-synchronous mode must reach a genuine fixpoint
    (two consecutive zero-change rounds) and match the replayed
    schedule exactly."""
    from essentials_spark.engine.superstep import SuperstepRunner

    from tests.oracles import lp_semi_oracle

    n = 24
    pairs = [(i, i + 1) for i in range(n - 1)]
    g = graph_from_edges(spark, pairs)

    r_sync = SuperstepRunner(spark, "lp_sync_path")
    label_propagation(g, max_iter=12, runner=r_sync)
    sync_changed = [m["changed"] for m in r_sync.metrics]
    assert sync_changed[-1] > 0, "sync LP unexpectedly converged on a path"

    r_semi = SuperstepRunner(spark, "lp_semi_path")
    got = _collect_by_vid(label_propagation(g, max_iter=60, mode="semi", runner=r_semi), "label")
    exp = lp_semi_oracle(n, pairs, max_iter=60)
    assert np.array_equal(got, exp)
    assert r_semi.metrics[-1]["changed"] == 0, "semi LP did not converge"
    assert len(r_semi.metrics) < 60  # converged well before the cap


def test_lp_semi_fuzz_all_shapes_vs_oracle(spark):
    """Random graphs through every physical shape in semi mode: all
    must equal the semi-synchronous schedule replay at the same
    max_iter — including fused blocks (parity advances per sub-round)
    and the two-round-union restricted frontier."""
    from tests.oracles import lp_semi_oracle

    rng = np.random.RandomState(99)
    for trial in range(3):
        n = int(rng.randint(20, 48))
        m = int(rng.randint(n, 2 * n))
        pairs = list({(int(a), int(b)) for a, b in rng.randint(0, n, size=(m, 2)) if a != b})
        g = graph_from_edges(spark, pairs, n_vertices=n)
        exp = lp_semi_oracle(n, pairs, max_iter=7)
        for kw in (
            {},
            {"small_round_max": 0},
            {"small_round_max": 10**9},
            {"fused_iters": 3},
            {"kernel": "csr", "n_buckets": 4, "fused_iters": 3},
        ):
            got = _collect_by_vid(label_propagation(g, max_iter=7, mode="semi", **kw), "label")
            assert np.array_equal(got, exp), f"trial {trial} kw {kw}"


def test_lp_semi_custom_parity(spark):
    """semi_parity overrides the vid-parity default (the gate uses a
    portable md5-of-key parity so DuckDB can replay the schedule)."""
    from tests.oracles import lp_semi_oracle

    n = 20
    pairs = [(i, i + 1) for i in range(n - 1)] + [(0, 10)]
    g = graph_from_edges(spark, pairs)
    par = spark.createDataFrame([(v, 1 - (v % 2)) for v in range(n)], "vid long, par int")
    got = _collect_by_vid(
        label_propagation(g, max_iter=40, mode="semi", semi_parity=par), "label"
    )
    exp = lp_semi_oracle(n, pairs, max_iter=40, parity=lambda v: 1 - (v % 2))
    assert np.array_equal(got, exp)
