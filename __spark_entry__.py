"""Driver contract for the spark-graft builder (PySpark target).

Queries run the essentials_spark engine over a graph derived
deterministically from the ``events`` table (events -> transcript turns
-> turn-adjacency + tool-link edges, string-keyed vertices), plus text
/ dedup / ANN operators over ``documents`` and ``embeddings``. Each
oracle is ANSI SQL computing the identical result in DuckDB — iterative
algorithms are unrolled to a fixed superstep count on both sides.

Float outputs are emitted as rounded integers (ppm) or round(x, 6) so
cross-engine summation-order noise (~1e-15) cannot flip a value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ALPHA = 0.85
PR_ITERS = 20
# pagerank_incremental gates the CONVERGED fixpoint, not a fixed
# iterate: Spark warm-solves to tol=PR_CONV_TOL (fixpoint error <=
# alpha/(1-alpha)*tol ~ 5.7e-13), the oracle unrolls PR_CONV_ITERS
# power iterations (error <= 2*alpha^200 ~ 1.5e-14). Both land within
# ~6e-13 of the true fixpoint, whose minimum distance to a ppm
# rounding boundary at sf0.01 is 8.4e-12 (measured; >10x headroom),
# so round(score*1e6) is deterministic on both sides.
PR_CONV_TOL = 1e-13
PR_CONV_ITERS = 200
CC_ROUNDS = 26  # Spark CC converges by ~19 supersteps at sf0.01; margin on top
LP_ROUNDS = 5
ANN_K = 5
ANN_NQ = 5
# embedding near-dup gate threshold: the synthetic embeddings are
# near-random (max pairwise cosine ~0.51), so 0.3 keeps the gate
# non-trivially populated (~43 pairs at sf0.01) while still exercising
# the threshold filter
EMB_MIN_SIM = 0.3
BFS_ROUNDS = 90  # >= hop eccentricity of the source at sf<=0.01
SSSP_ROUNDS = 90
PPR_ROUNDS = 8
HITS_ROUNDS = 10
GEO_ROUNDS = 90
KCORE_ROUNDS = 48  # h-index fixpoint rounds: >= longest chain/2 (64-turn convs)
BC_ROUNDS = 90  # Brandes forward/backward unroll depth (>= eccentricity)
MST_CC_ROUNDS = 40  # per-threshold CC rounds inside the MSF weight-class oracle

_graph_cache: dict = {}


def _keyed_graph(spark: SparkSession, sf_dir: str, membership: bool = False):
    from essentials_spark.graph.keyed import keyed_graph_from_events

    key = (id(spark), sf_dir, membership)
    if key not in _graph_cache:
        _graph_cache[key] = keyed_graph_from_events(spark, sf_dir, include_conv_membership=membership)
    return _graph_cache[key]


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.io.transcripts import transcripts_from_events

    return transcripts_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    # ts is TIMESTAMP_NTZ: seconds-since-epoch of the wall clock via an
    # NTZ-to-NTZ diff (session-timezone-independent, matches DuckDB's
    # epoch() on naive timestamps)
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.timestamp_diff("MICROSECOND", epoch0, F.col("ts")).alias("ts_epoch_us"),
    )


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    kg = _keyed_graph(spark, sf_dir)
    return kg.key_edges.select("src_key", "dst_key")


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # log2-bucketed degree histogram of the symmetrized graph
    # (reference graph.hxx:371-404)
    from essentials_spark.graph.derive import canonicalize_edges

    kg = _keyed_graph(spark, sf_dir)
    sym = canonicalize_edges(kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    return (
        deg.groupBy(F.floor(F.log2("d")).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_vertices"))
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import pagerank

    kg = _keyed_graph(spark, sf_dir)
    # tol=0.0 -> exactly PR_ITERS supersteps (err < 0.0 is never true),
    # matching the SQL oracle's unrolled iteration count; fused_iters
    # only sets the convergence-check cadence, not the iterate sequence
    ranks = pagerank(kg.graph, alpha=ALPHA, tol=0.0, max_iter=PR_ITERS, fused_iters=5)
    return ranks.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("rank") * 1e6).cast("long").alias("score_ppm")
    )


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over NON-UNIFORM edge weights (1 + md5(src>dst) % 7 —
    the sssp_md5w weight convention): the weighted spread table
    algos/pagerank.weighted_pagerank_edges builds (alpha*w/sum w per
    src) has carried weights since round 1, but every prior gate ran
    w=1; this entry pins the weighted semantics end-to-end. Same
    unrolled-iteration contract as q_pagerank."""
    from essentials_spark.algos import pagerank
    from essentials_spark.functions.portable_hash import md5_int60
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    ke = kg.key_edges.select(
        "src_key",
        "dst_key",
        (F.lit(1) + F.pmod(md5_int60(F.concat_ws(">", "src_key", "dst_key")), F.lit(7)))
        .cast("double")
        .alias("weight"),
    )
    e = (
        ke.join(kg.vkeys.select(F.col("skey").alias("src_key"), F.col("vid").alias("src")), "src_key")
        .join(kg.vkeys.select(F.col("skey").alias("dst_key"), F.col("vid").alias("dst")), "dst_key")
        .select("src", "dst", "weight")
    )
    g = Graph(vertices=kg.graph.vertices, edges=e)
    ranks = pagerank(g, alpha=ALPHA, tol=0.0, max_iter=PR_ITERS, fused_iters=5)
    return ranks.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("rank") * 1e6).cast("long").alias("score_ppm")
    )


def q_pagerank_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_pagerank but on the vectorized packed-CSR
    kernel (graph/csr_blocks.py — the north-rule Arrow/NumPy SpMV
    path; reference formats/csr.hxx:79-157, algorithms/spmv.hxx:
    107-127). Shares _pagerank_sql(): identical unrolled-iteration
    semantics, different physical plan."""
    from essentials_spark.algos import pagerank

    kg = _keyed_graph(spark, sf_dir)
    ranks = pagerank(kg.graph, alpha=ALPHA, tol=0.0, max_iter=PR_ITERS, kernel="csr", fused_iters=5)
    return ranks.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("rank") * 1e6).cast("long").alias("score_ppm")
    )


def q_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped PageRank maintenance (algos/pagerank.
    incremental_pagerank_update + incremental_weighted_edges) vs a
    converged-fixpoint oracle: two thirds of the edge table are solved
    cold at the practical tol, the final third arrives as a micro-batch
    — the static spread table is updated BATCH-LOCALLY (only touched
    sources rescale; pr.hxx:77-91's build step made restartable) and
    the ranks warm-start from the previous fixpoint. The fixpoint is
    init-independent, so the result must equal a deeply-unrolled cold
    power iteration on the union (PR_CONV_ITERS; margin note at
    PR_CONV_TOL)."""
    from essentials_spark.algos import (
        incremental_pagerank_update,
        incremental_weighted_edges,
        outweights,
        pagerank,
    )
    from essentials_spark.algos.pagerank import weighted_pagerank_edges
    from essentials_spark.engine.superstep import truncate_plan
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    e = kg.graph.edges
    third = F.pmod(F.xxhash64("src", "dst"), F.lit(3))
    g01 = Graph(vertices=kg.graph.vertices, edges=e.filter(third < 2))
    w01 = truncate_plan(weighted_pagerank_edges(g01, ALPHA))
    ow01 = outweights(g01)
    r0 = pagerank(
        g01, alpha=ALPHA, tol=1e-6, max_iter=200, fused_iters=5,
        static_edges_w=w01, persist_result=False,
    )
    batch = e.filter(third == 2)
    w_full, _ow_full = incremental_weighted_edges(w01, ow01, batch, ALPHA)
    ranks = incremental_pagerank_update(
        kg.graph, r0, alpha=ALPHA, tol=PR_CONV_TOL, max_iter=400, fused_iters=5,
        static_edges_w=truncate_plan(w_full),
    )
    return ranks.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("rank") * 1e6).cast("long").alias("score_ppm")
    )


def q_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import connected_components

    kg = _keyed_graph(spark, sf_dir)
    labels = connected_components(kg.graph)
    # component label -> canonical string key (min vid == min skey by
    # construction: vids are the global rank of skey)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("component"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "component")


def q_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped CC maintenance (algos/cc.incremental_cc_update)
    vs the SAME batch fixpoint oracle: the edge table is fed in two
    ARBITRARY micro-batches (split by edge-hash parity — adversarial:
    components form across both), labels updated per batch; the final
    labels must equal batch CC on the union. Vertex ids are the batch
    graph's (an id service in production); what is incremental is the
    LABEL state."""
    from essentials_spark.algos import incremental_cc_update

    kg = _keyed_graph(spark, sf_dir)
    e = kg.graph.edges
    parity = F.pmod(F.xxhash64("src", "dst"), F.lit(2))
    labels = kg.graph.vertices.select("vid", F.col("vid").alias("label"))
    for p in (0, 1):
        batch = e.filter(parity == p).select("src", "dst")
        labels = incremental_cc_update(labels, batch)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("component"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "component")


def q_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import label_propagation

    kg = _keyed_graph(spark, sf_dir)
    labels = label_propagation(kg.graph, max_iter=LP_ROUNDS, fused_iters=LP_ROUNDS)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("lp_label"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "lp_label")


def q_lp_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-SYNCHRONOUS label propagation (algos/lp.py mode='semi'):
    round t updates only the vertices whose portable md5-of-key parity
    equals t % 2, breaking the 2-cycle oscillation that keeps sync LP
    non-convergent on chain-dominated transcript graphs. The schedule
    is deterministic and fully SQL-replayable (the oracle unrolls the
    same alternating-parity rounds)."""
    from essentials_spark.algos import label_propagation

    kg = _keyed_graph(spark, sf_dir)
    par = kg.vkeys.select(
        "vid",
        (F.ascii(F.substring(F.md5(F.col("skey")), 1, 1)) % 2).cast("int").alias("par"),
    )
    labels = label_propagation(
        kg.graph, max_iter=LP_ROUNDS, fused_iters=LP_ROUNDS, mode="semi", semi_parity=par
    )
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("lp_label"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "lp_label")


def q_lp_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_propagation on the packed-CSR kernel path
    (csr_blocks.csr_label_counts): full rounds compute (dst, label)
    message counts as gather/expand/run-length NumPy passes over the
    same bucketed blocks PR/CC kernel from — the north rule's
    vectorized Arrow/pandas superstep shape, now covering all four
    named primitives. Same oracle as label_propagation."""
    from essentials_spark.algos import label_propagation

    kg = _keyed_graph(spark, sf_dir)
    labels = label_propagation(
        kg.graph, max_iter=LP_ROUNDS, fused_iters=LP_ROUNDS, kernel="csr"
    )
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("lp_label"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "lp_label")


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import triangle_count

    kg = _keyed_graph(spark, sf_dir, membership=True)
    per_vertex, _total = triangle_count(kg.graph)
    return per_vertex.join(kg.vkeys, "vid").select("skey", F.col("tc").cast("long").alias("tc"))


def q_triangles_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # packed intersection kernels (wedge-gen + searchsorted membership;
    # algos/tc.py kernel='csr') vs the same independent oracle as the
    # join path — third A/B-gated CSR kernel after pagerank_csr and
    # connected_components_csr
    from essentials_spark.algos import triangle_count

    kg = _keyed_graph(spark, sf_dir, membership=True)
    per_vertex, _total = triangle_count(kg.graph, kernel="csr")
    return per_vertex.join(kg.vkeys, "vid").select("skey", F.col("tc").cast("long").alias("tc"))


def q_ktruss_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the membership graph (algos/ktruss.py — iterative
    support peeling over the same degree-oriented triangle enumeration
    as triangle_count): the maximal subgraph where every edge closes a
    triangle, after the removal cascade. Oracle: the peel unrolled."""
    from essentials_spark.algos import ktruss

    kg = _keyed_graph(spark, sf_dir, membership=True)
    t = ktruss(kg.graph, 3)
    return (
        t.join(kg.vkeys.select(F.col("vid").alias("src"), F.col("skey").alias("src_key")), "src")
        .join(kg.vkeys.select(F.col("vid").alias("dst"), F.col("skey").alias("dst_key")), "dst")
        .select("src_key", "dst_key")
    )


def q_ktruss_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the membership graph — a 3-round removal CASCADE at
    sf0.01 (support-2 edges lose their triangles once the support-1
    fans peel) that empties out. Gated as a 1-row summary
    (k4_edges, cascade_dropped = |3-truss| - |4-truss|) so the entry
    asserts the CASCADE SIZE, not just the empty fixpoint — a
    degenerate return-empty peel fails on cascade_dropped."""
    from essentials_spark.algos import ktruss

    kg = _keyed_graph(spark, sf_dir, membership=True)
    c3 = ktruss(kg.graph, 3).agg(F.count(F.lit(1)).alias("k3_edges"))
    c4 = ktruss(kg.graph, 4).agg(F.count(F.lit(1)).alias("k4_edges"))
    return c3.crossJoin(c4).select(
        "k4_edges", (F.col("k3_edges") - F.col("k4_edges")).alias("cascade_dropped")
    )


def q_ktruss_4_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the WINDOWED turn graph (turns within distance <=3 in
    the same conversation, via three linear lead() passes — never a
    per-conversation quadratic self-join) unioned with turn->tool
    links. The window cliques keep every turn-turn edge (interior
    support >=4, boundary >=2) while tool edges survive only where two
    window-adjacent turns share the same tool — so unlike ktruss_4's
    cascade-to-empty, this peel returns a large non-identity edge set
    with real drops, exercising the support values, not just the empty
    fixpoint. Vertices stay string-keyed: ktruss's orientation algebra
    (struct(deg, vid) ordering) is type-agnostic, so no dense-id pass
    is needed."""
    from essentials_spark.algos import ktruss
    from essentials_spark.graph.keyed import windowed_turn_graph
    from essentials_spark.io.transcripts import transcripts_from_events

    t = transcripts_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    g = windowed_turn_graph(t, window=3, include_tools=True)
    return ktruss(g, 4).select(
        F.col("src").alias("src_key"), F.col("dst").alias("dst_key")
    )


def q_truss_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge trussness of the windowed turn graph via ONE ascending
    delta-maintained peel (algos/ktruss.truss_decomposition): the
    k-truss fixpoint's exact support state seeds the k+1 peel, so the
    whole decomposition costs one full support pass + O(total drops).
    k_max=6 matches the oracle's unroll depth; both sides cap
    survivors at 6 (kcore-style cap semantics)."""
    from essentials_spark.algos import truss_decomposition
    from essentials_spark.graph.keyed import windowed_turn_graph
    from essentials_spark.io.transcripts import transcripts_from_events

    t = transcripts_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    g = windowed_turn_graph(t, window=3, include_tools=True)
    return truss_decomposition(g, k_max=6).select(
        F.col("src").alias("src_key"), F.col("dst").alias("dst_key"), "trussness"
    )


def q_tc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped TC maintenance (algos/tc.incremental_tc_update)
    vs the SAME batch oracle as triangle_count: the membership graph's
    edges arrive in two ARBITRARY micro-batches (edge-hash parity —
    adversarial: triangles straddle the split, exercising all three
    t1/t2/t3 classes), counts updated per batch; the final per-vertex
    corners must equal batch TC on the union."""
    from essentials_spark.algos import incremental_tc_update

    kg = _keyed_graph(spark, sf_dir, membership=True)
    e = kg.graph.edges
    parity = F.pmod(F.xxhash64("src", "dst"), F.lit(2))
    pv = spark.createDataFrame([], "vid long, tc long")
    state = spark.createDataFrame([], "src long, dst long")
    for p in (0, 1):
        batch = e.filter(parity == p).select("src", "dst")
        pv, state = incremental_tc_update(pv, state, batch)
    # isolated vertices never enter a batch — rebase on the full vertex set
    full = (
        kg.graph.vertices.select("vid")
        .join(pv, "vid", "left")
        .select("vid", F.coalesce(F.col("tc"), F.lit(0)).cast("long").alias("tc"))
    )
    return full.join(kg.vkeys, "vid").select("skey", F.col("tc").cast("long").alias("tc"))


def q_tc_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import triangle_count

    kg = _keyed_graph(spark, sf_dir, membership=True)
    _per_vertex, total = triangle_count(kg.graph)
    return spark.createDataFrame(
        [(int(total), int(total) // 3)], "corner_total bigint, n_triangles bigint"
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.text.analysis import token_stats

    return token_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "n_chars_actual"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.text.analysis import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.text.analysis import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_punct", "n_digit", "distinct_ratio", "quality"
    )


def q_lang_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.text.analysis import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.ann.cosine import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = brute_force_topk(emb.filter(F.col("vec_id") < ANN_NQ), emb, k=ANN_K)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("sim") * 1e6).cast("long").alias("sim_e6"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.text.analysis import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select("doc_id", "dup_count")


# entries registered WITHOUT an oracle_sql twin — genuinely
# non-SQL-expressible (iterative bin packing); the driver records the
# weaker rows-only check and pytest pins their invariants instead
ROWS_ONLY = frozenset({"pack_ffd_stats"})

PACK_BUDGET = 256  # power of 2: floor((cum-tokens)/budget) is FP-exact
CONTAM_N = 3  # word n-gram width; 3 keeps the synthetic gate populated


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing (text/packing.pack_sequences):
    per-source running token sums bucketed into PACK_BUDGET-token
    training sequences. Integer/string outputs — value-exact."""
    from essentials_spark.text.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=PACK_BUDGET).select(
        "doc_id", "source", "tokens", "seq_id", "offset_in_seq"
    )


def q_pack_ffd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-respecting FFD packing (text/packing.
    pack_sequences_ffd, applyInPandas per (source, shard)) rolled up
    by packing_stats. FFD is iterative — not SQL-replayable — so this
    entry is rows-only; tests/test_text_pipeline.py pins the
    invariants (disjoint cover, capacity, determinism)."""
    from essentials_spark.text.packing import pack_sequences_ffd, packing_stats

    packed = pack_sequences_ffd(_docs(spark, sf_dir), budget=PACK_BUDGET, n_shards=2)
    return packing_stats(packed, budget=PACK_BUDGET).select(
        "source", "n_docs", "n_seqs", "total_tokens", "max_seq_tokens", "fill_ppm"
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen (text/contamination.
    ngram_contamination): docs sharing >= 1 word CONTAM_N-gram with
    the deterministic benchmark slice (doc_id % 20 == 0). Integer
    hit counts; the benchmark side broadcasts."""
    from essentials_spark.text.contamination import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(train, bench, n=CONTAM_N).select("doc_id", "hit_ngrams")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition profile (text/analysis.repetition_stats):
    duplicated word-trigram counts + max single-token frequency, all
    integers, one codegen pass (sort+fold, no explode shuffle)."""
    from essentials_spark.text.analysis import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), n=3).select(
        "doc_id", "total_ngrams", "distinct_ngrams", "dup_ngrams", "top_tok_cnt"
    )


# deterministic per-edge weight both engines can compute:
# 1 + (ascii of first md5 hex char of "src>dst") % 8
def _md5_weight(src_col, dst_col):
    return 1.0 + (F.ascii(F.substring(F.md5(F.concat(src_col, F.lit(">"), dst_col)), 1, 1)) % 8).cast("double")


_sym_cache: dict = {}
_src_cache: dict = {}


def _sym_graph(spark, sf_dir):
    """Symmetrized (dedup, no self-loops) keyed graph for BFS/SSSP.

    Cached per (spark, sf_dir) like _keyed_graph — five entry queries
    use it, and the symmetrize+dedup shuffle is identical each time;
    truncate_plan materializes it once so later queries read the
    checkpoint blocks instead of recomputing."""
    from essentials_spark.engine.superstep import truncate_plan
    from essentials_spark.graph.derive import Graph, canonicalize_edges

    kg = _keyed_graph(spark, sf_dir)
    key = (id(spark), sf_dir)
    if key not in _sym_cache:
        edges = truncate_plan(
            canonicalize_edges(kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
        )
        _sym_cache[key] = Graph(vertices=kg.graph.vertices, edges=edges)
    return kg, _sym_cache[key]


_ctr_cache: dict = {}


def _chain_ctr(spark, sf_dir):
    """Shared degree-2 chain contraction over the md5-weighted
    symmetric edge set (graph/chain_contract.py) — built ONCE per
    (spark, sf_dir) and reused by bfs / sssp / diameter: the hop
    prefixes serve BFS, the weight prefixes serve SSSP. This is the
    at-scale deployment shape (the contraction is a static artifact
    of the graph, traversals are many)."""
    from essentials_spark.graph.chain_contract import chain_contraction

    key = (id(spark), sf_dir)
    if key not in _ctr_cache:
        kg, g = _sym_graph(spark, sf_dir)
        k = kg.vkeys
        keyed = (
            g.edges.join(k.select(F.col("vid").alias("src"), F.col("skey").alias("sk")), "src")
            .join(k.select(F.col("vid").alias("dst"), F.col("skey").alias("dk")), "dst")
            .select("src", "dst", _md5_weight(F.col("sk"), F.col("dk")).alias("weight"))
        )
        _ctr_cache[key] = chain_contraction(g.vertices, keyed)
    return _ctr_cache[key]


def _min_turn_vid(kg):
    key = id(kg)
    if key not in _src_cache:
        row = (
            kg.vkeys.filter(F.col("skey").startswith("turn|")).orderBy("skey").limit(1).collect()[0]
        )
        _src_cache[key] = (row["vid"], row["skey"])
    return _src_cache[key]


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances THROUGH degree-2 chain contraction
    (graph/chain_contract.py): supersteps = contracted diameter, then
    exact interior rehydration; the oracle is the same plain unrolled
    BFS SQL — rehydrated == plain is the gated claim."""
    from essentials_spark.algos import bfs

    kg, g = _sym_graph(spark, sf_dir)
    src_vid, _ = _min_turn_vid(kg)
    out = bfs(g, source=src_vid, contraction=_chain_ctr(spark, sf_dir))
    return out.join(kg.vkeys, "vid").select("skey", F.col("dist").cast("long").alias("dist"))


def q_bfs_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS on the (min,+) tropical CSR kernel
    (csr_blocks.csr_tropical_push) through the shared chain
    contraction: the contracted-graph relax runs as vectorized
    np.minimum.at gather/scatter per bucket — sixth A/B-gated CSR
    kernel family. Same oracle as bfs_hops."""
    from essentials_spark.algos import bfs

    kg, g = _sym_graph(spark, sf_dir)
    src_vid, _ = _min_turn_vid(kg)
    out = bfs(g, source=src_vid, contraction=_chain_ctr(spark, sf_dir), kernel="csr", n_buckets=8)
    return out.join(kg.vkeys, "vid").select("skey", F.col("dist").cast("long").alias("dist"))


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import sssp
    from essentials_spark.graph.derive import Graph

    kg, g = _sym_graph(spark, sf_dir)
    # weights must be computed on string keys (oracle-reproducible),
    # attached after the sym/dedup canonicalization
    k = kg.vkeys
    keyed = (
        g.edges.join(k.select(F.col("vid").alias("src"), F.col("skey").alias("sk")), "src")
        .join(k.select(F.col("vid").alias("dst"), F.col("skey").alias("dk")), "dst")
        .select("src", "dst", _md5_weight(F.col("sk"), F.col("dk")).alias("weight"))
    )
    src_vid, _ = _min_turn_vid(kg)
    # chain-contracted: super-edge weights are the in-chain md5-weight
    # sums carried by the shared contraction artifact
    out = sssp(
        Graph(vertices=g.vertices, edges=keyed), source=src_vid,
        contraction=_chain_ctr(spark, sf_dir),
    )
    return out.join(kg.vkeys, "vid").select("skey", F.col("dist").alias("dist"))


def q_sssp_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP on the tropical CSR kernel through the shared
    chain contraction (directional md5-weight sums carried by the
    super-edges). Same oracle as sssp_md5w."""
    from essentials_spark.algos import sssp
    from essentials_spark.graph.derive import Graph

    kg, g = _sym_graph(spark, sf_dir)
    k = kg.vkeys
    keyed = (
        g.edges.join(k.select(F.col("vid").alias("src"), F.col("skey").alias("sk")), "src")
        .join(k.select(F.col("vid").alias("dst"), F.col("skey").alias("dk")), "dst")
        .select("src", "dst", _md5_weight(F.col("sk"), F.col("dk")).alias("weight"))
    )
    src_vid, _ = _min_turn_vid(kg)
    out = sssp(
        Graph(vertices=g.vertices, edges=keyed), source=src_vid,
        contraction=_chain_ctr(spark, sf_dir), kernel="csr", n_buckets=8,
    )
    return out.join(kg.vkeys, "vid").select("skey", F.col("dist").alias("dist"))


def q_spmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import spmv

    kg = _keyed_graph(spark, sf_dir)
    x = kg.vkeys.select("vid", F.length("skey").cast("double").alias("value"))
    y = spmv(kg.graph, x)
    return y.join(kg.vkeys, "vid").select("skey", F.col("value").alias("y"))


def q_spgemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import spgemm

    kg = _keyed_graph(spark, sf_dir)
    c = spgemm(kg.graph.edges, kg.graph.edges)
    k = kg.vkeys
    return (
        c.join(k.select(F.col("vid").alias("src"), F.col("skey").alias("src_key")), "src")
        .join(k.select(F.col("vid").alias("dst"), F.col("skey").alias("dst_key")), "dst")
        .select("src_key", "dst_key", F.col("weight").cast("long").alias("paths"))
    )


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import ppr

    kg = _keyed_graph(spark, sf_dir)
    seeds = [
        r["vid"]
        for r in kg.vkeys.filter(F.col("skey").startswith("turn|")).orderBy("skey").limit(3).collect()
    ]
    out = ppr(kg.graph, seeds=seeds, alpha=0.15, eps=0.0, max_iter=PPR_ROUNDS)
    seed_keys = kg.vkeys.select(F.col("vid").alias("seed"), F.col("skey").alias("seed_key"))
    return (
        out.join(kg.vkeys, "vid")
        .join(seed_keys, "seed")
        .select("seed_key", "skey", F.round(F.col("score") * 1e6).cast("long").alias("score_ppm"))
        .filter(F.col("score_ppm") > 0)
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import hits

    kg = _keyed_graph(spark, sf_dir)
    out = hits(kg.graph, max_iter=HITS_ROUNDS)
    return out.join(kg.vkeys, "vid").select(
        "skey",
        F.round(F.col("auth") * 1e6).cast("long").alias("auth_ppm"),
        F.round(F.col("hub") * 1e6).cast("long").alias("hub_ppm"),
    )


# ---- kcore / bc / mst: oracled via structurally-independent SQL
# (h-index fixpoint, unrolled Brandes, MSF weight-class counting) ----


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import kcore

    kg = _keyed_graph(spark, sf_dir)
    out = kcore(kg.graph)
    return out.join(kg.vkeys, "vid").select("skey", F.col("core").cast("long").alias("core"))


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-parity peeling path (kcore.hxx:112-199) against
    the SAME h-index-fixpoint SQL oracle — two structurally independent
    algorithms vs an algorithm-independent oracle."""
    from essentials_spark.algos import kcore

    kg = _keyed_graph(spark, sf_dir)
    out = kcore(kg.graph, method="peel")
    return out.join(kg.vkeys, "vid").select("skey", F.col("core").cast("long").alias("core"))


def q_kcore_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed local-fixpoint kernel path (algos/kcore.py
    kcore_hindex_local: per-bucket chaotic h-index iteration, boundary
    estimates exchanged per global round) against the SAME
    algorithm-independent fixpoint SQL oracle as the other two paths."""
    from essentials_spark.algos import kcore

    kg = _keyed_graph(spark, sf_dir)
    out = kcore(kg.graph, method="local")
    return out.join(kg.vkeys, "vid").select("skey", F.col("core").cast("long").alias("core"))


def q_cc_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC with the MIN-semiring packed-CSR message kernel
    (graph/csr_blocks.csr_min_push ≙ atomic::min, reference
    mst.hxx:173-199), general round shape forced so the kernel actually
    runs at gate scale; same oracle as connected_components."""
    from essentials_spark.algos import connected_components

    kg = _keyed_graph(spark, sf_dir)
    labels = connected_components(kg.graph, kernel="csr", n_buckets=8, small_round_max=0)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("component"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "component")


def q_cc_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase contraction CC: per-bucket vectorized Shiloach-Vishkin
    (np.minimum.at + label[label] in one Arrow batch) solves each range
    bucket outright, then the dataframe engine stitches the star
    mapping (algos/cc.connected_components_contract — reference
    mst.hxx:173-220's atomic::min + jump loop fused per block). Same
    oracle as connected_components: labels are canonical min-vid."""
    from essentials_spark.algos import connected_components_contract

    kg = _keyed_graph(spark, sf_dir)
    labels = connected_components_contract(kg.graph, n_buckets=8)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("component"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "component")


def q_bc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import betweenness_centrality

    kg, g = _sym_graph(spark, sf_dir)
    seeds = [
        r["vid"]
        for r in kg.vkeys.filter(F.col("skey").startswith("turn|")).orderBy("skey").limit(3).collect()
    ]
    out = betweenness_centrality(g, sources=seeds)
    return out.join(kg.vkeys, "vid").select("skey", F.round("bc", 6).alias("bc"))


def q_bc_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Brandes BC through degree-2 chain contraction
    (algos/bc.betweenness_centrality_contracted): dist/sigma/delta run
    over the contracted super-graph in O(contracted diameter) rounds,
    interior dependencies rehydrate in closed form (through-flow +
    in-chain target counts + tie sigma-shares). Same sources and
    oracle as betweenness_3src — rehydrated == plain is the gated
    claim."""
    from essentials_spark.algos import betweenness_centrality_contracted

    kg, g = _sym_graph(spark, sf_dir)
    seeds = [
        r["vid"]
        for r in kg.vkeys.filter(F.col("skey").startswith("turn|")).orderBy("skey").limit(3).collect()
    ]
    out = betweenness_centrality_contracted(g, sources=seeds)
    return out.join(kg.vkeys, "vid").select("skey", F.round("bc", 6).alias("bc"))


def q_mst_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import mst
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    k = kg.vkeys
    keyed = (
        kg.graph.edges.join(k.select(F.col("vid").alias("src"), F.col("skey").alias("sk")), "src")
        .join(k.select(F.col("vid").alias("dst"), F.col("skey").alias("dk")), "dst")
        .select("src", "dst", _md5_weight(F.col("sk"), F.col("dk")).alias("weight"))
    )
    edges, total = mst(Graph(vertices=kg.graph.vertices, edges=keyed))
    # oracle-checkable MSF invariants: the weight multiset of a minimum
    # spanning forest is unique (classic exchange-argument result), so
    # total weight and edge count are algorithm-independent
    return spark.createDataFrame(
        [(int(edges.count()), float(total))], "n_chosen bigint, mst_total double"
    )


def q_mst_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped MSF maintenance (algos/mst.incremental_msf_update)
    vs the SAME invariant oracle as mst_total_weight: the weighted edge
    table arrives in two ARBITRARY micro-batches (edge-hash parity —
    adversarial: tree paths and cycles straddle the split, so batch-2
    edges both extend and REPLACE batch-1 forest edges), the forest
    re-sparsified per batch (T <- MSF(T ∪ batch), exact by the cycle
    property); the final forest's weight multiset must equal batch MSF
    on the union."""
    from essentials_spark.algos import incremental_msf_update

    kg = _keyed_graph(spark, sf_dir)
    k = kg.vkeys
    keyed = (
        kg.graph.edges.join(k.select(F.col("vid").alias("src"), F.col("skey").alias("sk")), "src")
        .join(k.select(F.col("vid").alias("dst"), F.col("skey").alias("dk")), "dst")
        .select("src", "dst", _md5_weight(F.col("sk"), F.col("dk")).alias("weight"))
    )
    parity = F.pmod(F.xxhash64("src", "dst"), F.lit(2))
    forest = spark.createDataFrame([], "src long, dst long, weight double")
    total = 0.0
    for p in (0, 1):
        batch = keyed.filter(parity == p)
        forest, total = incremental_msf_update(forest, batch)
    return spark.createDataFrame(
        [(int(forest.count()), float(total))], "n_chosen bigint, mst_total double"
    )


def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg / stddev degree over ALL vertices incl. isolated
    # (reference include/gunrock/graph/graph.hxx:326-356)
    from essentials_spark.graph.derive import canonicalize_edges

    kg = _keyed_graph(spark, sf_dir)
    sym = canonicalize_edges(kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    deg = sym.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed("src", "vid")
    full = kg.graph.vertices.select("vid").join(deg, "vid", "left").select(
        F.coalesce(F.col("d"), F.lit(0)).cast("double").alias("d")
    )
    return full.agg(
        F.count("*").alias("n_vertices"),
        F.round(F.avg("d") * 1e6).cast("long").alias("avg_deg_e6"),
        F.round(F.stddev_pop("d") * 1e6).cast("long").alias("stddev_deg_e6"),
    )


# ---- IO format readers (.mtx / .smtx / points), driver-gated: each
# query derives a BOUNDED deterministic fixture from events (ids hashed
# into [0,97)x[0,89) — O(1) size at any sf), writes the reference's
# text format, reads it back through the engine reader, and the oracle
# recomputes the parsed result (incl. symmetric expansion / CSR
# unpacking / comment skipping) directly in SQL. Reference anchors:
# io/matrix_market.hxx:99-240, io/smtx.hxx, io/points.hxx. ----

_MTX_I, _MTX_J = 97, 89


def _materialize_and_cleanup(df: DataFrame, tmpdir: str) -> DataFrame:
    """Eagerly checkpoint a reader's output, then delete its fixture
    dir — the returned DataFrame no longer references the file, so
    repeated gate invocations leave no /tmp debris."""
    import shutil

    from essentials_spark.engine.superstep import truncate_plan

    out = truncate_plan(df, eager=True)
    shutil.rmtree(tmpdir, ignore_errors=True)
    return out


def _fixture_pairs(spark: SparkSession, sf_dir: str):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            F.pmod(F.col("user_id"), F.lit(_MTX_I)).cast("long").alias("i"),
            F.pmod(F.col("event_id"), F.lit(_MTX_J)).cast("long").alias("j"),
        )
        .distinct()
    )


def q_mtx_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric pattern .mtx: writes lower-triangle entries once; the
    reader must 0-base ids and expand off-diagonal entries both ways
    (matrix_market.hxx:194-235)."""
    import os
    import tempfile

    from essentials_spark.io.matrix_market import read_mtx

    pairs = sorted(
        (r["a"], r["b"])
        for r in _fixture_pairs(spark, sf_dir)
        .select(F.greatest("i", "j").alias("a"), F.least("i", "j").alias("b"))
        .distinct()
        .collect()  # bounded: <= 97*89 rows at ANY sf
    )
    d = tempfile.mkdtemp(prefix="es_mtx_")
    path = os.path.join(d, "fixture.mtx")
    with open(path, "w") as fh:
        fh.write("%%MatrixMarket matrix coordinate pattern symmetric\n")
        fh.write("% deterministic fixture derived from the events table\n")
        fh.write(f"{_MTX_I} {_MTX_I} {len(pairs)}\n")
        for a, b in pairs:
            fh.write(f"{a + 1} {b + 1}\n")
    out = read_mtx(spark, path).select("src", "dst", F.col("weight").cast("long").alias("w"))
    return _materialize_and_cleanup(out, d)


def q_smtx_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.smtx CSR text (offsets + indices lines): the reader must unpack
    row extents back to COO."""
    import os
    import tempfile

    import numpy as np

    from essentials_spark.io.matrix_market import read_smtx

    pairs = sorted((r["i"], r["j"]) for r in _fixture_pairs(spark, sf_dir).collect())
    srcs = np.array([p[0] for p in pairs], dtype=np.int64)
    offsets = np.zeros(_MTX_I + 1, dtype=np.int64)
    np.add.at(offsets, srcs + 1, 1)
    offsets = np.cumsum(offsets)
    d = tempfile.mkdtemp(prefix="es_smtx_")
    path = os.path.join(d, "fixture.smtx")
    with open(path, "w") as fh:
        fh.write(f"{_MTX_I} {_MTX_J} {len(pairs)}\n")
        fh.write(" ".join(str(int(o)) for o in offsets) + "\n")
        fh.write(" ".join(str(int(p[1])) for p in pairs) + "\n")
    # read_smtx parses on the driver — the file is free immediately
    out = read_smtx(spark, path).select("src", "dst")
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    return out


def q_points_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace 'vid lat lon' labels with comment/blank lines the
    reader must skip."""
    import os
    import tempfile

    from essentials_spark.io.matrix_market import read_points

    vids = sorted(
        r["v"]
        for r in _fixture_pairs(spark, sf_dir).select(F.col("i").alias("v")).distinct().collect()
    )
    d = tempfile.mkdtemp(prefix="es_pts_")
    path = os.path.join(d, "fixture.points")
    with open(path, "w") as fh:
        fh.write("% per-vertex geo labels\n# alt comment style\n\n")
        for v in vids:
            lat = (v * 7) % 180 - 90 + 0.25
            lon = (v * 13) % 360 - 180 + 0.25
            fh.write(f"{v} {lat} {lon}\n")
    pts = read_points(spark, path)
    out = pts.select(
        "vid",
        F.round(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
        F.round(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
    )
    return _materialize_and_cleanup(out, d)


def q_color_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coloring is hash-seeded (exact colors aren't SQL-reproducible);
    the oracle-checkable contract is validity: every vertex colored, no
    monochromatic edge. The oracle emits the invariant constants."""
    from essentials_spark.algos import color

    kg, g = _sym_graph(spark, sf_dir)
    col = color(g, pre_symmetrized=True)
    mono = (
        g.edges.select("src", "dst")
        .join(col.select(F.col("vid").alias("src"), F.col("color").alias("c1")), "src")
        .join(col.select(F.col("vid").alias("dst"), F.col("color").alias("c2")), "dst")
        .filter(F.col("c1") == F.col("c2"))
        .count()
    )
    return spark.createDataFrame(
        [(int(col.count()), int(mono))], "n_colored bigint, mono_edges bigint"
    )


def q_geolocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.algos import geolocate

    kg, g = _sym_graph(spark, sf_dir)
    # anchors: tool vertices with ASCII-derived coordinates (first two
    # chars after 'tool|'), reproducible in ANSI SQL
    known = kg.vkeys.filter(F.col("skey").startswith("tool|")).select(
        "vid",
        (F.ascii(F.substring("skey", 6, 1)) % 90).cast("double").alias("lat"),
        (F.ascii(F.substring("skey", 7, 1)) % 180).cast("double").alias("lon"),
    )
    # chain-contracted path (algos/geo._geolocate_contracted): the
    # synchronous wave collapses to O(contracted diameter) supersteps —
    # values copy along degree-2 chains, so the rehydration is
    # closed-form; the oracle stays the plain unrolled wave
    out = geolocate(g, known, max_iter=GEO_ROUNDS, chain_contract=True)
    return out.join(kg.vkeys, "vid").select(
        "skey", F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon")
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable mode: md5-derived hashing (functions/portable_hash.py)
    # reproduced verbatim by _minhash_sql(), so the ENTIRE pipeline —
    # shingles, 64 affine minhash perms, 16-band LSH, capped bucket
    # pairing, signature-similarity verify, CC clustering — is
    # value-checked against DuckDB, not just row-counted
    from essentials_spark.dedup.minhash import minhash_dedup

    return minhash_dedup(_docs(spark, sf_dir), shingle_k=3, min_sim=0.5, portable=True).select(
        "id", "cluster", "keep"
    )


def q_tool_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-pair pointwise mutual information over conversations
    (io/transcripts.tool_cooccurrence_pmi): exact BIGINT co-occurrence
    counts, one ln rounded to 1e-6 — the tool-affinity table behind
    bundle suggestions."""
    from essentials_spark.io.transcripts import tool_cooccurrence_pmi

    return tool_cooccurrence_pmi(_transcripts(spark, sf_dir)).select(
        "tool_a", "tool_b", "n_a", "n_b", "n_ab", "pmi_e6"
    )


CHUNK_LEN, CHUNK_OVERLAP = 16, 4


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (ops/sample.assign_split):
    md5-bucket thresholds 90/5/5 — a pure function of the key, so a
    growing corpus never moves an old document between splits (the
    leakage-safety invariant); replayed exactly."""
    from essentials_spark.ops.sample import assign_split

    return assign_split(_docs(spark, sf_dir)).select("doc_id", "split")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training chunks with overlap (text/packing.
    chunk_documents, 16-token windows, 4-token overlap): integer
    window geometry + one explode, no shuffle; the oracle replays
    boundaries AND the reassembled chunk text."""
    from essentials_spark.text.packing import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), max_len=CHUNK_LEN, overlap=CHUNK_OVERLAP
    ).select("doc_id", "chunk_idx", "start_tok", "n_toks", "chunk_text")


TNS_FANOUTS, TNS_ROOT_MOD, TNS_CAP = (3, 2), 23, 8


def q_temporal_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting neighborhood sampling (sampling/walks.
    temporal_neighbor_sample): for a deterministic ~1/23 subset of
    turns, gather up to (3, 2) most-recent INFLUENCERS per hop — edges
    pointing at the vertex with timestamps strictly before the hop's
    bound, the sampled edge's own time bounding the next hop (TGN
    loader semantics). Adjacency pre-capped to each vertex's 8 most
    recent edges (the temporal hub cap); all ranking keys integer/
    string, the oracle replays caps, bounds, and top-k exactly."""
    from essentials_spark.functions.portable_hash import md5_int60
    from essentials_spark.io.transcripts import temporal_edges
    from essentials_spark.sampling import temporal_neighbor_sample

    t = _transcripts(spark, sf_dir)
    te = temporal_edges(t)
    rev = te.select(
        F.col("dst_key").alias("src_key"), F.col("src_key").alias("dst_key"), "ets_us"
    )
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    rk = F.concat(
        F.lit("turn|"), F.col("conv_id"), F.lit(":"), F.lpad(F.col("turn_idx").cast("string"), 6, "0")
    )
    # bound = the instant just AFTER the turn: its incoming influence
    # edges carry exactly the turn's own timestamp, and the library's
    # comparison is strictly-before (proper TGN semantics)
    roots = t.select(
        rk.alias("root_key"),
        (F.timestamp_diff("MICROSECOND", epoch0, F.col("ts")) + F.lit(1)).alias("t0_us"),
    ).filter(
        F.pmod(md5_int60(F.concat(F.col("root_key"), F.lit(":tns"))), F.lit(TNS_ROOT_MOD)) == 0
    )
    out = temporal_neighbor_sample(rev, roots, list(TNS_FANOUTS), recent_cap=TNS_CAP)
    return out.select("root_key", "hop", "src_key", "dst_key", "ets_us")


def _tns_sql() -> str:
    from essentials_spark.functions.portable_hash import sql_md5_int60

    rootp = sql_md5_int60("root_key || ':tns'")
    parts = [
        _PRELUDE,
        # reversed time-stamped influence edges (tte, inverted)
        f"tte AS ("
        f" SELECT src, dst, ets FROM ("
        f"  SELECT {_TURNKEY} AS src,"
        f"   lead({_TURNKEY}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst,"
        f"   lead(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS ets"
        f"  FROM tr) WHERE dst IS NOT NULL"
        f" UNION ALL"
        f" SELECT {_TURNKEY}, 'tool|' || tool, epoch_us(ts) FROM tr WHERE tool IS NOT NULL"
        f" UNION ALL"
        f" SELECT 'tool|' || tool, {_TURNKEY}, epoch_us(ts) FROM tr WHERE tool IS NOT NULL)",
        "tnadj AS (SELECT src_key, dst_key, CAST(ets_us AS BIGINT) AS ets_us FROM ("
        "  SELECT dst AS src_key, src AS dst_key, ets AS ets_us,"
        "   row_number() OVER (PARTITION BY dst ORDER BY ets DESC, src) AS rk FROM tte)"
        f" WHERE rk <= {TNS_CAP})",
        f"tnroots AS (SELECT root_key, CAST(t0 AS BIGINT) AS bound_us FROM ("
        f"  SELECT {_TURNKEY} AS root_key, epoch_us(ts) + 1 AS t0 FROM tr)"
        f" WHERE ({rootp} % {TNS_ROOT_MOD}) = 0)",
        "tnf0 AS (SELECT root_key, root_key AS src_key, bound_us FROM tnroots)",
    ]
    for hop, f in enumerate(TNS_FANOUTS, start=1):
        parts.append(
            f"tns{hop} AS (SELECT root_key, src_key, dst_key, ets_us FROM ("
            f"  SELECT fr.root_key, fr.src_key, a.dst_key, a.ets_us,"
            f"   row_number() OVER (PARTITION BY fr.root_key, fr.src_key, fr.bound_us"
            f"    ORDER BY a.ets_us DESC, a.dst_key) AS rk"
            f"  FROM tnf{hop - 1} fr JOIN tnadj a USING (src_key)"
            f"  WHERE a.ets_us < fr.bound_us) WHERE rk <= {f})"
        )
        parts.append(
            f"tnf{hop} AS (SELECT DISTINCT root_key, dst_key AS src_key,"
            f" ets_us AS bound_us FROM tns{hop})"
        )
    sel = " UNION ALL ".join(
        f"SELECT root_key, CAST({h} AS INTEGER) AS hop, src_key, dst_key, ets_us FROM tns{h}"
        for h in range(1, len(TNS_FANOUTS) + 1)
    )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT DISTINCT root_key, hop, src_key, dst_key, ets_us FROM ({sel})"


SAMPLE_K = 40


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row acceptance sampling (ops/sample.importance_sample):
    keep each document with probability = its quality score — the
    quality-proportional curation sweep, decided by the portable md5
    bucket so the selection is deterministic and exactly replayed."""
    from essentials_spark.ops.sample import importance_sample
    from essentials_spark.text.analysis import quality_score

    scored = quality_score(_docs(spark, sf_dir)).select(
        "doc_id", F.round(F.col("quality") * 1e6).cast("long").alias("rate_ppm")
    )
    return importance_sample(scored, "rate_ppm").select("doc_id", "rate_ppm")


def q_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-sample without replacement (ops/sample.
    sample_fixed_k): the k smallest md5-int60 key hashes — distributed
    top-k (per-partition heaps + k-row merge), never a global sort;
    the selection is a pure function of the key set."""
    from essentials_spark.ops.sample import sample_fixed_k

    return sample_fixed_k(_docs(spark, sf_dir), SAMPLE_K).select("doc_id", "lang")


BPE_MERGES = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction over the corpus word-frequency table
    (text/bpe.bpe_train): per round, integer pair counts weighted by
    word frequency, min-pair tie-breaks, and a non-overlapping padded
    replace whose left-to-right semantics are identical in Spark and
    DuckDB — the oracle replays all 6 merge rounds bit-for-bit. State
    is the vocabulary, never the corpus."""
    from essentials_spark.text.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), merges=BPE_MERGES).select(
        "merge_idx", "left", "right", "pair_cnt"
    )


def _bpe_parts(merges: int = BPE_MERGES) -> list[str]:
    parts = [
        "bw0 AS (SELECT CAST(count(*) AS BIGINT) AS cnt,"
        " array_to_string(string_split(word, ''), ' ') AS s FROM ("
        "   SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)"
        " WHERE length(word) > 0 GROUP BY word)"
    ]
    for r in range(merges):
        parts.append(
            f"bp{r} AS (SELECT p[1] AS l, p[2] AS r2, CAST(sum(cnt) AS BIGINT) AS c FROM ("
            f"   SELECT cnt, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS p"
            f"   FROM (SELECT cnt, string_split(s, ' ') AS a FROM bw{r}))"
            f" GROUP BY 1, 2)"
        )
        parts.append(
            f"bwin{r} AS (SELECT l, r2, c FROM bp{r} ORDER BY c DESC, l || ' ' || r2 LIMIT 1)"
        )
        parts.append(
            # doubled-space form mirrors text/bpe.bpe_train: one
            # replace merges EVERY occurrence this round, collapse
            # restores single-space separators
            f"bw{r + 1} AS (SELECT w.cnt,"
            f" trim(replace(replace(' ' || replace(w.s, ' ', '  ') || ' ',"
            f" ' ' || x.l || '  ' || x.r2 || ' ',"
            f" ' ' || x.l || x.r2 || ' '), '  ', ' ')) AS s FROM bw{r} w CROSS JOIN bwin{r} x)"
        )
    return parts


def _bpe_sql(merges: int = BPE_MERGES) -> str:
    sel = " UNION ALL ".join(
        f'SELECT CAST({r} AS BIGINT) AS merge_idx, l AS "left", r2 AS "right",'
        f" c AS pair_cnt FROM bwin{r}"
        for r in range(merges)
    )
    body = ",\n".join(_bpe_parts(merges))
    return f"WITH {body}\n{sel}"


def _bpe_encode_sql(merges: int = BPE_MERGES) -> str:
    """Replay training (bwin0..n winners), then the per-word encode
    cascade over every doc: char-space each word, apply each winner
    with the same doubled-space simultaneous rewrite, count tokens."""
    parts = list(_bpe_parts(merges))
    parts.append(
        "encw0 AS (SELECT doc_id,"
        " array_to_string(string_split(word, ''), ' ') AS s FROM ("
        "   SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word FROM documents)"
        " WHERE length(word) > 0)"
    )
    for r in range(merges):
        parts.append(
            f"encw{r + 1} AS (SELECT w.doc_id,"
            f" trim(replace(replace(' ' || replace(w.s, ' ', '  ') || ' ',"
            f" ' ' || x.l || '  ' || x.r2 || ' ',"
            f" ' ' || x.l || x.r2 || ' '), '  ', ' ')) AS s"
            f" FROM encw{r} w CROSS JOIN bwin{r} x)"
        )
    parts.append(
        f"encagg AS (SELECT doc_id,"
        f" CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_tokens,"
        f" CAST(count(*) AS BIGINT) AS n_words FROM encw{merges} GROUP BY doc_id)"
    )
    body = ",\n".join(parts)
    # LEFT JOIN keeps zero-word docs as (0, 0), matching Spark
    return (
        f"WITH {body}\n"
        "SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,"
        " coalesce(a.n_words, 0) AS n_words"
        " FROM documents d LEFT JOIN encagg a USING (doc_id)"
    )


SKETCH_M, CM_DEPTH, CM_WIDTH = 4096, 4, 1024


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct estimate (ops/sketch.linear_count) of
    events.user_id: md5-int60 buckets make the sketch a pure function
    of the input SET — same estimate at any parallelism, replayed
    exactly by the oracle (-m·ln(V/m) over identical integers; the
    one ln/round pair is the only FP step)."""
    from essentials_spark.ops.sketch import linear_count

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return linear_count(ev, "user_id", m=SKETCH_M)


def q_sketch_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (ops/sketch.count_min_table/_query)
    over the corpus token stream: the depth×width matrix is ONE
    groupBy (constant-size output, a mergeable monoid — streaming/
    incremental safe), point queries broadcast it. md5-salted rows
    make every cell, and thus every estimate, oracle-exact; the
    conservative-overestimate property (est >= true count) is what
    heavy-hitter screens rely on."""
    from essentials_spark.ops.sketch import count_min_query, count_min_table

    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    )
    table = count_min_table(toks, "token", depth=CM_DEPTH, width=CM_WIDTH)
    out = count_min_query(table, toks, "token", depth=CM_DEPTH, width=CM_WIDTH)
    return out.select("token", "est")


SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (io/transcripts.sessionize) of
    the raw event stream: a session breaks where a user's inter-event
    gap exceeds 30 minutes. Integer epoch-µs gaps, id tie-breaks —
    replayed exactly; one window pass partitioned by user (per-user
    state, nothing global)."""
    from essentials_spark.io.transcripts import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_minutes=SESSION_GAP_MIN).select(
        "event_id", "user_id", "session_idx"
    )


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quality deciles via counting sort (ops/quantiles.
    bounded_quantiles): quality·1e6 is a bounded integer, so the
    order statistic is one distinct-value-scale aggregate + an
    ordered cumulative window over ≤1e6 rows — never a total sort.
    percentile_disc semantics, pure integer arithmetic; the oracle
    replays rank thresholds and values exactly."""
    from essentials_spark.ops.quantiles import bounded_quantiles
    from essentials_spark.text.analysis import quality_score

    q = quality_score(_docs(spark, sf_dir)).select(
        F.round(F.col("quality") * 1e6).cast("long").alias("q_ppm")
    )
    return bounded_quantiles(q, "q_ppm")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution by QUALITY (dedup/minhash.
    dedup_keep_best): the minhash_dedup clusters re-resolved to keep
    the highest-quality member per cluster (ties to the smallest id)
    instead of the min-id default — the keep-the-best-copy policy a
    curation pipeline wants. Scores are quality·1e6 BIGINTs, so the
    argmax is exact; the oracle replays the full minhash pipeline plus
    the quality expression plus the argmax."""
    from essentials_spark.dedup.minhash import dedup_keep_best, minhash_dedup
    from essentials_spark.text.analysis import quality_score

    docs = _docs(spark, sf_dir)
    clusters = minhash_dedup(docs, shingle_k=3, min_sim=0.5, portable=True).select(
        F.col("id").alias("doc_id"), "cluster"
    )
    scores = quality_score(docs).select(
        "doc_id", F.round(F.col("quality") * 1e6).cast("long").alias("q_ppm")
    )
    out = dedup_keep_best(
        clusters, scores, id_col="doc_id", cluster_col="cluster", score_col="q_ppm"
    )
    return out.select("doc_id", "cluster", "keep")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.dedup.simhash import simhash

    return simhash(_docs(spark, sf_dir), portable=True).select("id", "simhash")


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from essentials_spark.ann.cosine import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = lsh_topk(
        emb.filter(F.col("vec_id") < ANN_NQ), emb, k=ANN_K, bits=10, tables=6, dim=64,
        portable=True,
    )
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("sim") * 1e6).cast("long").alias("sim_e6"), "rank"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse quantizer (fixed deterministic codebook — exactly
    # reproduced by _annivf_sql); the complementary scale path to LSH
    from essentials_spark.ann.cosine import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(
        emb.filter(F.col("vec_id") < ANN_NQ), emb, k=ANN_K, n_cells=16, nprobe=4, dim=64
    )
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("sim") * 1e6).cast("long").alias("sim_e6"), "rank"
    )


def q_embed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs in portable literal-plane mode:
    the full dedup pipeline (LSH banding -> bucket self-join -> exact
    cosine verify) with every bucket and similarity value reproduced by
    _embpairs_sql in DuckDB. bucket_cap=None = documented exact recall
    within buckets (the oracle mode; the capped chain-pairing variant
    is the scale path, pytest-gated)."""
    from essentials_spark.dedup.embedding import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_cosine_pairs(
        emb, min_sim=EMB_MIN_SIM, bits=10, tables=6, bucket_cap=None, portable=True, dim=64
    )
    return out.select(
        "a", "b", F.round(F.col("sim") * 1e6).cast("long").alias("sim_e6")
    )


def q_result_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result sink gate (SURVEY §2.2 output sink; the reference writes
    final ranks out after enact, examples/algorithms/pr/pr.cu:68-70):
    write a query result to parquet, RE-READ it, and return the
    re-read DataFrame; the oracle (shared with the sunk query) then
    value-checks the round-tripped rows — proving schema and values
    survive the sink, not just the query. Sinks the per-vertex
    triangle counts (10k rows, mixed string/long schema) rather than
    re-running the 20-superstep pagerank: the sink is what is under
    test, so the cheapest non-trivial upstream keeps the gate sharp
    and the suite inside the driver budget."""
    import tempfile

    path = tempfile.mkdtemp(prefix="essentials_sink_") + "/triangles"
    q_triangles(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def q_streaming_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parity gate: the stateless incremental edge
    derivation (streaming/ingest.incremental_key_edges) run as ONE
    availableNow micro-batch pass over the same transcript rows the
    batch path sees, returning the sink's contents. Shares the
    edge_derivation oracle — incremental == batch, driver-checked
    (previously only a pytest invariant)."""
    import tempfile

    from essentials_spark.streaming.ingest import run_edges_to_parquet

    base = tempfile.mkdtemp(prefix="essentials_stream_")
    _transcripts(spark, sf_dir).write.mode("overwrite").parquet(f"{base}/in")
    run_edges_to_parquet(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    return spark.read.parquet(f"{base}/out").select("src_key", "dst_key")


def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact n-gram Jaccard verify step over a bounded candidate set
    # (all pairs of the first 25 doc ids — 300 pairs)
    from essentials_spark.dedup.jaccard import ngram_jaccard_verify

    docs = _docs(spark, sf_dir)
    ids = docs.select(F.col("doc_id").alias("a")).filter(F.col("a") < 25)
    pairs = ids.crossJoin(ids.select(F.col("a").alias("b"))).filter(F.col("a") < F.col("b"))
    out = ngram_jaccard_verify(pairs, docs, n=3)
    return out.select("a", "b", F.round(F.col("jaccard") * 1e6).cast("long").alias("jaccard_e6"))


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end corpus curation: quality gate -> language gate ->
    # exact dedup -> minhash near-dedup; audit row per document
    from essentials_spark.text.curate import curate_corpus

    out = curate_corpus(
        _docs(spark, sf_dir), min_quality=0.6, langs=("en",), portable=True
    )
    return out.select("doc_id", "quality", "lang_pred", "kept", "reason")


WALK_LEN = 4  # random-walk steps gated at sf0.01 (5 rows per walker)
NS_FANOUTS = (3, 2)  # GraphSAGE-style hop fanouts
NS_ROOT_MOD = 37  # ~1/37 of vertices become sample roots
AA_MIN_CN = 2  # link-prediction gate: pairs with >= 2 common neighbors


def _sym_vid_edges(kg) -> DataFrame:
    from essentials_spark.graph.derive import canonicalize_edges

    return canonicalize_edges(kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded random walks (sampling/walks.py): one
    walker per vertex, WALK_LEN steps over the symmetrized graph; every
    choice is the portable md5 hash of (walker, step) mod degree, so
    the oracle SQL replays the identical trajectory (vid order == skey
    order by construction, graph/keyed.py)."""
    from essentials_spark.sampling import random_walks

    kg = _keyed_graph(spark, sf_dir)
    start = kg.vkeys.select(F.concat(F.col("skey"), F.lit("#0")).alias("wid"), "vid")
    walks = random_walks(_sym_vid_edges(kg), start, length=WALK_LEN)
    return walks.join(kg.vkeys, "vid").select("wid", "step", "skey")


def q_random_walks_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract on the packed-CSR walk kernel
    (graph/csr_blocks.csr_walk_step): the choice hash stays JVM-side,
    the step is one vectorized gather per bucket — fourth A/B-gated CSR
    kernel after pagerank/cc/tc."""
    from essentials_spark.sampling import random_walks

    kg = _keyed_graph(spark, sf_dir)
    start = kg.vkeys.select(F.concat(F.col("skey"), F.lit("#0")).alias("wid"), "vid")
    walks = random_walks(_sym_vid_edges(kg), start, length=WALK_LEN, kernel="csr")
    return walks.join(kg.vkeys, "vid").select("wid", "step", "skey")


N2V_W = (1, 4, 2)  # (w_return, w_common, w_far) — integer node2vec biases
# hub cap: sf0.01's five tool hubs have degree ~650-690 vs <=3 for all
# turn vertices, so 64 exercises BOTH branches of the capped walk spec
# (first-order point probe at hubs, biased pick elsewhere)
N2V_CAP = 64


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order biased walks (sampling/walks.node2vec_walks):
    integer (return, common, far) weights over dst-ascending
    candidates, cumulative pick = h % total — exact integer arithmetic
    the oracle replays."""
    from essentials_spark.sampling import node2vec_walks

    kg = _keyed_graph(spark, sf_dir)
    start = kg.vkeys.select(F.concat(F.col("skey"), F.lit("@0")).alias("wid"), "vid")
    walks = node2vec_walks(
        _sym_vid_edges(kg), start, length=WALK_LEN,
        w_return=N2V_W[0], w_common=N2V_W[1], w_far=N2V_W[2], max_expand=N2V_CAP,
    )
    return walks.join(kg.vkeys, "vid").select("wid", "step", "skey")


def q_node2vec_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_node2vec on the two-pass packed-CSR kernels
    (csr_node2vec_expand + csr_node2vec_pick) — fifth A/B-gated CSR
    kernel family; shares _node2vec_sql()."""
    from essentials_spark.sampling import node2vec_walks

    kg = _keyed_graph(spark, sf_dir)
    start = kg.vkeys.select(F.concat(F.col("skey"), F.lit("@0")).alias("wid"), "vid")
    walks = node2vec_walks(
        _sym_vid_edges(kg), start, length=WALK_LEN,
        w_return=N2V_W[0], w_common=N2V_W[1], w_far=N2V_W[2], max_expand=N2V_CAP,
        kernel="csr",
    )
    return walks.join(kg.vkeys, "vid").select("wid", "step", "skey")


def q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style bounded-fanout 2-hop neighborhood samples
    (sampling/walks.neighbor_sample) from a deterministic ~1/37 root
    subset, over the STRING-keyed symmetrized edge set (the oracle
    operates in the same key space)."""
    from essentials_spark.functions.portable_hash import md5_int60
    from essentials_spark.sampling import neighbor_sample

    kg = _keyed_graph(spark, sf_dir)
    ke = kg.key_edges.select(
        F.col("src_key"), F.col("dst_key")
    ).unionByName(
        kg.key_edges.select(F.col("dst_key").alias("src_key"), F.col("src_key").alias("dst_key"))
    ).filter(F.col("src_key") != F.col("dst_key")).distinct()
    roots = kg.vkeys.select(F.col("skey").alias("root_key")).filter(
        F.pmod(md5_int60(F.concat(F.col("root_key"), F.lit(":root"))), F.lit(NS_ROOT_MOD)) == 0
    )
    return neighbor_sample(ke, roots, list(NS_FANOUTS), seed="ns")


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores (algos/linkpred.py): non-adjacent pairs
    with >= AA_MIN_CN common neighbors, with common-neighbor count,
    Jaccard, and Adamic-Adar columns (ppm-rounded floats)."""
    from essentials_spark.algos.linkpred import linkpred_scores

    kg = _keyed_graph(spark, sf_dir)
    scores = linkpred_scores(kg.graph, min_cn=AA_MIN_CN)
    return (
        scores.join(kg.vkeys.select(F.col("vid").alias("u"), F.col("skey").alias("src_key")), "u")
        .join(kg.vkeys.select(F.col("vid").alias("w"), F.col("skey").alias("dst_key")), "w")
        .select(
            "src_key",
            "dst_key",
            F.col("cn").cast("long").alias("cn"),
            F.round(F.col("jac") * 1e6).cast("long").alias("jac_ppm"),
            F.round(F.col("aa") * 1e6).cast("long").alias("aa_ppm"),
        )
    )


def q_walk_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts from the walk corpus
    (sampling/walks.walk_contexts, window=2) — the word2vec training
    table a DeepWalk pipeline materializes."""
    from essentials_spark.sampling import random_walks, walk_contexts

    kg = _keyed_graph(spark, sf_dir)
    start = kg.vkeys.select(F.concat(F.col("skey"), F.lit("#0")).alias("wid"), "vid")
    walks = random_walks(_sym_vid_edges(kg), start, length=WALK_LEN)
    ctx = walk_contexts(walks, window=2)
    return (
        ctx.join(kg.vkeys.select(F.col("vid").alias("center"), F.col("skey").alias("center_key")), "center")
        .join(kg.vkeys.select(F.col("vid").alias("ctx"), F.col("skey").alias("ctx_key")), "ctx")
        .select("center_key", "ctx_key", "cnt")
    )


NEG_K = 2


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic word2vec negative sampling (sampling/walks.
    negative_samples) over the skip-gram pairs of the walk corpus:
    k=2 uniform hash-drawn negatives per (center, ctx) pair, mapped
    through the dense rank table (vid = rank of key), positives bumped
    off branch-free. The full chain — walks, contexts, draws, bumps —
    replays in SQL."""
    from essentials_spark.sampling import negative_samples, random_walks, walk_contexts

    kg = _keyed_graph(spark, sf_dir)
    start = kg.vkeys.select(F.concat(F.col("skey"), F.lit("#0")).alias("wid"), "vid")
    walks = random_walks(_sym_vid_edges(kg), start, length=WALK_LEN)
    ctx = walk_contexts(walks, window=2)
    pairs = (
        ctx.join(kg.vkeys.select(F.col("vid").alias("center"), F.col("skey").alias("center_key")), "center")
        .join(kg.vkeys.select(F.col("vid").alias("ctx"), F.col("skey").alias("ctx_key")), "ctx")
        .select("center_key", "ctx_key")
    )
    return negative_samples(pairs, kg.vkeys, k=NEG_K).select(
        "center_key", "ctx_key", "neg_idx", "neg_key"
    )


def _negative_samples_sql(k: int = NEG_K, window: int = 2) -> str:
    from essentials_spark.functions.portable_hash import sql_md5_int60

    parts, union = _walks_parts()
    leads = ", ".join(
        f"lead(cur, {d}) OVER (PARTITION BY wid ORDER BY step) AS c{d}"
        for d in range(1, window + 1)
    )
    parts.append(f"wt AS ({union})")
    parts.append(f"led AS (SELECT cur, {leads} FROM wt)")
    pair_selects = []
    for d in range(1, window + 1):
        pair_selects.append(f"SELECT cur AS center, c{d} AS ctx FROM led WHERE c{d} IS NOT NULL")
        pair_selects.append(f"SELECT c{d} AS center, cur AS ctx FROM led WHERE c{d} IS NOT NULL")
    parts.append("ctxp AS (" + " UNION ALL ".join(pair_selects) + ")")
    parts.append("cps AS (SELECT center, ctx FROM ctxp GROUP BY center, ctx)")
    parts.append("rankv AS (SELECT vkey, row_number() OVER (ORDER BY vkey) - 1 AS vid FROM verts)")
    parts.append("nnv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM verts)")
    draw_parts = []
    for j in range(k):
        hj = sql_md5_int60(f"center || ':' || ctx || ':{j}:neg'")
        draw_parts.append(
            f"SELECT center, ctx, {j} AS neg_idx, ({hj} % n) AS raw"
            f" FROM cps CROSS JOIN nnv"
        )
    draws = " UNION ALL ".join(draw_parts)
    parts.append(f"drw AS ({draws})")
    parts.append(
        "bmp AS (SELECT d.center, d.ctx, d.neg_idx,"
        " CASE WHEN d.raw <> cv.vid AND d.raw <> xv.vid THEN d.raw"
        "      WHEN (d.raw + 1) % n.n <> cv.vid AND (d.raw + 1) % n.n <> xv.vid THEN (d.raw + 1) % n.n"
        "      ELSE (d.raw + 2) % n.n END AS neg_vid"
        " FROM drw d JOIN rankv cv ON cv.vkey = d.center"
        " JOIN rankv xv ON xv.vkey = d.ctx CROSS JOIN nnv n)"
    )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT b.center AS center_key, b.ctx AS ctx_key,"
        f" CAST(b.neg_idx AS INTEGER) AS neg_idx, nv.vkey AS neg_key"
        f" FROM bmp b JOIN rankv nv ON nv.vid = b.neg_vid"
    )


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the membership graph:
    lcc(v) = 2·tc(v) / (deg(v)·(deg(v)−1)), 0 below degree 2 — a pure
    derivation of the per-vertex triangle counts + degrees (one extra
    map stage on top of the TC plan; graph-quality feature for
    curation)."""
    from essentials_spark.algos import triangle_count
    from essentials_spark.graph.derive import canonicalize_edges

    kg = _keyed_graph(spark, sf_dir, membership=True)
    per_vertex, _total = triangle_count(kg.graph)
    sym = canonicalize_edges(kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
    return (
        kg.vkeys.join(per_vertex, "vid", "left")
        .join(deg, "vid", "left")
        .select(
            "skey",
            F.coalesce(F.col("tc"), F.lit(0)).cast("long").alias("tc"),
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                F.round(
                    (2.0 * F.coalesce(F.col("tc"), F.lit(0)))
                    / (F.col("deg") * (F.col("deg") - 1))
                    * 1e6
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("long")
            .alias("lcc_ppm"),
        )
    )


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity = 3·triangles / wedges (1-row summary of
    the membership graph) — exact integer numerator/denominator, one
    division, ppm-rounded."""
    from essentials_spark.algos import triangle_count
    from essentials_spark.graph.derive import canonicalize_edges

    kg = _keyed_graph(spark, sf_dir, membership=True)
    _per_vertex, total = triangle_count(kg.graph)
    sym = canonicalize_edges(kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    wedges = (
        sym.groupBy("src").agg(F.count("*").alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
        .collect()[0][0]
    )
    import math

    corner_total = int(total)  # = 3 x triangles
    n_wedges = int(wedges)
    # half-away-from-zero (DuckDB round semantics; Python round is
    # banker's) — positive ratio, so floor(x + 0.5)
    ratio_ppm = int(math.floor(corner_total / n_wedges * 1e6 + 0.5)) if n_wedges else 0
    return spark.createDataFrame(
        [(corner_total // 3, n_wedges, ratio_ppm)],
        "n_triangles long, n_wedges long, transitivity_ppm long",
    )


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the CONVERSATION partition over the
    symmetrized transcript graph (algos/graphstats.py): community of a
    turn vertex = its conversation, tool vertices are singletons.
    Integer-exact algebra — q_num = Σ_c (A_c·2m − D_c²) is a BIGINT
    sum, order-independent; only q_ppm's one division is FP (identical
    IEEE sequence in the oracle)."""
    from essentials_spark.algos.graphstats import modularity

    kg, sg = _sym_graph(spark, sf_dir)
    labels = kg.vkeys.select(
        "vid",
        F.when(
            F.col("skey").startswith("turn|"), F.substring_index("skey", ":", 1)
        )
        .otherwise(F.col("skey"))
        .alias("label"),
    )
    return modularity(sg.edges, labels)


LOUVAIN_ROUNDS = 4


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain phase-1 community moves (algos/louvain.py), SEMI-
    synchronous half-schedule (same md5-parity convention as
    label_propagation_semi — sync moves 2-cycle on the chain-dominated
    transcript graph exactly like sync LP). Every move maximizes the
    INTEGER modularity-gain score 2m·e_ic − k_i·(D_c − k_i·[own]),
    ties to the smallest label, so the oracle replays the full
    4-round schedule bit-for-bit in key space (vids are rank-of-skey:
    min-vid == min-skey)."""
    from essentials_spark.algos.louvain import louvain

    kg, sg = _sym_graph(spark, sf_dir)
    par = kg.vkeys.select(
        "vid",
        (F.ascii(F.substring(F.md5(F.col("skey")), 1, 1)) % 2).cast("int").alias("par"),
    )
    labels = louvain(sg, rounds=LOUVAIN_ROUNDS, mode="semi", semi_parity=par)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("community"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "community")


LOUVAIN_MIS_ROUNDS = 6


def q_louvain_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIS-scheduled Louvain phase-1 (algos/louvain.py mode='mis'):
    each round moves the hash-local-minima independent set of a fresh
    per-round md5 hash — color-schedule chase-freedom (movers are
    pairwise non-adjacent) at ~n/3 movers per round with no coloring
    precompute. Hash = md5-int60(vkey || ':' || round), ties on the
    key (order-isomorphic to vids), so the whole schedule replays
    bit-for-bit."""
    from essentials_spark.algos.louvain import louvain
    from essentials_spark.functions.portable_hash import md5_int60

    kg, sg = _sym_graph(spark, sf_dir)

    def mis_hash(verts: DataFrame, r: int) -> DataFrame:
        return verts.join(kg.vkeys, "vid").select(
            "vid", md5_int60(F.concat(F.col("skey"), F.lit(f":{r}"))).alias("h")
        )

    labels = louvain(sg, rounds=LOUVAIN_MIS_ROUNDS, mode="mis", mis_hash=mis_hash)
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("community"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "community")


LOUVAIN_INC_ROUNDS = 4


def q_louvain_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental community maintenance (algos/louvain.py
    init_labels): the edge table arrives in two micro-batches (split
    by md5 parity of the canonical key pair — both directions of an
    undirected edge land in the same batch); batch 1 is solved with
    MIS-scheduled moves, batch 2's union graph WARM-STARTS from the
    previous assignment. Degrees/2m are per-phase, so stale
    communities re-evaluate exactly where the batch changed mass. The
    oracle replays both phases bit-for-bit (salted hash schedules)."""
    from essentials_spark.algos.louvain import louvain
    from essentials_spark.functions.portable_hash import md5_int60
    from essentials_spark.graph.derive import Graph

    kg, sg = _sym_graph(spark, sf_dir)
    sk_s = kg.vkeys.select(F.col("vid").alias("src"), F.col("skey").alias("sk_s"))
    sk_d = kg.vkeys.select(F.col("vid").alias("dst"), F.col("skey").alias("sk_d"))
    pair = F.concat(
        F.least("sk_s", "sk_d"), F.lit(">"), F.greatest("sk_s", "sk_d")
    )
    e_a = (
        sg.edges.join(sk_s, "src").join(sk_d, "dst")
        .filter(F.pmod(md5_int60(pair), F.lit(2)) == 0)
        .select("src", "dst")
    )
    g_a = Graph(vertices=sg.vertices, edges=e_a)

    def mk_hash(salt: str):
        def mis_hash(verts: DataFrame, r: int) -> DataFrame:
            return verts.join(kg.vkeys, "vid").select(
                "vid",
                md5_int60(F.concat(F.col("skey"), F.lit(f":{salt}{r}"))).alias("h"),
            )

        return mis_hash

    l_a = louvain(g_a, rounds=LOUVAIN_INC_ROUNDS, mode="mis", mis_hash=mk_hash("a"))
    l_b = louvain(
        sg, rounds=LOUVAIN_INC_ROUNDS, mode="mis", mis_hash=mk_hash("b"), init_labels=l_a
    )
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("community"))
    return l_b.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "community")


def q_louvain2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full two-level Louvain (algos/louvain.louvain_multilevel):
    phase-1 moves, phase-2 coarsening into a WEIGHTED super-graph
    (self-loops carry internal mass; Σw and 2m conserved exactly —
    every level's scores stay integers with the same 2m), the same
    semi-sync move rounds on the super-graph, composed back down.
    Coarse parity = md5 of the community's key, so the whole two-level
    schedule replays bit-for-bit in key space."""
    from essentials_spark.algos.louvain import louvain_multilevel

    kg, sg = _sym_graph(spark, sf_dir)
    md5_par = (F.ascii(F.substring(F.md5(F.col("skey")), 1, 1)) % 2).cast("int").alias("par")
    par0 = kg.vkeys.select("vid", md5_par)

    def coarse_par(verts: DataFrame) -> DataFrame:
        return verts.join(kg.vkeys, "vid").select("vid", md5_par)

    labels = louvain_multilevel(
        sg,
        level_rounds=(LOUVAIN_ROUNDS, LOUVAIN_ROUNDS),
        mode="semi",
        semi_parity=par0,
        coarse_parity=coarse_par,
    )
    lab_keys = kg.vkeys.select(F.col("vid").alias("label"), F.col("skey").alias("community"))
    return labels.join(kg.vkeys, "vid").join(lab_keys, "label").select("skey", "community")


def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution Gini coefficient of the symmetrized
    transcript graph (algos/graphstats.degree_gini) — hub
    concentration via the counting-sort shape (distinct-degree-scale
    cumulative window, closed-form rank sums; exact BIGINT
    numerator/denominator, one rounded division)."""
    from essentials_spark.algos.graphstats import degree_gini

    _kg, sg = _sym_graph(spark, sf_dir)
    return degree_gini(sg.edges)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson degree-degree correlation) of the
    symmetrized transcript graph — the six Pearson sums are exact
    BIGINTs, r is one final double expression (graphstats.py)."""
    from essentials_spark.algos.graphstats import degree_assortativity

    _kg, sg = _sym_graph(spark, sf_dir)
    return degree_assortativity(sg.edges)


# stratified-sampling gate rates (ppm): boost en, trim de, floor rest
SAMPLE_RATES_PPM = {"en": 600_000, "de": 250_000}
SAMPLE_DEFAULT_PPM = 100_000

# mixture-sampling gate: 15k-token budget split en/de/zh — de's target
# (4.5k) exceeds its corpus mass (~3.5k at sf0.01), exercising the
# clamp path; es/fr have zero share, exercising the drop path
MIX_BUDGET_TOKENS = 15_000
MIX_TARGETS_PPM = {"en": 500_000, "de": 300_000, "zh": 200_000}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted data-mixture sampling (ops/sample.mixture_sample): one
    group-scale aggregate derives per-language keep rates from a token
    budget and target shares via pure integer floor arithmetic
    (rate = min(1e6, budget·share÷1e6·1e6÷tokens)); selection reuses
    the portable md5-int60 bucket. The oracle replays rates AND
    selection bit-for-bit."""
    from essentials_spark.ops.sample import mixture_sample
    from essentials_spark.text.analysis import token_stats

    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "lang").join(
        token_stats(docs).select("doc_id", "n_tokens"), "doc_id"
    )
    kept = mixture_sample(d, MIX_BUDGET_TOKENS, MIX_TARGETS_PPM)
    return kept.select("doc_id", "lang", "n_tokens", "rate_ppm", "bucket")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (ops/sample.py): keep a
    document iff md5_int60('lang|doc_id') % 1e6 falls under its
    language's ppm rate. No RNG, no per-partition state — the same
    rows are selected at any parallelism, and the oracle replays the
    selection bit-for-bit via the portable md5-int60 convention."""
    from essentials_spark.ops.sample import sample_bucket, stratified_sample

    docs = _docs(spark, sf_dir)
    kept = stratified_sample(
        docs,
        SAMPLE_DEFAULT_PPM,
        key_col="doc_id",
        group_col="lang",
        group_rates_ppm=SAMPLE_RATES_PPM,
    )
    key = F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string"))
    return kept.select("doc_id", "lang", sample_bucket(key).alias("bucket"))


HARM_SOURCES = 4  # bounded multi-source harmonic sample


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival temporal reachability from the canonical turn
    source over transcript influence edges (io/transcripts.
    temporal_edges: turn→next-turn at the next turn's ts, turn↔tool at
    the turn's ts — cross-conversation influence flows through shared
    tools, time-respecting). Integer-microsecond arrivals: FP-free."""
    from essentials_spark.algos import temporal_reachability
    from essentials_spark.io.transcripts import temporal_edges

    kg = _keyed_graph(spark, sf_dir)
    te = temporal_edges(_transcripts(spark, sf_dir))
    tev = (
        te.join(kg.vkeys.select(F.col("skey").alias("src_key"), F.col("vid").alias("src")), "src_key")
        .join(kg.vkeys.select(F.col("skey").alias("dst_key"), F.col("vid").alias("dst")), "dst_key")
        .select("src", "dst", F.col("ets_us").alias("ets"))
    )
    src_vid, src_key = _min_turn_vid(kg)
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    t = _transcripts(spark, sf_dir)
    src_ts = (
        t.select(
            F.concat(
                F.lit("turn|"), F.col("conv_id"), F.lit(":"),
                F.lpad(F.col("turn_idx").cast("string"), 6, "0"),
            ).alias("tk"),
            F.timestamp_diff("MICROSECOND", epoch0, F.col("ts")).alias("us"),
        )
        .filter(F.col("tk") == src_key)
        .collect()[0]["us"]
    )
    out = temporal_reachability(tev, src_vid, int(src_ts), edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select("skey", "arrival_us")


def q_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (standard BFS 2-sweep): BFS
    from the canonical turn source, re-BFS from its farthest reachable
    vertex (max dist, min skey tiebreak); 1 row (far_key, ecc_src,
    diameter_est). Two frontier loops on the existing bfs operator."""
    from essentials_spark.algos import bfs

    kg, g = _sym_graph(spark, sf_dir)
    src_vid, _ = _min_turn_vid(kg)
    ctr = _chain_ctr(spark, sf_dir)
    b1 = bfs(g, source=src_vid, contraction=ctr)
    far = (
        b1.orderBy(F.desc("dist"), F.asc("vid")).limit(1).collect()[0]
    )
    ecc_src = int(far["dist"])
    # second sweep reuses the SAME contraction artifact — the far
    # vertex is usually a chain interior, which the seeded-endpoint
    # path handles exactly
    b2 = bfs(g, source=int(far["vid"]), contraction=ctr)
    diameter_est = int(b2.agg(F.max("dist")).collect()[0][0])
    far_key = kg.vkeys.filter(F.col("vid") == int(far["vid"])).collect()[0]["skey"]
    return spark.createDataFrame(
        [(far_key, ecc_src, diameter_est)],
        "far_key string, ecc_src long, diameter_est long",
    )


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 4-source harmonic centrality over the symmetrized
    graph (algos/traversal.harmonic_centrality); sources = 4 smallest
    vids == 4 smallest skeys (rank-of-skey id assignment)."""
    from essentials_spark.algos import harmonic_centrality
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    sym = _sym_vid_edges(kg)
    g = Graph(vertices=kg.graph.vertices, edges=sym.withColumn("weight", F.lit(1.0)))
    out = harmonic_centrality(g, n_sample=HARM_SOURCES, edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("harm") * 1e6).cast("long").alias("harm_ppm")
    )


def q_harmonic_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 4-source harmonic centrality through degree-2 chain
    contraction (algos/traversal.harmonic_centrality_contracted): one
    seeded relax over the contracted super-graph + closed-form
    interior rehydration; shares q_harmonic's oracle — rehydrated ==
    plain is the gated claim."""
    from essentials_spark.algos import harmonic_centrality_contracted
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    sym = _sym_vid_edges(kg)
    g = Graph(vertices=kg.graph.vertices, edges=sym.withColumn("weight", F.lit(1.0)))
    out = harmonic_centrality_contracted(g, n_sample=HARM_SOURCES, edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("harm") * 1e6).cast("long").alias("harm_ppm")
    )


EIG_ROUNDS = 10  # fixed power iterations; oracle unrolls the same count
KMEANS_K = 8
KMEANS_ITERS = 3


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means cluster assignment over the embeddings table
    (ann/kmeans.py): deterministic seeding (k smallest vec_ids),
    KMEANS_ITERS updates with centroids rounded to the 1e-6 grid, ties
    to the smaller cid. The oracle unrolls the identical trajectory.

    FP determinism margins at sf0.01 (measured, the PR_CONV_TOL-style
    analysis): min best-vs-2nd-best assignment gap 6.1e-6 d2-units
    (~10^7 x sum-order noise of the 64-term distance folds); min
    distance of any centroid mean*1e6 to a rounding boundary 1.3e-4
    (~10^5 x the mean-aggregate noise) — both engines replay the
    identical trajectory.
    """
    from essentials_spark.ann.kmeans import kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans(emb, k=KMEANS_K, iters=KMEANS_ITERS).select("vec_id", "cluster")


PQ_M, PQ_K, PQ_ITERS, PQ_DIM = 4, 8, 2, 64  # 64-dim testdata embeddings


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes over the embeddings table
    (ann/kmeans.pq_codes): PQ_M independent Lloyd codebooks over
    contiguous subspace slices, every trajectory deterministic (same
    seeding/grid/tie rules as kmeans_embeddings), codes emitted as
    integer columns. The oracle unrolls all PQ_M trajectories."""
    from essentials_spark.ann.kmeans import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_codes(emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS).select(
        "vec_id", *[f"code{j}" for j in range(PQ_M)]
    )


PQ_TOPK, PQ_NQ = 5, 5


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search (ann/kmeans.pq_adc_topk): exact
    queries vs coded corpus, distance = Σ_j LUT_j[query][code_j]. All
    post-training arithmetic is INTEGER µ-units (centroids live on the
    1e-6 grid; queries are quantized half-away-from-zero, the DuckDB
    round), so every distance is an exact BIGINT — no FP margin
    argument. The oracle replays codebooks, codes, LUTs, and ranks."""
    from essentials_spark.ann.kmeans import pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_adc_topk(
        emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, topk=PQ_TOPK, n_queries=PQ_NQ
    )


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (algos/eigen.py): EIG_ROUNDS power
    iterations with L1 normalization over the symmetrized graph;
    tol=0.0 pins the iterate count to the unrolled oracle.

    ppm determinism margin (the PR_CONV_TOL-style analysis): at
    sf0.01 the minimum distance of any score*1e6 to a rounding
    boundary is 6.3e-6 (measured) == 6.3e-12 in score units, ~100x
    the sum-order FP noise of the n-term aggregates — round() is
    deterministic on both engines."""
    from essentials_spark.algos import eigenvector_centrality
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    sym = _sym_vid_edges(kg)
    g = Graph(vertices=kg.graph.vertices, edges=sym.withColumn("weight", F.lit(1.0)))
    out = eigenvector_centrality(g, max_iter=EIG_ROUNDS, tol=0.0, edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("score") * 1e6).cast("long").alias("score_ppm")
    )


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 4-source closeness profile (algos/traversal.
    closeness_centrality): integer sufficient statistics (n_src,
    sum_dist) per reached vertex — FP-free gate, same seeded-BFS
    machinery as harmonic_4src."""
    from essentials_spark.algos import closeness_centrality
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    sym = _sym_vid_edges(kg)
    g = Graph(vertices=kg.graph.vertices, edges=sym.withColumn("weight", F.lit(1.0)))
    out = closeness_centrality(g, n_sample=HARM_SOURCES, edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select("skey", "n_src", "sum_dist")


def q_closeness_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same closeness statistics through degree-2 chain contraction
    (closeness_centrality_contracted): contracted-diameter relax +
    closed-form interior rehydration; shares q_closeness's oracle —
    rehydrated == plain is the gated claim."""
    from essentials_spark.algos import closeness_centrality_contracted
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    sym = _sym_vid_edges(kg)
    g = Graph(vertices=kg.graph.vertices, edges=sym.withColumn("weight", F.lit(1.0)))
    out = closeness_centrality_contracted(g, n_sample=HARM_SOURCES, edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select("skey", "n_src", "sum_dist")


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA authority/hub scores (algos/salsa.py — degree-normalized
    HITS with L1 per-round normalization), HITS_ROUNDS iterations,
    ppm-rounded."""
    from essentials_spark.algos import salsa

    kg = _keyed_graph(spark, sf_dir)
    out = salsa(kg.graph, max_iter=HITS_ROUNDS)
    return out.join(kg.vkeys, "vid").select(
        "skey",
        F.round(F.col("auth") * 1e6).cast("long").alias("auth_ppm"),
        F.round(F.col("hub") * 1e6).cast("long").alias("hub_ppm"),
    )


BM25_TERMS = ("join", "hash", "vector", "stream")  # mid-frequency mix


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance over documents (text/rank.py) for a fixed
    4-term query; ppm-rounded scores, docs matching >= 1 term."""
    from essentials_spark.text.rank import bm25_scores

    out = bm25_scores(_docs(spark, sf_dir), list(BM25_TERMS))
    return out.select(
        "doc_id", F.round(F.col("bm25") * 1e6).cast("long").alias("bm25_ppm")
    )


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation payload profile (io/transcripts.
    conversation_stats): the rollup table a curation pipeline filters
    before graph derivation."""
    from essentials_spark.io.transcripts import conversation_stats

    return conversation_stats(_transcripts(spark, sf_dir))


def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-native tool-call transition digraph
    (io/transcripts.tool_transitions): consecutive tool-bearing turns
    per conversation, counted corpus-wide."""
    from essentials_spark.io.transcripts import tool_transitions

    return tool_transitions(_transcripts(spark, sf_dir))


WIN_US = 3_600_000_000  # 1 hour
SLIDE_US = 1_800_000_000  # 30 minutes
RANGE_BUCKET_US = WIN_US


def _turns_ts_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return _transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "tool",
        F.timestamp_diff("MICROSECOND", epoch0, F.col("ts")).alias("ts_us"),
    )


def q_asof_tool_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (ops/asof.asof_join): every tool-call turn joined to
    the most recent STRICTLY-earlier use of the same tool anywhere in
    the corpus — the sorted-merge shape (one key shuffle + running
    last(ignore nulls)), never a range self-join. Ties at equal ts
    resolve to the max (conv_id, turn_idx) right row, bit-exact in
    both engines."""
    from essentials_spark.ops.asof import asof_join

    tt = _turns_ts_us(spark, sf_dir).filter(F.col("tool").isNotNull())
    out = asof_join(
        tt,
        tt,
        "tool",
        ts_col="ts_us",
        value_cols=["conv_id", "turn_idx"],
        strict=True,
        right_order_cols=["conv_id", "turn_idx"],
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.col("asof_conv_id").alias("prev_conv"),
        F.col("asof_turn_idx").alias("prev_turn"),
    )


def q_asof_tool_reuse_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_asof_tool_reuse on the time-SHARDED hub
    path (shard_us=1 day): per-(key, shard) windows + exact carry
    stitch. Shares the oracle — two physical paths, one answer (the
    random_walks/_csr gating pattern)."""
    from essentials_spark.ops.asof import asof_join

    tt = _turns_ts_us(spark, sf_dir).filter(F.col("tool").isNotNull())
    out = asof_join(
        tt,
        tt,
        "tool",
        ts_col="ts_us",
        value_cols=["conv_id", "turn_idx"],
        strict=True,
        right_order_cols=["conv_id", "turn_idx"],
        shard_us=86_400_000_000,
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.col("asof_conv_id").alias("prev_conv"),
        F.col("asof_turn_idx").alias("prev_turn"),
    )


def q_conv_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range-count (ops/asof.range_count): per conversation,
    how many OTHER conversations' turns fall inside its [first, last]
    timestamp span — prefix-rank arithmetic (bucketed running counts +
    broadcast offsets), never the interval x turn pair join the naive
    plan materializes (1.45M pairs at sf0.01 already)."""
    from essentials_spark.ops.asof import range_count

    t = _turns_ts_us(spark, sf_dir)
    iv = t.groupBy("conv_id").agg(
        F.min("ts_us").alias("lo_us"),
        F.max("ts_us").alias("hi_us"),
        F.count(F.lit(1)).alias("n_own"),
    )
    rc = range_count(
        t.select("ts_us"),
        iv.select(F.col("conv_id").alias("qid"), "lo_us", "hi_us"),
        bucket_us=RANGE_BUCKET_US,
    )
    return (
        rc.join(iv, rc["qid"] == iv["conv_id"])
        .select(
            "conv_id", (F.col("n_in_range") - F.col("n_own")).cast("long").alias("n_concurrent")
        )
    )


def q_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window rollup (streaming/windows.
    tumbling_rollup): 1-hour windows over turn timestamps — the
    Structured-Streaming aggregation shape run in batch (identical
    F.window expression under readStream with a watermark)."""
    from essentials_spark.streaming.windows import tumbling_rollup

    t = _transcripts(spark, sf_dir).select(
        "conv_id", "tool", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    return tumbling_rollup(t, width="1 hour")


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window variant (1h window / 30m slide): bounded 2x row
    replication, state ~ open windows — the late-data/watermark
    configuration point for the streaming path."""
    from essentials_spark.streaming.windows import sliding_rollup

    t = _transcripts(spark, sf_dir).select(
        "conv_id", "tool", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    return sliding_rollup(t, width="1 hour", slide="30 minutes")


def q_scc_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (algos/scc.py, FW-BW min-label
    peel) of the DIRECTED tool-transition digraph — true directed
    mutual-reachability semantics, vs the undirected CC family.

    The raw 5-tool digraph at sf0.01 is complete (one SCC — a
    blind-spot gate: a constant labeler would pass), so the entry
    keeps only HEAVY transitions (count * 24 > corpus total, a
    scale-free relative threshold): at sf0.01 that splits the graph
    into {click,error,signup,view} + singleton {purchase}, so the
    gate pins a genuine multi-SCC decomposition. The oracle computes
    the transitive closure by repeated squaring (exact for <= 32
    tools) and takes min over mutual-reach pairs."""
    from essentials_spark.algos.scc import strongly_connected_components
    from essentials_spark.io.transcripts import tool_transitions

    t = _transcripts(spark, sf_dir)
    verts = t.filter(F.col("tool").isNotNull()).select(F.col("tool").alias("vid")).distinct()
    tt = tool_transitions(t)
    total = tt.agg(F.sum("n").alias("tot"))
    ed = (
        tt.crossJoin(F.broadcast(total))
        .filter(F.col("n") * 24 > F.col("tot"))
        .select(F.col("src_tool").alias("src"), F.col("dst_tool").alias("dst"))
    )
    out = strongly_connected_components(verts, ed)
    return out.select(F.col("vid").alias("tool"), "scc")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (text/bpe.bpe_encode): train the
    BPE_MERGES-round merge table on the corpus, then tokenize every
    doc with it — v chained narrow projections in one codegen pass.
    Integer (n_tokens, n_words) per doc; the oracle replays both the
    training trajectory and the encode cascade."""
    from essentials_spark.text.bpe import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges = bpe_train(docs, merges=BPE_MERGES)
    return bpe_encode(docs, merges).select("doc_id", "n_tokens", "n_words")


DUP_SPAN_K = 6
KATZ_ROUNDS = 8
KATZ_ALPHA = 1.0 / 128  # exact binary rational; alpha*lambda_max << 1 here
DENSEST_ROUNDS = 12  # measured peel depth: 4 (sf0.001) / 7 (sf0.01) + margin
MIS_ROUNDS = 8  # measured Luby rounds: 3 at both gate SFs + margin


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set (algos/mis.py) over the
    symmetrized transcript graph with portable md5 priorities —
    (skey, mis_round) pins the full round structure (3 rounds / 4,356
    members at sf0.01). The scheduling primitive behind the engine's
    chase-free move rounds (louvain mode='mis'), exposed standalone."""
    from essentials_spark.algos.mis import maximal_independent_set

    kg = _keyed_graph(spark, sf_dir)
    # run on the STRING-keyed graph: the md5 priorities hash the key
    # itself, so the oracle replays them verbatim (dense long vids
    # would hash differently)
    key_edges = kg.key_edges.select(
        F.col("src_key").alias("src"), F.col("dst_key").alias("dst")
    )
    sym = (
        key_edges.unionByName(
            key_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = kg.vkeys.select(F.col("skey").alias("vid"))
    out = maximal_independent_set(verts, sym)
    return out.select(F.col("vid").alias("skey"), "mis_round")


def q_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest subgraph (algos/densest.densest_subgraph, the parallel
    Charikar/Bahmani peel with epsilon=0): members of the densest
    intermediate subgraph with its exact (n_sub, m_sub) attached.
    Every comparison is cross-multiplied integers — no FP density
    exists on either engine. At sf0.01 the best is peel round 2
    (385 vertices at density 517/385 > the whole graph's 1.318), so
    the gate pins a non-initial argmax, not just the peel."""
    from essentials_spark.algos.densest import densest_subgraph
    from essentials_spark.graph.derive import canonicalize_edges

    kg = _keyed_graph(spark, sf_dir)
    sym = canonicalize_edges(
        kg.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True
    )
    canon = sym.filter(F.col("src") < F.col("dst"))
    out = densest_subgraph(
        kg.graph.vertices.select("vid"), canon, epsilon_num=0, epsilon_den=1
    )
    return out.join(kg.vkeys, "vid").select("skey", "n_sub", "m_sub")


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (algos/eigen.katz_centrality): KATZ_ROUNDS
    attenuated-walk iterations, beta=1, alpha=1/128 (exact binary —
    the per-edge multiply is FP-exact; only the n-term sums carry
    engine-order noise, covered by the ppm margin convention:
    measured min distance of score*1e6 to a rounding boundary at
    sf0.01 is 4.1e-5 ppm == 4.1e-11 in score units, ~100x the
    sum-order noise floor)."""
    from essentials_spark.algos import katz_centrality
    from essentials_spark.graph.derive import Graph

    kg = _keyed_graph(spark, sf_dir)
    sym = _sym_vid_edges(kg)
    g = Graph(vertices=kg.graph.vertices, edges=sym)
    out = katz_centrality(g, alpha=KATZ_ALPHA, beta=1.0, max_iter=KATZ_ROUNDS, tol=0.0, edges_mode="shuffle")
    return out.join(kg.vkeys, "vid").select(
        "skey", F.round(F.col("score") * 1e6).cast("long").alias("score_ppm")
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span statistics (text/spans.duplicate_spans,
    the Lee-et-al substring-dedup signal): per doc, total
    DUP_SPAN_K-token spans, spans occurring >= 2x corpus-wide, and
    distinct duplicated spans — all integers; never doc pairs."""
    from essentials_spark.text.spans import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), k=DUP_SPAN_K).select(
        "doc_id", "n_spans", "n_dup_spans", "n_dup_grams"
    )


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary artifact (text/bpe.bpe_vocab): distinct
    post-merge symbols with dense lexicographic ids and word-coverage
    counts — the third piece of the shipped tokenizer triple
    (bpe_merges -> bpe_vocab -> bpe_encode)."""
    from essentials_spark.text.bpe import bpe_train, bpe_vocab

    docs = _docs(spark, sf_dir)
    merges = bpe_train(docs, merges=BPE_MERGES)
    return bpe_vocab(docs, merges).select("token", "token_id", "n_words")


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (ops/rank.global_rank): every doc's exact
    1-based global position under (quality desc, doc_id asc) — the
    counting-sort offsets + per-score parallel window shape, never a
    single-partition global sort."""
    from essentials_spark.ops.rank import global_rank
    from essentials_spark.text.analysis import quality_score

    q = quality_score(_docs(spark, sf_dir)).select(
        "doc_id", F.round(F.col("quality") * 1e6).cast("long").alias("q_ppm")
    )
    return global_rank(q, "q_ppm", "doc_id").select("doc_id", "q_ppm", "rank")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order IS the driver's execution order, chosen so
    the suite degrades gracefully if the driver's per-round budget
    (time or entry count) cuts the tail:

    0. the north-rule headline four (pagerank / cc / lp / tc) FIRST —
       they are the required surface and must be inside any cap
       (round-4's driver cut at entry 50; 120 are registered now);
    1. then the round-6 additions, then round-5 (cheap-ascending) —
       the entries with the fewest prior green gate rows get
       hard-signal coverage before the long-established tail;
    2. everything long-established, cheap-ascending, with the
       most expensive convergence-contract entry
       (pagerank_incremental, ~180 supersteps to tol=1e-13) last —
       it carries four rounds of green history, so it is the least
       costly row to lose to a budget cut."""
    return {
        # --- group 0: the north-rule headline four (NON-NEGOTIABLE:
        # these must appear in every round's hard signal, so they run
        # before anything can exhaust an entry-count or time budget;
        # round-4 showed the driver cutting at entry 50, and round 5
        # registers 102) ---
        "pagerank": q_pagerank,
        "connected_components": q_cc,
        "label_propagation": q_lp,
        "triangle_count": q_triangles,
        # --- group 1: fewest prior gate rows, cheap first ---
        # round-6 additions (never gated yet)
        "window_rollup": q_window_rollup,
        "window_sliding": q_window_sliding,
        "curriculum_order": q_curriculum_order,
        "scc_tools": q_scc_tools,
        "asof_tool_reuse": q_asof_tool_reuse,
        "asof_tool_reuse_sharded": q_asof_tool_reuse_sharded,
        "conv_concurrency": q_conv_concurrency,
        "duplicate_spans": q_duplicate_spans,
        "katz_centrality": q_katz,
        "densest_subgraph": q_densest,
        "maximal_independent_set": q_mis,
        "pagerank_weighted": q_pagerank_weighted,
        "bpe_encode": q_bpe_encode,
        "bpe_vocab": q_bpe_vocab,
        # round-5b text-pipeline additions (never gated yet)
        "stratified_sample": q_stratified_sample,
        "mixture_sample": q_mixture_sample,
        "modularity_conv": q_modularity,
        "louvain_semi": q_louvain,
        "louvain_2level": q_louvain2,
        "louvain_mis": q_louvain_mis,
        "louvain_incremental": q_louvain_incremental,
        "degree_assortativity": q_assortativity,
        "degree_gini": q_degree_gini,
        "pack_sequences": q_pack_sequences,
        "repetition_stats": q_repetition,
        "ngram_contamination": q_contamination,
        "pack_ffd_stats": q_pack_ffd_stats,
        "closeness_4src": q_closeness,
        "closeness_4src_chain": q_closeness_chain,
        "eigenvector_centrality": q_eigenvector,
        "kmeans_embeddings": q_kmeans,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc,
        "dedup_keep_best": q_dedup_keep_best,
        "quality_deciles": q_quality_deciles,
        "sessionize": q_sessionize,
        "sketch_distinct": q_sketch_distinct,
        "sketch_freq": q_sketch_freq,
        "bpe_merges": q_bpe_merges,
        "importance_sample": q_importance_sample,
        "temporal_neighbor_sample": q_temporal_neighbor_sample,
        "negative_samples": q_negative_samples,
        "split_assign": q_split_assign,
        "tool_pmi": q_tool_pmi,
        "chunk_documents": q_chunk_documents,
        "sample_fixed_k": q_sample_fixed_k,
        "exact_dedup": q_exact_dedup,
        "lang_pred": q_lang_pred,
        "tool_transitions": q_tool_transitions,
        "conv_stats": q_conv_stats,
        "ann_topk": q_ann_topk,
        "bm25": q_bm25,
        "transitivity": q_transitivity,
        "neighbor_sample": q_neighbor_sample,
        "clustering_coeff": q_clustering_coeff,
        "random_walks": q_random_walks,
        "walk_contexts": q_walk_contexts,
        "random_walks_csr": q_random_walks_csr,
        "adamic_adar": q_adamic_adar,
        "node2vec_walks": q_node2vec,
        "node2vec_walks_csr": q_node2vec_csr,
        "salsa": q_salsa,
        "label_propagation_semi": q_lp_semi,
        "temporal_reach": q_temporal_reach,
        "harmonic_4src": q_harmonic,
        "diameter_2sweep": q_diameter,
        "bfs_hops_csr": q_bfs_csr,
        "sssp_md5w_csr": q_sssp_csr,
        "betweenness_3src_chain": q_bc_chain,
        "harmonic_4src_chain": q_harmonic_chain,
        "ktruss_4": q_ktruss_4,
        # --- group 3: long-established, cheap-ascending ---
        "doc_fingerprint": q_doc_fingerprint,
        "doc_stats": q_doc_stats,
        "doc_quality": q_doc_quality,
        "points_reader": q_points_reader,
        "ngram_jaccard": q_jaccard,
        "transcripts_from_events": q_transcripts,
        "edge_derivation": q_edges,
        "degree_histogram": q_degree_histogram,
        "spmv_keylen": q_spmv,
        "degree_stats": q_degree_stats,
        "mtx_reader_sym": q_mtx_reader,
        "smtx_reader": q_smtx_reader,
        "spgemm_square": q_spgemm,
        "tc_total": q_tc_total,
        "streaming_edges": q_streaming_edges,
        "simhash_signatures": q_simhash,
        "triangle_count_csr": q_triangles_csr,
        "ktruss_3": q_ktruss_3,
        "ann_ivf_topk": q_ivf_topk,
        "connected_components_contract": q_cc_contract,
        "connected_components_incremental": q_cc_incremental,
        "embedding_cosine_pairs": q_embed_pairs,
        "result_sink": q_result_sink,
        "sssp_md5w": q_sssp,
        "kcore_local": q_kcore_local,
        "color_validity": q_color_validity,
        "ktruss_4_window": q_ktruss_4_window,
        "label_propagation_csr": q_lp_csr,
        "ppr_push": q_ppr,
        "bfs_hops": q_bfs,
        "triangle_count_incremental": q_tc_incremental,
        "curate_corpus": q_curate,
        "connected_components_csr": q_cc_csr,
        "minhash_dedup": q_minhash_dedup,
        "ann_lsh_topk": q_lsh_topk,
        "kcore_peel": q_kcore_peel,
        "hits_norm": q_hits,
        "geolocate_spread": q_geolocate,
        "truss_decomposition": q_truss_decomposition,
        "mst_total_weight": q_mst_total,
        "kcore_decomposition": q_kcore,
        "betweenness_3src": q_bc,
        "mst_incremental": q_mst_incremental,
        "pagerank_csr": q_pagerank_csr,
        "pagerank_incremental": q_pagerank_incremental,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the transcript graph at sf0.001."""
    return q_pagerank(spark, "/root/testdata/sf0.001").orderBy(F.desc("score_ppm"), "skey").limit(50)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_TURNKEY = "'turn|' || conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 6, '0')"

_PRELUDE = f"""
ev AS (
  SELECT event_id, ts, user_id, event_type, props,
         printf('conv%06d', user_id) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx
  FROM events
),
tr AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         coalesce(props, '') AS text,
         CASE WHEN event_id % 3 = 0 THEN event_type END AS tool,
         ts
  FROM ev
),
turnv AS (SELECT {_TURNKEY} AS vkey, conv_id, turn_idx FROM tr),
toolv AS (SELECT DISTINCT 'tool|' || tool AS vkey FROM tr WHERE tool IS NOT NULL),
verts AS (SELECT vkey FROM turnv UNION ALL SELECT vkey FROM toolv),
adje AS (
  SELECT src, dst FROM (
    SELECT vkey AS src, lead(vkey) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst FROM turnv
  ) WHERE dst IS NOT NULL
),
toole AS (SELECT {_TURNKEY} AS src, 'tool|' || tool AS dst FROM tr WHERE tool IS NOT NULL),
edges_k AS (SELECT src, dst FROM adje UNION ALL SELECT src, dst FROM toole),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges_k UNION ALL SELECT dst AS src, src AS dst FROM edges_k
  ) WHERE src <> dst
)
"""

# membership-augmented variant (conv vertices + conv->turn edges)
_PRELUDE_M = (
    _PRELUDE.replace(
        "verts AS (SELECT vkey FROM turnv UNION ALL SELECT vkey FROM toolv),",
        "convv AS (SELECT DISTINCT 'conv|' || conv_id AS vkey FROM tr),\n"
        "verts AS (SELECT vkey FROM turnv UNION ALL SELECT vkey FROM toolv UNION ALL SELECT vkey FROM convv),",
    ).replace(
        "edges_k AS (SELECT src, dst FROM adje UNION ALL SELECT src, dst FROM toole),",
        f"membe AS (SELECT 'conv|' || conv_id AS src, {_TURNKEY} AS dst FROM tr),\n"
        "edges_k AS (SELECT src, dst FROM adje UNION ALL SELECT src, dst FROM toole"
        " UNION ALL SELECT src, dst FROM membe),",
    )
)


def _pagerank_sql(iters: int = PR_ITERS) -> str:
    parts = [
        _PRELUDE,
        "outw AS (SELECT src, CAST(count(*) AS DOUBLE) AS ow FROM edges_k GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        f"ew AS (SELECT e.src, e.dst, {ALPHA} / o.ow AS coef FROM edges_k e JOIN outw o USING (src))",
        "p0 AS (SELECT vkey, 1.0 / nn.n AS score FROM verts, nn)",
    ]
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(p.score), 0.0) * {ALPHA} AS dsum"
            f" FROM p{i} p LEFT JOIN outw o ON o.src = p.vkey WHERE o.src IS NULL)"
        )
        parts.append(
            f"p{i + 1} AS (SELECT v.vkey,"
            f" (1.0 - {ALPHA} + d.dsum) / nn.n + coalesce(c.contrib, 0.0) AS score"
            f" FROM verts v"
            f" LEFT JOIN (SELECT e.dst, sum(p.score * e.coef) AS contrib"
            f"   FROM ew e JOIN p{i} p ON p.vkey = e.src GROUP BY e.dst) c ON c.dst = v.vkey"
            f" CROSS JOIN d{i} d CROSS JOIN nn)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT vkey AS skey, CAST(round(score * 1e6) AS BIGINT) AS score_ppm FROM p{iters}"
    )


def _pagerank_weighted_sql(iters: int = PR_ITERS) -> str:
    """Weighted twin of _pagerank_sql: per-edge w = 1 + md5(src>dst)
    % 7 (positive 60-bit hash, so % == pmod), coef = alpha*w/sum w."""
    from essentials_spark.functions.portable_hash import sql_md5_int60

    h = sql_md5_int60("e.src || '>' || e.dst")
    parts = [
        _PRELUDE,
        f"wedg AS (SELECT e.src, e.dst, CAST(1 + ({h} % 7) AS DOUBLE) AS w FROM edges_k e)",
        "outw AS (SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM wedg GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        f"ew AS (SELECT e.src, e.dst, {ALPHA} * e.w / o.ow AS coef FROM wedg e JOIN outw o USING (src))",
        "p0 AS (SELECT vkey, 1.0 / nn.n AS score FROM verts, nn)",
    ]
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(p.score), 0.0) * {ALPHA} AS dsum"
            f" FROM p{i} p LEFT JOIN outw o ON o.src = p.vkey WHERE o.src IS NULL)"
        )
        parts.append(
            f"p{i + 1} AS (SELECT v.vkey,"
            f" (1.0 - {ALPHA} + d.dsum) / nn.n + coalesce(c.contrib, 0.0) AS score"
            f" FROM verts v"
            f" LEFT JOIN (SELECT e.dst, sum(p.score * e.coef) AS contrib"
            f"   FROM ew e JOIN p{i} p ON p.vkey = e.src GROUP BY e.dst) c ON c.dst = v.vkey"
            f" CROSS JOIN d{i} d CROSS JOIN nn)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT vkey AS skey, CAST(round(score * 1e6) AS BIGINT) AS score_ppm FROM p{iters}"
    )


def _cc_sql() -> str:
    parts = [_PRELUDE, "l0 AS (SELECT vkey, vkey AS lab FROM verts)"]
    for i in range(CC_ROUNDS):
        parts.append(
            f"l{i + 1} AS (SELECT l.vkey,"
            f" least(l.lab, coalesce(nm.m, l.lab), coalesce(j.lab, l.lab)) AS lab"
            f" FROM l{i} l"
            f" LEFT JOIN (SELECT e.dst, min(p.lab) AS m FROM sym e JOIN l{i} p ON p.vkey = e.src"
            f"   GROUP BY e.dst) nm ON nm.dst = l.vkey"
            f" LEFT JOIN l{i} j ON j.vkey = l.lab)"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT vkey AS skey, lab AS component FROM l{CC_ROUNDS}"


def _lp_sql(semi: bool = False) -> str:
    """Unrolled synchronous LP; ``semi`` replays the alternating
    md5-parity half-schedule (round i updates only vertices with
    ascii(substr(md5(vkey),1,1)) % 2 == i % 2) — the exact twin of
    label_propagation(mode='semi', semi_parity=md5-parity)."""
    parts = [_PRELUDE, "m0 AS (SELECT vkey, vkey AS lab FROM verts)"]
    for i in range(LP_ROUNDS):
        if semi:
            upd = (
                f"CASE WHEN (ascii(substr(md5(l.vkey), 1, 1)) % 2) = {i % 2}"
                f" THEN coalesce(b.lab, l.lab) ELSE l.lab END"
            )
        else:
            upd = "coalesce(b.lab, l.lab)"
        parts.append(
            f"m{i + 1} AS (SELECT l.vkey, {upd} AS lab"
            f" FROM m{i} l LEFT JOIN ("
            f"   SELECT dst, lab FROM ("
            f"     SELECT e.dst, p.lab, count(*) AS c,"
            f"       row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, p.lab ASC) AS rn"
            f"     FROM sym e JOIN m{i} p ON p.vkey = e.src GROUP BY e.dst, p.lab"
            f"   ) WHERE rn = 1) b ON b.dst = l.vkey)"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT vkey AS skey, lab AS lp_label FROM m{LP_ROUNDS}"


def _louvain_round_ctes(
    i: int, pfx: str, edges: str, deg: str, weighted: bool, movers: str | None = None,
    tm: str = "tm",
) -> list[str]:
    """CTEs for one semi-sync Louvain move round over labels
    ``{pfx}{i}`` -> ``{pfx}{i+1}``. ``weighted``: edge table carries a
    w column (the coarsened multigraph); level 0 rows weigh 1. Argmax
    with min-label ties = max(score) then min(lab), ≡ Spark's
    min(struct(-score, lab)); adoption restricted to the round's
    md5-parity half — or, when ``movers`` names a (vkey) CTE, to its
    membership (the MIS schedule). Self-loop rows are excluded from
    e_ic (they move with the vertex) but kept in k/D_c — standard
    Blondel k_{i,in}."""
    w = "e.w" if weighted else "1"
    if movers is None:
        adopt = (
            f"CASE WHEN (ascii(substr(md5(l.vkey), 1, 1)) % 2) = {i % 2}"
            f" THEN coalesce(p.lab, l.lab) ELSE l.lab END"
        )
        mv_join = ""
    else:
        adopt = "CASE WHEN mv.vkey IS NOT NULL THEN coalesce(p.lab, l.lab) ELSE l.lab END"
        mv_join = f" LEFT JOIN {movers} mv ON mv.vkey = l.vkey"
    return [
        f"{pfx}cd{i} AS (SELECT vkey, lc, CAST(sum(c) AS BIGINT) AS e_ic FROM ("
        f"   SELECT e.src AS vkey, l.lab AS lc, {w} AS c FROM {edges} e"
        f"   JOIN {pfx}{i} l ON l.vkey = e.dst WHERE e.src <> e.dst"
        f"   UNION ALL SELECT vkey, lab AS lc, 0 AS c FROM {pfx}{i}"
        f" ) GROUP BY vkey, lc)",
        f"{pfx}dm{i} AS (SELECT lab, CAST(sum(k) AS BIGINT) AS d_c"
        f" FROM {pfx}{i} JOIN {deg} USING (vkey) GROUP BY lab)",
        f"{pfx}sc{i} AS (SELECT c.vkey, c.lc, {tm}.two_m * c.e_ic"
        f" - d.k * (coalesce(m.d_c, 0)"
        f"   - CASE WHEN c.lc = l.lab THEN d.k ELSE 0 END) AS score"
        f" FROM {pfx}cd{i} c JOIN {pfx}{i} l USING (vkey) JOIN {deg} d USING (vkey)"
        f" LEFT JOIN {pfx}dm{i} m ON m.lab = c.lc CROSS JOIN {tm})",
        f"{pfx}pk{i} AS (SELECT s.vkey, min(s.lc) AS lab FROM {pfx}sc{i} s"
        f" JOIN (SELECT vkey, max(score) AS ms FROM {pfx}sc{i} GROUP BY vkey) x"
        f" ON x.vkey = s.vkey AND s.score = x.ms GROUP BY s.vkey)",
        f"{pfx}{i + 1} AS (SELECT l.vkey, {adopt} AS lab"
        f" FROM {pfx}{i} l LEFT JOIN {pfx}pk{i} p ON p.vkey = l.vkey{mv_join})",
    ]


def _louvain_level1_parts(rounds: int) -> list[str]:
    parts = [
        _PRELUDE,
        "deg AS (SELECT v.vkey, CAST(coalesce(d.k, 0) AS BIGINT) AS k FROM verts v"
        " LEFT JOIN (SELECT src AS vkey, count(*) AS k FROM sym GROUP BY src) d USING (vkey))",
        "tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM sym)",
        "v0 AS (SELECT vkey, vkey AS lab FROM verts)",
    ]
    for i in range(rounds):
        parts += _louvain_round_ctes(i, "v", "sym", "deg", weighted=False)
    return parts


def _louvain_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Unrolled semi-synchronous Louvain phase-1 — the exact twin of
    louvain(mode='semi', semi_parity=md5-parity): per round, integer
    scores 2m·e_ic − k·(D_c − k·[own])."""
    body = ",\n".join(_louvain_level1_parts(rounds))
    return f"WITH {body}\nSELECT vkey AS skey, lab AS community FROM v{rounds}"


def _louvain_mis_sql(rounds: int) -> str:
    """Twin of q_louvain_mis: per round, a fresh md5-int60 hash of
    (vkey || ':' || round), the hash-local-minima independent set
    (strictly smaller (h, vkey) than EVERY neighbor — vkey ties are
    order-isomorphic to the Spark vid ties), and the move round with
    adoption restricted to that set."""
    from essentials_spark.functions.portable_hash import sql_md5_int60

    parts = [
        _PRELUDE,
        "deg AS (SELECT v.vkey, CAST(coalesce(d.k, 0) AS BIGINT) AS k FROM verts v"
        " LEFT JOIN (SELECT src AS vkey, count(*) AS k FROM sym GROUP BY src) d USING (vkey))",
        "tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM sym)",
        "v0 AS (SELECT vkey, vkey AS lab FROM verts)",
    ]
    for i in range(rounds):
        h = sql_md5_int60(f"vkey || ':{i}'")
        parts.append(f"mh{i} AS (SELECT vkey, {h} AS h FROM verts)")
        parts.append(
            f"mm{i} AS (SELECT v.vkey FROM verts v LEFT JOIN ("
            f"  SELECT DISTINCT e.src AS vkey FROM sym e"
            f"  JOIN mh{i} a ON a.vkey = e.src JOIN mh{i} b ON b.vkey = e.dst"
            f"  WHERE b.h < a.h OR (b.h = a.h AND e.dst < e.src)"
            f") l ON l.vkey = v.vkey WHERE l.vkey IS NULL)"
        )
        parts += _louvain_round_ctes(i, "v", "sym", "deg", weighted=False, movers=f"mm{i}")
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT vkey AS skey, lab AS community FROM v{rounds}"


def _louvain_inc_sql(rounds: int) -> str:
    """Twin of q_louvain_incremental: 2 phases of MIS-scheduled moves.
    Phase A runs on the md5-canonical-pair-parity HALF of the edge
    table (batch 1); phase B WARM-STARTS from phase A's labels on the
    full table (batch 2 arrived). Degrees and 2m are per-phase (the
    criterion reads the current graph); hash salts ':a'/':b' keep the
    two phases' independent sets distinct."""
    from essentials_spark.functions.portable_hash import sql_md5_int60

    pairp = sql_md5_int60(
        "least(src, dst) || '>' || greatest(src, dst)"
    )
    parts = [
        _PRELUDE,
        f"sa AS (SELECT src, dst FROM sym WHERE ({pairp} % 2) = 0)",
        "dega AS (SELECT v.vkey, CAST(coalesce(d.k, 0) AS BIGINT) AS k FROM verts v"
        " LEFT JOIN (SELECT src AS vkey, count(*) AS k FROM sa GROUP BY src) d USING (vkey))",
        "tma AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM sa)",
        "degb AS (SELECT v.vkey, CAST(coalesce(d.k, 0) AS BIGINT) AS k FROM verts v"
        " LEFT JOIN (SELECT src AS vkey, count(*) AS k FROM sym GROUP BY src) d USING (vkey))",
        "tmb AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM sym)",
        "v0 AS (SELECT vkey, vkey AS lab FROM verts)",
    ]
    for i in range(rounds):
        h = sql_md5_int60(f"vkey || ':a{i}'")
        parts.append(f"amh{i} AS (SELECT vkey, {h} AS h FROM verts)")
        parts.append(
            f"amm{i} AS (SELECT v.vkey FROM verts v LEFT JOIN ("
            f"  SELECT DISTINCT e.src AS vkey FROM sa e"
            f"  JOIN amh{i} a ON a.vkey = e.src JOIN amh{i} b ON b.vkey = e.dst"
            f"  WHERE b.h < a.h OR (b.h = a.h AND e.dst < e.src)"
            f") l ON l.vkey = v.vkey WHERE l.vkey IS NULL)"
        )
        parts += _louvain_round_ctes(
            i, "v", "sa", "dega", weighted=False, movers=f"amm{i}", tm="tma"
        )
    parts.append(f"u0 AS (SELECT vkey, lab FROM v{rounds})")
    for i in range(rounds):
        h = sql_md5_int60(f"vkey || ':b{i}'")
        parts.append(f"bmh{i} AS (SELECT vkey, {h} AS h FROM verts)")
        parts.append(
            f"bmm{i} AS (SELECT v.vkey FROM verts v LEFT JOIN ("
            f"  SELECT DISTINCT e.src AS vkey FROM sym e"
            f"  JOIN bmh{i} a ON a.vkey = e.src JOIN bmh{i} b ON b.vkey = e.dst"
            f"  WHERE b.h < a.h OR (b.h = a.h AND e.dst < e.src)"
            f") l ON l.vkey = v.vkey WHERE l.vkey IS NULL)"
        )
        parts += _louvain_round_ctes(
            i, "u", "sym", "degb", weighted=False, movers=f"bmm{i}", tm="tmb"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT vkey AS skey, lab AS community FROM u{rounds}"


def _louvain2_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Two-level Louvain: phase-1 rounds, coarsen communities into a
    weighted super-graph (self-loop rows carry the internal directed
    weight; Σw and weighted degrees are conserved, so tm is SHARED
    across levels), the same move rounds on the super-graph (parity =
    md5 of the community key), compose back to vertices."""
    parts = _louvain_level1_parts(rounds)
    parts += [
        f"ce AS (SELECT ls.lab AS src, ld.lab AS dst, CAST(count(*) AS BIGINT) AS w"
        f" FROM sym e JOIN v{rounds} ls ON ls.vkey = e.src"
        f" JOIN v{rounds} ld ON ld.vkey = e.dst GROUP BY ls.lab, ld.lab)",
        f"cverts AS (SELECT DISTINCT lab AS vkey FROM v{rounds})",
        "cdeg AS (SELECT v.vkey, CAST(coalesce(d.k, 0) AS BIGINT) AS k FROM cverts v"
        " LEFT JOIN (SELECT src AS vkey, sum(w) AS k FROM ce GROUP BY src) d USING (vkey))",
        "u0 AS (SELECT vkey, vkey AS lab FROM cverts)",
    ]
    for i in range(rounds):
        parts += _louvain_round_ctes(i, "u", "ce", "cdeg", weighted=True)
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT a.vkey AS skey, c.lab AS community"
        f" FROM v{rounds} a JOIN u{rounds} c ON c.vkey = a.lab"
    )


_SRC_TURN = "(SELECT min(vkey) FROM verts WHERE vkey LIKE 'turn|%')"


def _bfs_sql() -> str:
    parts = [
        _PRELUDE,
        f"b0 AS (SELECT vkey, CASE WHEN vkey = {_SRC_TURN} THEN 0 END AS dist FROM verts)",
    ]
    for i in range(BFS_ROUNDS):
        parts.append(
            f"b{i + 1} AS (SELECT l.vkey,"
            f" CASE WHEN l.dist IS NULL THEN nm.m + 1"
            f"      WHEN nm.m IS NOT NULL AND nm.m + 1 < l.dist THEN nm.m + 1"
            f"      ELSE l.dist END AS dist"
            f" FROM b{i} l LEFT JOIN ("
            f"   SELECT e.dst, min(p.dist) AS m FROM sym e JOIN b{i} p ON p.vkey = e.src"
            f"   WHERE p.dist IS NOT NULL GROUP BY e.dst) nm ON nm.dst = l.vkey)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey, CAST(dist AS BIGINT) AS dist"
        f" FROM b{BFS_ROUNDS} WHERE dist IS NOT NULL"
    )


def _sssp_sql() -> str:
    # CAST to DOUBLE: DuckDB's 1.0 literal is DECIMAL and decimal
    # arithmetic would propagate Decimal into the result values
    wexpr = "CAST(1.0 + (ascii(substr(md5(src || '>' || dst), 1, 1)) % 8) AS DOUBLE)"
    parts = [
        _PRELUDE,
        f"wsym AS (SELECT src, dst, {wexpr} AS w FROM sym)",
        f"s0 AS (SELECT vkey, CASE WHEN vkey = {_SRC_TURN} THEN CAST(0.0 AS DOUBLE) END AS dist FROM verts)",
    ]
    for i in range(SSSP_ROUNDS):
        parts.append(
            f"s{i + 1} AS (SELECT l.vkey,"
            f" CASE WHEN l.dist IS NULL THEN nm.m"
            f"      WHEN nm.m IS NOT NULL AND nm.m < l.dist THEN nm.m"
            f"      ELSE l.dist END AS dist"
            f" FROM s{i} l LEFT JOIN ("
            f"   SELECT e.dst, min(p.dist + e.w) AS m FROM wsym e JOIN s{i} p ON p.vkey = e.src"
            f"   WHERE p.dist IS NOT NULL GROUP BY e.dst) nm ON nm.dst = l.vkey)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey, dist FROM s{SSSP_ROUNDS} WHERE dist IS NOT NULL"
    )


def _ppr_sql() -> str:
    parts = [
        _PRELUDE,
        "outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM edges_k GROUP BY src)",
        "seeds3 AS (SELECT vkey FROM verts WHERE vkey LIKE 'turn|%' ORDER BY vkey LIMIT 3)",
        "pp0 AS (SELECT vkey AS seed, vkey, 0.0 AS p, 1.0 AS r FROM seeds3)",
    ]
    for i in range(PPR_ROUNDS):
        parts.append(
            f"st{i} AS (SELECT s.seed, s.vkey, s.p, s.r,"
            f" (o.src IS NOT NULL AND s.r > 0) AS act, o.d"
            f" FROM pp{i} s LEFT JOIN outd o ON o.src = s.vkey)"
        )
        parts.append(
            f"sp{i} AS (SELECT s.seed, e.dst AS vkey, sum(0.85 * s.r / s.d) AS dr"
            f" FROM st{i} s JOIN edges_k e ON e.src = s.vkey WHERE s.act GROUP BY s.seed, e.dst)"
        )
        parts.append(
            f"pp{i + 1} AS (SELECT"
            f" coalesce(a.seed, b.seed) AS seed, coalesce(a.vkey, b.vkey) AS vkey,"
            f" coalesce(CASE WHEN a.act THEN a.p + 0.15 * a.r ELSE a.p END, 0.0) AS p,"
            f" coalesce(CASE WHEN a.act THEN 0.0 ELSE a.r END, 0.0) + coalesce(b.dr, 0.0) AS r"
            f" FROM st{i} a FULL JOIN sp{i} b ON a.seed = b.seed AND a.vkey = b.vkey)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT seed AS seed_key, vkey AS skey,"
        f" CAST(round(p * 1e6) AS BIGINT) AS score_ppm FROM pp{PPR_ROUNDS}"
        f" WHERE CAST(round(p * 1e6) AS BIGINT) > 0"
    )


def _hits_sql() -> str:
    parts = [_PRELUDE, "h0 AS (SELECT vkey, 1.0 AS auth, 1.0 AS hub FROM verts)"]
    for i in range(HITS_ROUNDS):
        parts.append(
            f"ar{i} AS (SELECT v.vkey, coalesce(x.a, 0.0) AS a, v.hub FROM h{i} v LEFT JOIN ("
            f"  SELECT e.dst, sum(h.hub) AS a FROM edges_k e JOIN h{i} h ON h.vkey = e.src"
            f"  GROUP BY e.dst) x ON x.dst = v.vkey)"
        )
        parts.append(
            f"hr{i} AS (SELECT v.vkey, v.a, coalesce(y.h, 0.0) AS h FROM ar{i} v LEFT JOIN ("
            f"  SELECT e.src, sum(s.a) AS h FROM edges_k e JOIN ar{i} s ON s.vkey = e.dst"
            f"  GROUP BY e.src) y ON y.src = v.vkey)"
        )
        parts.append(
            f"n{i} AS (SELECT sqrt(sum(a * a)) AS na, sqrt(sum(h * h)) AS nh FROM hr{i})"
        )
        parts.append(
            f"h{i + 1} AS (SELECT v.vkey,"
            f" CASE WHEN n.na > 0 THEN v.a / n.na ELSE 0.0 END AS auth,"
            f" CASE WHEN n.nh > 0 THEN v.h / n.nh ELSE 0.0 END AS hub"
            f" FROM hr{i} v CROSS JOIN n{i} n)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey,"
        f" CAST(round(auth * 1e6) AS BIGINT) AS auth_ppm,"
        f" CAST(round(hub * 1e6) AS BIGINT) AS hub_ppm FROM h{HITS_ROUNDS}"
    )


def _bfs_rounds(prefix: str, src_expr: str) -> list[str]:
    """Unrolled BFS CTE chain ``{prefix}0..{prefix}BFS_ROUNDS`` from a
    scalar source expression (shared by _bfs_sql's shape and the
    double-sweep diameter oracle)."""
    parts = [
        f"{prefix}0 AS (SELECT vkey, CASE WHEN vkey = {src_expr} THEN 0 END AS dist FROM verts)"
    ]
    for i in range(BFS_ROUNDS):
        parts.append(
            f"{prefix}{i + 1} AS (SELECT l.vkey,"
            f" CASE WHEN l.dist IS NULL THEN nm.m + 1"
            f"      WHEN nm.m IS NOT NULL AND nm.m + 1 < l.dist THEN nm.m + 1"
            f"      ELSE l.dist END AS dist"
            f" FROM {prefix}{i} l LEFT JOIN ("
            f"   SELECT e.dst, min(p.dist) AS m FROM sym e JOIN {prefix}{i} p ON p.vkey = e.src"
            f"   WHERE p.dist IS NOT NULL GROUP BY e.dst) nm ON nm.dst = l.vkey)"
        )
    return parts


TEMP_ROUNDS = 40  # temporal relax converges by 30 at sf0.01; margin


def _temporal_sql() -> str:
    """Earliest-arrival temporal reachability unrolled: the same
    label-correcting relax as q_temporal_reach — integer microsecond
    arrivals, no FP anywhere. Extra rounds past the fixpoint are
    identity, so over-unrolling is safe."""
    parts = [
        _PRELUDE,
        f"tte AS ("
        f" SELECT src, dst, ets FROM ("
        f"  SELECT {_TURNKEY} AS src,"
        f"   lead({_TURNKEY}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst,"
        f"   lead(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS ets"
        f"  FROM tr) WHERE dst IS NOT NULL"
        f" UNION ALL"
        f" SELECT {_TURNKEY}, 'tool|' || tool, epoch_us(ts) FROM tr WHERE tool IS NOT NULL"
        f" UNION ALL"
        f" SELECT 'tool|' || tool, {_TURNKEY}, epoch_us(ts) FROM tr WHERE tool IS NOT NULL)",
        f"srcrow AS (SELECT {_TURNKEY} AS vkey, epoch_us(ts) AS us FROM tr"
        f" WHERE {_TURNKEY} = {_SRC_TURN})",
        "ta0 AS (SELECT v.vkey, CASE WHEN v.vkey = s.vkey THEN s.us END AS arr"
        " FROM verts v CROSS JOIN srcrow s)",
    ]
    for i in range(TEMP_ROUNDS):
        parts.append(
            f"ta{i + 1} AS (SELECT l.vkey,"
            f" CASE WHEN nm.m IS NOT NULL AND (l.arr IS NULL OR nm.m < l.arr)"
            f" THEN nm.m ELSE l.arr END AS arr"
            f" FROM ta{i} l LEFT JOIN ("
            f"   SELECT e.dst, min(e.ets) AS m FROM tte e JOIN ta{i} p ON p.vkey = e.src"
            f"   WHERE p.arr IS NOT NULL AND e.ets >= p.arr GROUP BY e.dst) nm"
            f" ON nm.dst = l.vkey)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey, CAST(arr AS BIGINT) AS arrival_us"
        f" FROM ta{TEMP_ROUNDS} WHERE arr IS NOT NULL"
    )


def _diameter_sql() -> str:
    parts = [_PRELUDE]
    parts += _bfs_rounds("db", _SRC_TURN)
    parts.append(
        f"farv AS (SELECT vkey, dist FROM db{BFS_ROUNDS}"
        f" WHERE dist IS NOT NULL ORDER BY dist DESC, vkey LIMIT 1)"
    )
    parts += _bfs_rounds("dc", "(SELECT vkey FROM farv)")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT (SELECT vkey FROM farv) AS far_key,"
        f" CAST((SELECT dist FROM farv) AS BIGINT) AS ecc_src,"
        f" CAST(max(dist) AS BIGINT) AS diameter_est"
        f" FROM dc{BFS_ROUNDS} WHERE dist IS NOT NULL"
    )


def _seeded_bfs_body() -> str:
    """Unrolled multi-source BFS CTE chain (the _bfs_sql shape with a
    seed dimension); final table hh{BFS_ROUNDS} holds (seed, vkey,
    dist) for reached pairs — shared by the harmonic and closeness
    oracles."""
    parts = [
        _PRELUDE,
        f"seeds AS (SELECT vkey AS seed FROM verts ORDER BY vkey LIMIT {HARM_SOURCES})",
        "hh0 AS (SELECT s.seed, v.vkey,"
        " CASE WHEN v.vkey = s.seed THEN 0 END AS dist"
        " FROM verts v CROSS JOIN seeds s)",
    ]
    for i in range(BFS_ROUNDS):
        parts.append(
            f"hh{i + 1} AS (SELECT l.seed, l.vkey,"
            f" CASE WHEN l.dist IS NULL THEN nm.m + 1"
            f"      WHEN nm.m IS NOT NULL AND nm.m + 1 < l.dist THEN nm.m + 1"
            f"      ELSE l.dist END AS dist"
            f" FROM hh{i} l LEFT JOIN ("
            f"   SELECT p.seed, e.dst, min(p.dist) AS m FROM sym e JOIN hh{i} p ON p.vkey = e.src"
            f"   WHERE p.dist IS NOT NULL GROUP BY p.seed, e.dst) nm"
            f" ON nm.seed = l.seed AND nm.dst = l.vkey)"
        )
    return ",\n".join(parts)


def _harmonic_sql() -> str:
    """Seeded BFS body, then harm(v) = sum(1/dist) per vertex."""
    return (
        f"WITH {_seeded_bfs_body()}\nSELECT vkey AS skey,"
        f" CAST(round(sum(CAST(1.0 AS DOUBLE) / dist) * 1e6) AS BIGINT) AS harm_ppm"
        f" FROM hh{BFS_ROUNDS} WHERE dist IS NOT NULL AND dist > 0 GROUP BY vkey"
    )


def _closeness_sql() -> str:
    """Seeded BFS body, aggregated to the integer closeness
    statistics (self at dist 0 included)."""
    return (
        f"WITH {_seeded_bfs_body()}\nSELECT vkey AS skey,"
        f" CAST(count(*) AS BIGINT) AS n_src,"
        f" CAST(sum(dist) AS BIGINT) AS sum_dist"
        f" FROM hh{BFS_ROUNDS} WHERE dist IS NOT NULL GROUP BY vkey"
    )


def _kmeans_ctes(
    k: int, iters: int, vec_expr: str = "embedding", pfx: str = "k"
) -> tuple[list[str], str]:
    """Unrolled Lloyd trajectory CTEs over ``vec_expr`` (a list-typed
    SQL expression on embeddings — the whole column, or a slice for
    PQ subspaces). Positional unnest zipping computes the squared-L2
    distances; assignment is row_number over (d2, cid) — the Spark
    (d2, cid) struct-min comparator; means are rounded to the 1e-6
    grid each update, and empty clusters carry the previous centroid.
    Returns (parts, final_assignment_cte_name)."""
    parts = [
        f"{pfx}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,"
        f" list_transform({vec_expr}, x -> CAST(x AS DOUBLE)) AS c"
        f" FROM embeddings ORDER BY vec_id LIMIT {k})",
    ]

    def dist_assign(i: int, src: str) -> list[str]:
        return [
            f"{pfx}d{i} AS (SELECT vec_id, cid, sum((ev - cv) * (ev - cv)) AS d2 FROM ("
            f"  SELECT e.vec_id, c.cid, CAST(unnest(e.{vec_expr}) AS DOUBLE) AS ev,"
            f"         unnest(c.c) AS cv"
            f"  FROM embeddings e CROSS JOIN {src} c) GROUP BY vec_id, cid)",
            f"{pfx}a{i} AS (SELECT vec_id, cid FROM ("
            f"  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn"
            f"  FROM {pfx}d{i}) WHERE rn = 1)",
        ]

    for i in range(iters):
        parts += dist_assign(i, f"{pfx}c{i}")
        parts += [
            f"{pfx}m{i} AS (SELECT cid, pos, round(avg(val), 6) AS mv FROM ("
            f"  SELECT a.cid, generate_subscripts(e.{vec_expr}, 1) AS pos,"
            f"         CAST(unnest(e.{vec_expr}) AS DOUBLE) AS val"
            f"  FROM {pfx}a{i} a JOIN embeddings e USING (vec_id)) GROUP BY cid, pos)",
            f"{pfx}c{i + 1} AS (SELECT p.cid, coalesce(n.c, p.c) AS c FROM {pfx}c{i} p LEFT JOIN ("
            f"  SELECT cid, list(mv ORDER BY pos) AS c FROM {pfx}m{i} GROUP BY cid) n USING (cid))",
        ]
    parts += dist_assign(iters, f"{pfx}c{iters}")
    return parts, f"{pfx}a{iters}"


def _kmeans_sql() -> str:
    parts, final = _kmeans_ctes(KMEANS_K, KMEANS_ITERS)
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vec_id, CAST(cid AS INTEGER) AS cluster"
        f" FROM {final}"
    )


def _pq_sql() -> str:
    """Product-quantization twin of q_pq_codes: one independent Lloyd
    trajectory per contiguous subspace slice (DuckDB list slicing is
    1-based inclusive, = Spark's F.slice(pos, len)), codes joined on
    vec_id."""
    parts: list[str] = []
    finals: list[str] = []
    sub = PQ_DIM // PQ_M
    for j in range(PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        p, f = _kmeans_ctes(PQ_K, PQ_ITERS, f"embedding[{lo}:{hi}]", pfx=f"p{j}")
        parts += p
        finals.append(f)
    body = ",\n".join(parts)
    sel = ", ".join(f"CAST({f}.cid AS INTEGER) AS code{j}" for j, f in enumerate(finals))
    joins = finals[0] + "".join(f" JOIN {f} USING (vec_id)" for f in finals[1:])
    return f"WITH {body}\nSELECT vec_id, {sel} FROM {joins}"


def _pq_adc_sql() -> str:
    """ADC twin of q_pq_adc: per subspace, the replayed codebook +
    assignments, a µ-unit integer LUT per (query, cid), and the summed
    BIGINT distances ranked by (d2_u, neighbor_id)."""
    parts: list[str] = []
    finals: list[str] = []
    sub = PQ_DIM // PQ_M
    for j in range(PQ_M):
        p, f = _kmeans_ctes(PQ_K, PQ_ITERS, f"embedding[{j * sub + 1}:{(j + 1) * sub}]", pfx=f"p{j}")
        parts += p
        finals.append(f)
        parts.append(
            f"qlut{j} AS (SELECT qid, cid, CAST(sum((qu - cu) * (qu - cu)) AS BIGINT) AS pd FROM ("
            f"  SELECT q.vec_id AS qid, c.cid,"
            f"    CAST(round(CAST(unnest(q.embedding[{j * sub + 1}:{(j + 1) * sub}]) AS DOUBLE)"
            f"      * 1000000) AS BIGINT) AS qu,"
            f"    CAST(round(unnest(c.c) * 1000000) AS BIGINT) AS cu"
            f"  FROM embeddings q CROSS JOIN p{j}c{PQ_ITERS} c"
            f"  WHERE q.vec_id < {PQ_NQ}) GROUP BY qid, cid)"
        )
    a_joins = f"{finals[0]} a0" + "".join(
        f" JOIN {f} a{j} USING (vec_id)" for j, f in enumerate(finals) if j
    )
    l_joins = " JOIN qlut0 l0 ON l0.cid = a0.cid" + "".join(
        f" JOIN qlut{j} l{j} ON l{j}.cid = a{j}.cid AND l{j}.qid = l0.qid"
        for j in range(1, PQ_M)
    )
    d2 = " + ".join(f"l{j}.pd" for j in range(PQ_M))
    parts.append(
        f"adc AS (SELECT l0.qid AS query_id, a0.vec_id AS neighbor_id,"
        f" {d2} AS d2_u FROM {a_joins}{l_joins})"
    )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT query_id, neighbor_id, d2_u, CAST(rn AS BIGINT) AS rank FROM ("
        f"  SELECT query_id, neighbor_id, d2_u,"
        f"  row_number() OVER (PARTITION BY query_id ORDER BY d2_u, neighbor_id) AS rn"
        f"  FROM adc) WHERE rn <= {PQ_TOPK}"
    )


def _eigen_sql() -> str:
    """Unrolled power-iteration twin of q_eigenvector: per round
    raw(v) = sum of score over in-neighbors on the symmetrized table,
    then L1 normalization — expression-for-expression the Spark
    operator's arithmetic."""
    parts = [
        _PRELUDE,
        "es0 AS (SELECT vkey, 1.0 AS score FROM verts)",
    ]
    for i in range(EIG_ROUNDS):
        parts.append(
            f"er{i} AS (SELECT v.vkey, coalesce(x.raw, 0.0) AS raw FROM es{i} v LEFT JOIN ("
            f"  SELECT e.dst, sum(s.score) AS raw FROM sym e"
            f"  JOIN es{i} s ON s.vkey = e.src GROUP BY e.dst) x ON x.dst = v.vkey)"
        )
        parts.append(f"en{i} AS (SELECT sum(raw) AS l1 FROM er{i})")
        parts.append(
            f"es{i + 1} AS (SELECT v.vkey,"
            f" CASE WHEN n.l1 > 0 THEN v.raw / n.l1 ELSE 0.0 END AS score"
            f" FROM er{i} v CROSS JOIN en{i} n)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey,"
        f" CAST(round(score * 1e6) AS BIGINT) AS score_ppm FROM es{EIG_ROUNDS}"
    )


def _densest_sql(rounds: int = DENSEST_ROUNDS) -> str:
    """Unrolled epsilon=0 peel twin of q_densest: per round keep
    vertices with deg*n > 2*m on the canonical (src<dst) edge set,
    then pick the undominated round (strictly denser by
    cross-multiplication, ties to the earliest) and emit its
    members."""
    parts = [
        _PRELUDE,
        "dv0 AS (SELECT vkey AS vid FROM verts)",
        "de0 AS (SELECT src, dst FROM sym WHERE src < dst)",
        "dn0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dv0)",
        "dm0 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM de0)",
    ]
    for i in range(rounds):
        parts.append(
            f"dv{i + 1} AS (SELECT v.vid FROM dv{i} v LEFT JOIN ("
            f"  SELECT vid, count(*) AS deg FROM ("
            f"    SELECT src AS vid FROM de{i} UNION ALL SELECT dst FROM de{i}) GROUP BY vid"
            f") d ON d.vid = v.vid CROSS JOIN dn{i} CROSS JOIN dm{i}"
            f" WHERE coalesce(d.deg, 0) * n > 2 * m)"
        )
        parts.append(
            f"de{i + 1} AS (SELECT e.src, e.dst FROM de{i} e"
            f" JOIN dv{i + 1} a ON a.vid = e.src JOIN dv{i + 1} b ON b.vid = e.dst)"
        )
        parts.append(f"dn{i + 1} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dv{i + 1})")
        parts.append(f"dm{i + 1} AS (SELECT CAST(count(*) AS BIGINT) AS m FROM de{i + 1})")
    summaries = " UNION ALL ".join(
        f"SELECT {i} AS r, n, m FROM dn{i} CROSS JOIN dm{i}" for i in range(rounds + 1)
    )
    members = " UNION ALL ".join(
        f"SELECT {i} AS r, vid FROM dv{i}" for i in range(rounds + 1)
    )
    parts.append(f"dsum AS (SELECT * FROM ({summaries}) WHERE n > 0)")
    parts.append(
        "dbest AS (SELECT s.r, s.n, s.m FROM dsum s WHERE NOT EXISTS ("
        "  SELECT 1 FROM dsum t WHERE t.m * s.n > s.m * t.n"
        "  OR (t.m * s.n = s.m * t.n AND t.r < s.r)))"
    )
    parts.append(f"dmem AS ({members})")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        "SELECT v.vid AS skey, b.n AS n_sub, b.m AS m_sub"
        " FROM dmem v JOIN dbest b ON v.r = b.r"
    )


def _mis_sql(rounds: int = MIS_ROUNDS) -> str:
    """Unrolled Luby MIS twin of q_mis: fresh portable md5 priority
    per (round, vkey); winners beat every live neighbor on (h, vid);
    winners + their neighborhoods retire each round."""
    from essentials_spark.functions.portable_hash import sql_md5_int60

    parts = [
        _PRELUDE,
        "mv0 AS (SELECT vkey AS vid FROM verts)",
        "me0 AS (SELECT src, dst FROM sym)",
    ]
    for r in range(1, rounds + 1):
        h = sql_md5_int60(f"'mis' || '|' || '{r}' || '|' || vid")
        parts.append(f"mh{r} AS (SELECT vid, {h} AS h FROM mv{r - 1})")
        parts.append(
            f"mw{r} AS (SELECT v.vid FROM mv{r - 1} v LEFT JOIN ("
            f"  SELECT DISTINCT e.src AS vid FROM me{r - 1} e"
            f"  JOIN mh{r} a ON a.vid = e.src JOIN mh{r} b ON b.vid = e.dst"
            f"  WHERE b.h < a.h OR (b.h = a.h AND e.dst < e.src)"
            f") l ON l.vid = v.vid WHERE l.vid IS NULL)"
        )
        parts.append(
            f"mv{r} AS (SELECT v.vid FROM mv{r - 1} v LEFT JOIN ("
            f"  SELECT vid FROM mw{r} UNION"
            f"  SELECT DISTINCT e.dst FROM me{r - 1} e JOIN mw{r} w ON w.vid = e.src"
            f") g ON g.vid = v.vid WHERE g.vid IS NULL)"
        )
        parts.append(
            f"me{r} AS (SELECT e.src, e.dst FROM me{r - 1} e"
            f" JOIN mv{r} a ON a.vid = e.src JOIN mv{r} b ON b.vid = e.dst)"
        )
    sel = " UNION ALL ".join(
        f"SELECT vid AS skey, CAST({r} AS INT) AS mis_round FROM mw{r}"
        for r in range(1, rounds + 1)
    )
    body = ",\n".join(parts)
    return f"WITH {body}\n{sel}"


def _bpe_vocab_sql(merges: int = BPE_MERGES) -> str:
    """Vocabulary twin of q_bpe_vocab: distinct post-merge symbols of
    the trained word table, dense lexicographic ids, distinct-word
    coverage counts."""
    parts = list(_bpe_parts(merges))
    parts.append(
        f"bvt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_words FROM ("
        f"  SELECT unnest(list_distinct(string_split(s, ' '))) AS token FROM bw{merges}"
        f") GROUP BY token)"
    )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        "SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id,"
        " n_words FROM bvt"
    )


def _katz_sql() -> str:
    """Unrolled Katz twin of q_katz: per round
    score = 1.0 + alpha * sum of in-neighbor scores on the
    symmetrized table, from score_0 = 1.0."""
    parts = [
        _PRELUDE,
        "ks0 AS (SELECT vkey, CAST(1.0 AS DOUBLE) AS score FROM verts)",
    ]
    for i in range(KATZ_ROUNDS):
        parts.append(
            # CAST to DOUBLE: a bare decimal literal makes DuckDB do
            # DECIMAL arithmetic whose scale overflows after a few
            # rounds; Spark's lit() is double — match it exactly
            f"ks{i + 1} AS (SELECT v.vkey,"
            f" 1.0 + CAST({KATZ_ALPHA!r} AS DOUBLE) * coalesce(x.raw, 0.0) AS score FROM ks{i} v LEFT JOIN ("
            f"  SELECT e.dst, sum(s.score) AS raw FROM sym e"
            f"  JOIN ks{i} s ON s.vkey = e.src GROUP BY e.dst) x ON x.dst = v.vkey)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey,"
        f" CAST(round(score * 1e6) AS BIGINT) AS score_ppm FROM ks{KATZ_ROUNDS}"
    )


def _salsa_sql() -> str:
    """Unrolled SALSA twin of q_salsa. Contributions are
    ``score * (1.0 / deg)`` — the precomputed-reciprocal operation
    order the Spark side uses — so both engines round identically."""
    parts = [
        _PRELUDE,
        "od AS (SELECT src, 1.0 / count(*) AS w_out FROM edges_k GROUP BY src)",
        "idg AS (SELECT dst, 1.0 / count(*) AS w_in FROM edges_k GROUP BY dst)",
        "s0 AS (SELECT vkey, 1.0 AS auth, 1.0 AS hub FROM verts)",
    ]
    for i in range(HITS_ROUNDS):
        parts.append(
            f"sa{i} AS (SELECT v.vkey, coalesce(x.a, 0.0) AS a, v.hub FROM s{i} v LEFT JOIN ("
            f"  SELECT e.dst, sum(h.hub * o.w_out) AS a FROM edges_k e"
            f"  JOIN s{i} h ON h.vkey = e.src JOIN od o ON o.src = e.src"
            f"  GROUP BY e.dst) x ON x.dst = v.vkey)"
        )
        parts.append(
            f"sh{i} AS (SELECT v.vkey, v.a, coalesce(y.h, 0.0) AS h FROM sa{i} v LEFT JOIN ("
            f"  SELECT e.src, sum(s.a * d.w_in) AS h FROM edges_k e"
            f"  JOIN sa{i} s ON s.vkey = e.dst JOIN idg d ON d.dst = e.dst"
            f"  GROUP BY e.src) y ON y.src = v.vkey)"
        )
        parts.append(f"sn{i} AS (SELECT sum(a) AS na, sum(h) AS nh FROM sh{i})")
        parts.append(
            f"s{i + 1} AS (SELECT v.vkey,"
            f" CASE WHEN n.na > 0 THEN v.a / n.na ELSE 0.0 END AS auth,"
            f" CASE WHEN n.nh > 0 THEN v.h / n.nh ELSE 0.0 END AS hub"
            f" FROM sh{i} v CROSS JOIN sn{i} n)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey,"
        f" CAST(round(auth * 1e6) AS BIGINT) AS auth_ppm,"
        f" CAST(round(hub * 1e6) AS BIGINT) AS hub_ppm FROM s{HITS_ROUNDS}"
    )


def _geo_sql() -> str:
    parts = [
        _PRELUDE,
        "g0 AS (SELECT vkey,"
        " CAST(ascii(substr(vkey, 6, 1)) % 90 AS DOUBLE) AS lat,"
        " CAST(ascii(substr(vkey, 7, 1)) % 180 AS DOUBLE) AS lon"
        " FROM verts WHERE vkey LIKE 'tool|%')",
    ]
    for i in range(GEO_ROUNDS):
        parts.append(
            f"g{i + 1} AS (SELECT vkey, lat, lon FROM g{i}"
            f" UNION ALL"
            f" SELECT e.dst AS vkey, avg(p.lat) AS lat, avg(p.lon) AS lon"
            f" FROM sym e JOIN g{i} p ON p.vkey = e.src"
            f" LEFT JOIN g{i} q ON q.vkey = e.dst"
            f" WHERE q.vkey IS NULL GROUP BY e.dst)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT vkey AS skey, round(lat, 6) AS lat, round(lon, 6) AS lon"
        f" FROM g{GEO_ROUNDS}"
    )


def _kcore_sql() -> str:
    """Core numbers via the iterated neighbor h-index fixpoint
    (Lü et al. 2016): c_0 = degree; c_{t+1}(v) = H({c_t(u): u~v})
    converges to the coreness — an oracle computable with a window
    row_number per round, structurally independent of the engine's
    peel-by-k algorithm (a real cross-check, not self-consistency)."""
    parts = [
        _PRELUDE,
        "kc0 AS (SELECT v.vkey, CAST(coalesce(d.c, 0) AS BIGINT) AS c FROM verts v"
        " LEFT JOIN (SELECT src, count(*) AS c FROM sym GROUP BY src) d ON d.src = v.vkey)",
    ]
    for i in range(KCORE_ROUNDS):
        parts.append(
            f"kc{i + 1} AS (SELECT v.vkey, CAST(coalesce(h.h, 0) AS BIGINT) AS c"
            f" FROM kc{i} v LEFT JOIN ("
            f"  SELECT dst, max(least(rn, c)) AS h FROM ("
            f"    SELECT e.dst, p.c, row_number() OVER (PARTITION BY e.dst ORDER BY p.c DESC) AS rn"
            f"    FROM sym e JOIN kc{i} p ON p.vkey = e.src)"
            f"  GROUP BY dst) h ON h.dst = v.vkey)"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT vkey AS skey, c AS core FROM kc{KCORE_ROUNDS}"


def _bc_sql() -> str:
    """Unrolled Brandes for the 3 min turn-key seeds: forward BFS with
    sigma path counts, then backward dependency accumulation from the
    deepest level, 0.5x-scaled (reference bc.hxx:168)."""
    parts = [
        _PRELUDE,
        "bcs AS (SELECT vkey FROM verts WHERE vkey LIKE 'turn|%' ORDER BY vkey LIMIT 3)",
        "f0 AS (SELECT vkey AS seed, vkey, 0 AS depth, CAST(1.0 AS DOUBLE) AS sigma FROM bcs)",
    ]
    for i in range(BC_ROUNDS):
        parts.append(
            f"f{i + 1} AS ("
            f" SELECT seed, vkey, depth, sigma FROM f{i}"
            f" UNION ALL"
            f" SELECT nd.seed, nd.vkey, {i + 1} AS depth, nd.sigma FROM ("
            f"   SELECT p.seed, e.dst AS vkey, sum(p.sigma) AS sigma"
            f"   FROM sym e JOIN f{i} p ON p.vkey = e.src AND p.depth = {i}"
            f"   GROUP BY p.seed, e.dst) nd"
            f" LEFT JOIN f{i} q ON q.seed = nd.seed AND q.vkey = nd.vkey"
            f" WHERE q.vkey IS NULL)"
        )
    parts.append(
        f"g0 AS (SELECT seed, vkey, depth, sigma, CAST(0.0 AS DOUBLE) AS delta FROM f{BC_ROUNDS})"
    )
    for j, d in enumerate(range(BC_ROUNDS, 0, -1)):
        parts.append(
            f"g{j + 1} AS (SELECT a.seed, a.vkey, a.depth, a.sigma,"
            f" a.delta + coalesce(c.dd, 0.0) AS delta"
            f" FROM g{j} a LEFT JOIN ("
            f"   SELECT w.seed, e.src AS vkey,"
            f"     sum(v.sigma / w.sigma * (1.0 + w.delta)) AS dd"
            f"   FROM sym e"
            f"   JOIN g{j} w ON w.vkey = e.dst AND w.depth = {d}"
            f"   JOIN g{j} v ON v.seed = w.seed AND v.vkey = e.src AND v.depth = {d - 1}"
            f"   GROUP BY w.seed, e.src) c"
            f" ON c.seed = a.seed AND c.vkey = a.vkey)"
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT v.vkey AS skey, round(coalesce(x.b, 0.0), 6) AS bc"
        f" FROM verts v LEFT JOIN ("
        f"   SELECT vkey, 0.5 * sum(delta) AS b FROM g{BC_ROUNDS} WHERE vkey <> seed GROUP BY vkey"
        f" ) x ON x.vkey = v.vkey"
    )


def _mst_sql() -> str:
    """MSF total weight + edge count WITHOUT computing a spanning tree:
    the weight multiset of any minimum spanning forest is unique, and
    for each weight class w the MSF uses exactly
    ncomp(edges < w) - ncomp(edges <= w) edges of weight w. With 8
    integer md5 weight classes this reduces to connected components at
    8 thresholds — folded into ONE unrolled CC over (threshold, vertex)
    keys. Structurally independent of the engine's Boruvka."""
    wexpr = "CAST(1.0 + (ascii(substr(md5(src || '>' || dst), 1, 1)) % 8) AS DOUBLE)"
    parts = [
        _PRELUDE,
        # canonical undirected weight = min over directed orientations
        f"undw AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b, min({wexpr}) AS w"
        f" FROM edges_k WHERE src <> dst GROUP BY 1, 2)",
        "tsym AS (SELECT a AS src, b AS dst, w FROM undw UNION ALL SELECT b, a, w FROM undw)",
        "tlev AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) lv(t))",
        "te AS (SELECT lv.t, e.src, e.dst FROM tsym e JOIN tlev lv ON e.w <= lv.t)",
        "mc0 AS (SELECT lv.t, v.vkey, v.vkey AS lab FROM verts v CROSS JOIN tlev lv)",
    ]
    for i in range(MST_CC_ROUNDS):
        parts.append(
            f"mc{i + 1} AS (SELECT l.t, l.vkey,"
            f" least(l.lab, coalesce(nm.m, l.lab), coalesce(j.lab, l.lab)) AS lab"
            f" FROM mc{i} l"
            f" LEFT JOIN (SELECT e.t, e.dst, min(p.lab) AS m FROM te e"
            f"   JOIN mc{i} p ON p.t = e.t AND p.vkey = e.src GROUP BY e.t, e.dst) nm"
            f"   ON nm.t = l.t AND nm.dst = l.vkey"
            f" LEFT JOIN mc{i} j ON j.t = l.t AND j.vkey = l.lab)"
        )
    parts.append(
        f"nc AS (SELECT t, count(DISTINCT lab) AS ncomp FROM mc{MST_CC_ROUNDS} GROUP BY t)"
    )
    parts.append("nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM verts)")
    parts.append(
        "lvl AS (SELECT t, ncomp,"
        " coalesce(lag(ncomp, 1) OVER (ORDER BY t), (SELECT n FROM nv)) AS prevc FROM nc)"
    )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT"
        f" (SELECT n FROM nv) - (SELECT CAST(ncomp AS BIGINT) FROM nc WHERE t = 8) AS n_chosen,"
        f" (SELECT CAST(sum(t * (prevc - ncomp)) AS DOUBLE) FROM lvl) AS mst_total"
    )


_TRI_BODY = """
und AS (SELECT src, dst FROM sym WHERE src < dst),
tri AS (
  SELECT a.src AS x, a.dst AS y, b.dst AS z
  FROM und a JOIN und b ON b.src = a.dst JOIN und c ON c.src = a.src AND c.dst = b.dst
),
corners AS (
  SELECT v AS vkey, count(*) AS tc FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY v
)
"""


def _ktruss_sql(k: int, rounds: int, prelude: str | None = None, t0: str | None = None) -> str:
    """Unrolled k-truss peel: per round, enumerate triangles
    (x < y < z) on the current edge set, count per-edge support, keep
    support >= k-2. Defaults to the membership graph's canonical edge
    set; pass (prelude, t0) for a different base graph."""
    parts = [
        prelude if prelude is not None else _PRELUDE_M,
        f"t0 AS ({t0})" if t0 is not None else "t0 AS (SELECT src, dst FROM sym WHERE src < dst)",
    ]
    for i in range(rounds):
        parts.append(
            f"tri{i} AS (SELECT a.src AS x, a.dst AS y, b.dst AS z"
            f" FROM t{i} a JOIN t{i} b ON b.src = a.dst"
            f" JOIN t{i} c ON c.src = a.src AND c.dst = b.dst)"
        )
        parts.append(
            f"sup{i} AS (SELECT src, dst, count(*) AS s FROM ("
            f"SELECT x AS src, y AS dst FROM tri{i}"
            f" UNION ALL SELECT y, z FROM tri{i}"
            f" UNION ALL SELECT x, z FROM tri{i}) GROUP BY src, dst)"
        )
        parts.append(
            f"t{i + 1} AS (SELECT e.src, e.dst FROM t{i} e"
            f" JOIN sup{i} s ON s.src = e.src AND s.dst = e.dst"
            f" WHERE s.s >= {k - 2})"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT src AS src_key, dst AS dst_key FROM t{rounds}"


# canonical edge set of the windowed (w=3) turn graph + tool links —
# 'tool|' sorts BELOW 'turn|', so tool edges flip under least/greatest
_T0_WINDOWED = (
    "SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst FROM ("
    "  SELECT vkey AS src, lead(vkey, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst FROM turnv"
    "  UNION ALL"
    "  SELECT vkey, lead(vkey, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx) FROM turnv"
    "  UNION ALL"
    "  SELECT vkey, lead(vkey, 3) OVER (PARTITION BY conv_id ORDER BY turn_idx) FROM turnv"
    "  UNION ALL"
    "  SELECT src, dst FROM toole"
    ") WHERE dst IS NOT NULL AND src <> dst"
)


def _truss_round_ctes(src: str, tag: str, k: int) -> tuple[list[str], str]:
    """One support-and-keep peel round starting from CTE ``src``."""
    tri, sup, nxt = f"tri_{tag}", f"sup_{tag}", f"p_{tag}"
    return [
        f"{tri} AS (SELECT a.src AS x, a.dst AS y, b.dst AS z"
        f" FROM {src} a JOIN {src} b ON b.src = a.dst"
        f" JOIN {src} c ON c.src = a.src AND c.dst = b.dst)",
        f"{sup} AS (SELECT src, dst, count(*) AS s FROM ("
        f"SELECT x AS src, y AS dst FROM {tri}"
        f" UNION ALL SELECT y, z FROM {tri}"
        f" UNION ALL SELECT x, z FROM {tri}) GROUP BY src, dst)",
        f"{nxt} AS (SELECT e.src, e.dst FROM {src} e"
        f" JOIN {sup} s ON s.src = e.src AND s.dst = e.dst"
        f" WHERE s.s >= {k - 2})",
    ], nxt


def _truss_decomposition_sql(k_hi: int, rounds: int, prelude: str, t0: str) -> str:
    """Ascending chained peel: the k fixpoint seeds the k+1 peel (same
    nesting the Spark path exploits); trussness = 2 + number of
    fixpoint sets containing the edge. ``rounds`` per k must exceed
    the cascade depth — extra rounds are identity at the fixpoint."""
    parts = [prelude, f"e0 AS ({t0})"]
    cur = "e0"
    fixpoints = []
    for k in range(3, k_hi + 1):
        for i in range(rounds):
            ctes, cur = _truss_round_ctes(cur, f"{k}_{i}", k)
            parts.extend(ctes)
        fixpoints.append((k, cur))
    flags = " + ".join(
        f"(CASE WHEN f{k}.src IS NOT NULL THEN 1 ELSE 0 END)" for k, _ in fixpoints
    )
    joins = " ".join(
        f"LEFT JOIN {name} f{k} ON f{k}.src = e.src AND f{k}.dst = e.dst"
        for k, name in fixpoints
    )
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT e.src AS src_key, e.dst AS dst_key,"
        f" CAST(2 + {flags} AS INT) AS trussness FROM e0 e {joins}"
    )


def _minhash_ctes(src: str = "documents", num_perm: int = 64, bands: int = 16, k: int = 3,
                  cap: int = 64, chain_width: int = 2, min_sim: float = 0.5,
                  cc_rounds: int = 12) -> str:
    """CTE chain (no WITH/final SELECT) of the portable minhash-dedup
    pipeline over relation ``src`` (must expose doc_id, text); the
    final CTE ``l{cc_rounds}`` holds (id, label). Embeddable — the
    curate_corpus oracle runs it over its survivor set."""
    from essentials_spark.functions.portable_hash import H30, MERSENNE31, PERM_A, PERM_B

    rows = num_perm // bands
    perms = ", ".join(
        f"min(({PERM_A[i]} * h + {PERM_B[i]}) % {MERSENNE31}) AS s{i}" for i in range(num_perm)
    )
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, ({key}) AS bucket FROM sig".format(
            b=b,
            key=" || ',' || ".join(f"s{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(bands)
    )
    eq_terms = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    chain_selects = " UNION ALL ".join(
        f"SELECT id AS a, lead(id, {j}) OVER (PARTITION BY band, bucket ORDER BY id) AS b"
        f" FROM tagged WHERE bn > {cap}"
        for j in range(1, chain_width + 1)
    )
    cc = []
    for t in range(cc_rounds):
        cc.append(
            f"l{t + 1} AS (SELECT v.id, least(v.label, coalesce(m.nm, v.label), j.label) AS label"
            f" FROM l{t} v"
            f" LEFT JOIN (SELECT e.dst AS id, min(lv.label) AS nm FROM eddir e"
            f" JOIN l{t} lv ON lv.id = e.src GROUP BY e.dst) m ON m.id = v.id"
            f" JOIN l{t} j ON j.id = v.label)"
        )
    return f"""toks AS (SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM {src}),
sh AS (SELECT id, (('0x' || substr(md5(array_to_string(list_slice(t, i+1, i+{k}), ' ')), 1, 15))::BIGINT) % {H30} AS h
  FROM toks, unnest(range(0, greatest(len(t)-{k}, 0)+1)) AS u(i) WHERE len(t) > 0),
sig AS (SELECT id, {perms} FROM sh GROUP BY id),
banded AS ({band_selects}),
sizes AS (SELECT band, bucket, count(*) AS bn FROM banded GROUP BY band, bucket),
tagged AS (SELECT x.id, x.band, x.bucket, s.bn FROM banded x JOIN sizes s ON s.band = x.band AND s.bucket = x.bucket),
smallp AS (SELECT l.id AS a, r.id AS b FROM tagged l JOIN tagged r
  ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id WHERE l.bn <= {cap}),
chainp AS ({chain_selects}),
cand AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM smallp UNION ALL SELECT a, b FROM chainp WHERE b IS NOT NULL)),
pairs AS (SELECT c.a, c.b FROM cand c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b
  WHERE round(({eq_terms}) / {float(num_perm)}, 6) >= {min_sim}),
eddir AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b AS src, a AS dst FROM pairs),
l0 AS (SELECT doc_id AS id, doc_id AS label FROM {src}),
{', '.join(cc)}"""


def _minhash_sql(cc_rounds: int = 12) -> str:
    """DuckDB twin of q_minhash_dedup: md5/affine minhash + banded LSH +
    capped bucket pairing + sig-similarity verify + unrolled hash-min-
    with-pointer-jump CC (constants shared via functions/portable_hash)."""
    return f"""
WITH {_minhash_ctes(cc_rounds=cc_rounds)}
SELECT id, label AS cluster, (id = label) AS keep FROM l{cc_rounds}
"""


def _keep_best_sql(cc_rounds: int = 12) -> str:
    """Twin of q_dedup_keep_best: minhash clusters (the l{cc_rounds}
    chain) + the doc_quality expression as a q_ppm BIGINT + argmax per
    cluster with min-id ties (row_number ORDER BY q_ppm DESC, id)."""
    return f"""
WITH {_minhash_ctes(cc_rounds=cc_rounds)},
kbq AS (
  SELECT doc_id, CAST(round(round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
      least(1.0, n_tokens / 100.0) * 0.4
      + (1.0 - least(1.0, n_punct / CAST(greatest(n_tokens, 1) AS DOUBLE))) * 0.2
      + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4 END, 6) * 1e6) AS BIGINT) AS q_ppm
  FROM (
    SELECT doc_id,
      length(string_split(trim(text), ' ')) AS n_tokens,
      length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
      length(list_distinct(string_split(trim(text), ' '))) AS n_distinct
    FROM documents)
),
kbw AS (
  SELECT cluster, id AS winner FROM (
    SELECT l.label AS cluster, l.id,
      row_number() OVER (PARTITION BY l.label ORDER BY q.q_ppm DESC, l.id ASC) AS rn
    FROM l{cc_rounds} l JOIN kbq q ON q.doc_id = l.id) WHERE rn = 1
)
SELECT l.id AS doc_id, l.label AS cluster, (l.id = w.winner) AS keep
FROM l{cc_rounds} l JOIN kbw w ON w.cluster = l.label
"""


def _simhash_sql(nbits: int = 32) -> str:
    """DuckDB twin of q_simhash (portable 32-bit signature)."""
    bit_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(nbits)
    )
    return f"""
WITH toksu AS (SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents),
h AS (SELECT id, (('0x' || substr(md5(tok), 1, 15))::BIGINT) % {1 << 32} AS h FROM toksu)
SELECT id, CAST({bit_terms} AS BIGINT) AS simhash FROM h GROUP BY id
"""


def _embpairs_sql(bits: int = 10, tables: int = 6, dim: int = 64) -> str:
    """DuckDB twin of q_embed_pairs: same literal hyperplanes, bucket
    self-join (a < b, distinct — uncapped, matching bucket_cap=None),
    exact cosine rounded to 6 decimals, threshold filter."""
    from essentials_spark.functions.portable_hash import plane_components

    planes = plane_components(tables, bits, dim)

    def sig_expr(t: int) -> str:
        terms = []
        for b in range(bits):
            arr = "[" + ", ".join(repr(c) for c in planes[t][b]) + "]::DOUBLE[]"
            terms.append(f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << b} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    unions = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {sig_expr(t)} AS sig FROM e" for t in range(tables)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS ({unions}),
p AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
    round(list_dot_product(l.v, r.v)
      / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6) AS sim
  FROM s l JOIN s r ON l.tbl = r.tbl AND l.sig = r.sig AND l.vec_id < r.vec_id)
SELECT a, b, CAST(round(sim * 1e6) AS BIGINT) AS sim_e6
FROM p WHERE sim >= {EMB_MIN_SIM}
"""


def _annlsh_sql(bits: int = 10, tables: int = 6, dim: int = 64) -> str:
    """DuckDB twin of q_lsh_topk: the literal hyperplane components are
    the same plane_components() values inlined into the Spark plan."""
    from essentials_spark.functions.portable_hash import plane_components

    planes = plane_components(tables, bits, dim)

    def sig_expr(t: int) -> str:
        terms = []
        for b in range(bits):
            arr = "[" + ", ".join(repr(c) for c in planes[t][b]) + "]::DOUBLE[]"
            terms.append(f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << b} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    unions = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {sig_expr(t)} AS sig FROM e" for t in range(tables)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS ({unions}),
p AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.v, c.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
  FROM s q JOIN s c ON q.tbl = c.tbl AND q.sig = c.sig AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {ANN_NQ}),
r AS (SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM p)
SELECT query_id, neighbor_id, CAST(round(sim * 1e6) AS BIGINT) AS sim_e6,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {ANN_K}
"""


def _curate_sql(min_quality: float = 0.6, lang: str = "en", cc_rounds: int = 12) -> str:
    """DuckDB twin of q_curate: quality + language gates, exact dedup
    (normalized-md5, keep min id), then the embedded portable minhash
    pipeline over the survivors; one audit row per input document."""
    lang_markers = {
        "en": ["the", "and", "of", "to", "a"],
        "es": ["el", "la", "de", "que", "y"],
        "fr": ["le", "la", "de", "et", "un"],
        "de": ["der", "die", "und", "das", "ein"],
    }
    per_lang = " UNION ALL ".join(
        f"SELECT doc_id, '{lg}' AS lang,"
        f" length(list_intersect(ltoks, {words!r})) AS hits FROM ltok"
        for lg, words in lang_markers.items()
    )
    return f"""
WITH feat AS (
  SELECT doc_id,
    length(string_split(trim(text), ' ')) AS n_tokens,
    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
    length(list_distinct(string_split(trim(text), ' '))) AS n_distinct
  FROM documents
),
qual AS (
  SELECT doc_id, round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    least(1.0, n_tokens / 100.0) * 0.4
    + (1.0 - least(1.0, n_punct / CAST(greatest(n_tokens, 1) AS DOUBLE))) * 0.2
    + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4 END, 6) AS quality
  FROM feat
),
ltok AS (
  SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS ltoks FROM documents
),
lscored AS ({per_lang}),
lbest AS (
  SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM lscored
),
gated AS (
  SELECT d.doc_id, d.text, q.quality, b.lang_pred,
    CASE WHEN q.quality < {min_quality} THEN 'quality'
         WHEN b.lang_pred <> '{lang}' THEN 'lang' END AS gate_reason
  FROM documents d
  JOIN qual q ON q.doc_id = d.doc_id
  JOIN lbest b ON b.doc_id = d.doc_id AND b.rn = 1
),
s1 AS (SELECT doc_id, text FROM gated WHERE gate_reason IS NULL),
fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f FROM s1),
ekeep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN ekeep ON ekeep.doc_id = s1.doc_id),
{_minhash_ctes(src="s2", cc_rounds=cc_rounds)},
nkeep AS (SELECT id AS doc_id FROM l{cc_rounds} WHERE id = label)
SELECT g.doc_id, g.quality, g.lang_pred,
  (coalesce(g.gate_reason,
     CASE WHEN e.doc_id IS NULL THEN 'exact_dup' END,
     CASE WHEN n.doc_id IS NULL THEN 'near_dup' END) IS NULL) AS kept,
  coalesce(g.gate_reason,
     CASE WHEN e.doc_id IS NULL THEN 'exact_dup' END,
     CASE WHEN n.doc_id IS NULL THEN 'near_dup' END) AS reason
FROM gated g
LEFT JOIN ekeep e ON e.doc_id = g.doc_id
LEFT JOIN nkeep n ON n.doc_id = g.doc_id
"""


def _annivf_sql(n_cells: int = 16, nprobe: int = 4, dim: int = 64) -> str:
    """DuckDB twin of q_ivf_topk: the literal codebook vectors are the
    same _ivf_codebook values inlined into the Spark plan; tie order
    (score DESC, cell ASC) matches the Spark (score, -j) comparator."""
    from essentials_spark.ann.cosine import _ivf_codebook

    codebook = _ivf_codebook(n_cells, dim)

    def scored(filter_sql: str) -> str:
        return " UNION ALL ".join(
            "SELECT vec_id, v, {j} AS cell, list_dot_product(v, {arr}::DOUBLE[]) AS s"
            " FROM e{flt}".format(
                j=j,
                arr="[" + ", ".join(repr(c) for c in codebook[j]) + "]",
                flt=filter_sql,
            )
            for j in range(n_cells)
        )

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qsc AS ({scored(f' WHERE vec_id < {ANN_NQ}')}),
qs AS (SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM qsc
  ) WHERE rn <= {nprobe}),
csc AS ({scored('')}),
cs AS (SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn FROM csc
  ) WHERE rn <= 1),
p AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.v, c.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
  FROM qs q JOIN cs c ON q.cell = c.cell AND c.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM p)
SELECT query_id, neighbor_id, CAST(round(sim * 1e6) AS BIGINT) AS sim_e6,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {ANN_K}
"""


def _materialize_ctes(sql: str) -> str:
    """Force DuckDB to materialize every CTE: the unrolled iterative
    oracles reference each previous iteration 2-3 times, and default
    CTE inlining makes the expansion exponential (observed: fd
    exhaustion from ~2^20 inlined parquet scans)."""
    import re

    return re.sub(r"(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def _walks_parts() -> tuple[list[str], str]:
    """Shared trajectory CTE chain: the same ranked dst-ascending
    adjacency (vkey order == vid order), the same portable md5 choice
    hash per (walker, step). Returns (cte_parts, walks_union_select)."""
    from essentials_spark.functions.portable_hash import sql_md5_int60

    parts = [
        _PRELUDE,
        "ranked AS (SELECT src, dst,"
        " row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,"
        " count(*) OVER (PARTITION BY src) AS deg FROM sym)",
        "w0 AS (SELECT vkey || '#0' AS wid, vkey AS cur FROM verts)",
    ]
    for t in range(1, WALK_LEN + 1):
        h = sql_md5_int60(f"w.wid || ':{t}'")
        parts.append(
            f"w{t} AS (SELECT w.wid, r.dst AS cur FROM w{t - 1} w JOIN ranked r"
            f" ON r.src = w.cur AND r.rnk = 1 + ({h} % r.deg))"
        )
    union = " UNION ALL ".join(
        f"SELECT wid, CAST({t} AS INT) AS step, cur FROM w{t}"
        for t in range(WALK_LEN + 1)
    )
    return parts, union


def _walks_sql() -> str:
    parts, union = _walks_parts()
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT wid, step, cur AS skey FROM ({union})"


def _walk_contexts_sql(window: int = 2) -> str:
    """Skip-gram pairs over the replayed trajectories: lead(cur, d)
    per wid (mirroring walk_contexts' window pass), both directions,
    counted."""
    parts, union = _walks_parts()
    leads = ", ".join(
        f"lead(cur, {d}) OVER (PARTITION BY wid ORDER BY step) AS c{d}"
        for d in range(1, window + 1)
    )
    parts.append(f"wt AS ({union})")
    parts.append(f"led AS (SELECT cur, {leads} FROM wt)")
    pair_selects = []
    for d in range(1, window + 1):
        pair_selects.append(f"SELECT cur AS center, c{d} AS ctx FROM led WHERE c{d} IS NOT NULL")
        pair_selects.append(f"SELECT c{d} AS center, cur AS ctx FROM led WHERE c{d} IS NOT NULL")
    parts.append("ctxp AS (" + " UNION ALL ".join(pair_selects) + ")")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        "SELECT center AS center_key, ctx AS ctx_key, count(*) AS cnt"
        " FROM ctxp GROUP BY center, ctx"
    )


def _node2vec_sql() -> str:
    """Replay q_node2vec's second-order trajectories: candidate
    expansion from the ranked adjacency, N(prev) membership via a LEFT
    probe of the sym edge set, integer cumulative pick = h % total."""
    from essentials_spark.functions.portable_hash import sql_md5_int60

    w_ret, w_com, w_far = N2V_W
    parts = [
        _PRELUDE,
        "ranked AS (SELECT src, dst,"
        " row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,"
        " count(*) OVER (PARTITION BY src) AS deg FROM sym)",
        "v0 AS (SELECT vkey || '@0' AS wid, vkey AS cur FROM verts)",
    ]
    h1 = sql_md5_int60("w.wid || ':1'")
    parts.append(
        f"v1 AS (SELECT w.wid, w.cur AS prev, r.dst AS cur FROM v0 w JOIN ranked r"
        f" ON r.src = w.cur AND r.rnk = 1 + ({h1} % r.deg))"
    )
    for t in range(2, WALK_LEN + 1):
        h = sql_md5_int60(f"v.wid || ':{t}'")
        # hub cap (max_expand=N2V_CAP): walkers on deg > cap vertices
        # take the first-order point probe; the rest the biased pick
        parts.append(
            f"big{t} AS (SELECT v.wid, v.cur AS prev, r.dst AS cur"
            f" FROM v{t - 1} v JOIN ranked r ON r.src = v.cur"
            f" AND r.deg > {N2V_CAP} AND r.rnk = 1 + ({h} % r.deg))"
        )
        parts.append(
            f"cand{t} AS (SELECT v.wid, v.prev, v.cur, r.dst, r.rnk, {h} AS h,"
            f" CASE WHEN r.dst = v.prev THEN {w_ret}"
            f" WHEN m.src IS NOT NULL THEN {w_com}"
            f" ELSE {w_far} END AS w"
            f" FROM v{t - 1} v JOIN ranked r ON r.src = v.cur AND r.deg <= {N2V_CAP}"
            f" LEFT JOIN sym m ON m.src = v.prev AND m.dst = r.dst)"
        )
        parts.append(
            f"v{t} AS (SELECT wid, cur AS prev, dst AS cur FROM ("
            f" SELECT wid, cur, dst, w, h,"
            f" sum(w) OVER (PARTITION BY wid ORDER BY rnk) AS cum,"
            f" sum(w) OVER (PARTITION BY wid) AS tot"
            f" FROM cand{t})"
            f" WHERE (h % tot) >= cum - w AND (h % tot) < cum"
            f" UNION ALL SELECT wid, prev, cur FROM big{t})"
        )
    body = ",\n".join(parts)
    selects = ["SELECT wid, CAST(0 AS INT) AS step, cur AS skey FROM v0"] + [
        f"SELECT wid, CAST({t} AS INT) AS step, cur AS skey FROM v{t}"
        for t in range(1, WALK_LEN + 1)
    ]
    return f"WITH {body}\n" + " UNION ALL ".join(selects)


def _neighbor_sample_sql() -> str:
    from essentials_spark.functions.portable_hash import sql_md5_int60

    def sa(name: str, fanout: int, seed: str) -> str:
        h = sql_md5_int60(f"src || ':' || dst || ':{seed}'")
        return (
            f"{name} AS (SELECT src, dst FROM ("
            f" SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY h, dst) AS rk"
            f" FROM (SELECT src, dst, {h} AS h FROM sym)) WHERE rk <= {fanout})"
        )

    roots_h = sql_md5_int60("vkey || ':root'")
    f1, f2 = NS_FANOUTS
    body = ",\n".join([
        _PRELUDE,
        sa("sa1", f1, "ns:1"),
        sa("sa2", f2, "ns:2"),
        f"roots AS (SELECT vkey AS root FROM verts WHERE ({roots_h} % {NS_ROOT_MOD}) = 0)",
        "h1 AS (SELECT r.root, s.src, s.dst FROM roots r JOIN sa1 s ON s.src = r.root)",
        "f1 AS (SELECT DISTINCT root, dst FROM h1)",
        "h2 AS (SELECT DISTINCT f.root, s.src, s.dst FROM f1 f JOIN sa2 s ON s.src = f.dst)",
    ])
    return (
        f"WITH {body}\n"
        "SELECT root AS root_key, CAST(1 AS INT) AS hop, src AS src_key, dst AS dst_key FROM h1"
        " UNION ALL "
        "SELECT root, CAST(2 AS INT) AS hop, src, dst FROM h2"
    )


def _adamic_adar_sql() -> str:
    # FP note: jac mirrors the Spark operation order exactly
    # (cn/denom first, then *1e6) so both engines round the same double
    body = ",\n".join([
        _PRELUDE,
        "deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src)",
        "wed AS (SELECT e1.src AS v, e1.dst AS u, e2.dst AS w"
        " FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst)",
        f"pair AS (SELECT u, w, count(*) AS cn, sum(1.0 / ln(d.d)) AS aa"
        f" FROM wed JOIN deg d ON d.src = wed.v GROUP BY u, w HAVING count(*) >= {AA_MIN_CN})",
        "cand AS (SELECT p.* FROM pair p LEFT JOIN sym s ON s.src = p.u AND s.dst = p.w"
        " WHERE s.src IS NULL)",
    ])
    return (
        f"WITH {body}\n"
        "SELECT c.u AS src_key, c.w AS dst_key, c.cn,"
        " CAST(round((CAST(c.cn AS DOUBLE) / (du.d + dw.d - c.cn)) * 1e6) AS BIGINT) AS jac_ppm,"
        " CAST(round(c.aa * 1e6) AS BIGINT) AS aa_ppm"
        " FROM cand c JOIN deg du ON du.src = c.u JOIN deg dw ON dw.src = c.w"
    )


def _tool_transitions_sql() -> str:
    body = ",\n".join([
        _PRELUDE,
        "tt AS (SELECT conv_id, turn_idx, tool FROM tr WHERE tool IS NOT NULL)",
        "lagd AS (SELECT tool AS src_tool,"
        " lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst_tool FROM tt)",
    ])
    return (
        f"WITH {body}\n"
        "SELECT src_tool, dst_tool, count(*) AS n FROM lagd"
        " WHERE dst_tool IS NOT NULL GROUP BY src_tool, dst_tool"
    )


def oracle_sql() -> dict[str, str]:
    from essentials_spark.functions.portable_hash import sql_md5_int60 as _h60

    sql: dict[str, str] = {}

    sql["transcripts_from_events"] = (
        f"WITH {_PRELUDE} SELECT conv_id, turn_idx, role, text, tool,"
        " epoch_us(ts) AS ts_epoch_us FROM tr"
    )

    sql["edge_derivation"] = f"WITH {_PRELUDE} SELECT src AS src_key, dst AS dst_key FROM edges_k"
    # streaming parity: one availableNow micro-batch pass of the
    # incremental derivation must produce the exact batch edge multiset
    sql["streaming_edges"] = sql["edge_derivation"]

    sql["degree_histogram"] = (
        f"WITH {_PRELUDE}, deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src)"
        " SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket, count(*) AS n_vertices"
        " FROM deg GROUP BY 1"
    )

    # IO readers: the oracle recomputes the deterministic fixture's
    # parse result (symmetric expansion / CSR unpack / comment skip)
    # straight from events — independent of the reader implementation
    _fixp = (
        f"SELECT DISTINCT CAST(user_id % {_MTX_I} AS BIGINT) AS i,"
        f" CAST(event_id % {_MTX_J} AS BIGINT) AS j FROM events"
    )
    sql["mtx_reader_sym"] = (
        f"WITH p AS (SELECT DISTINCT greatest(i, j) AS a, least(i, j) AS b FROM ({_fixp}))"
        " SELECT a AS src, b AS dst, CAST(1 AS BIGINT) AS w FROM p"
        " UNION ALL"
        " SELECT b AS src, a AS dst, CAST(1 AS BIGINT) AS w FROM p WHERE a <> b"
    )
    sql["smtx_reader"] = f"SELECT i AS src, j AS dst FROM ({_fixp})"
    sql["points_reader"] = (
        f"SELECT DISTINCT i AS vid,"
        f" CAST(round(((i * 7) % 180 - 90 + 0.25) * 1e6) AS BIGINT) AS lat_e6,"
        f" CAST(round(((i * 13) % 360 - 180 + 0.25) * 1e6) AS BIGINT) AS lon_e6"
        f" FROM ({_fixp})"
    )

    sql["kcore_decomposition"] = _kcore_sql()
    # peeling engine path vs the same h-index oracle (independent x2)
    sql["kcore_peel"] = _kcore_sql()
    # bucketed local-fixpoint kernel path vs the same oracle (x3)
    sql["kcore_local"] = _kcore_sql()
    sql["betweenness_3src"] = _bc_sql()
    # chain-contracted Brandes: same sources, same unrolled oracle —
    # the rehydration algebra is the gated claim
    sql["betweenness_3src_chain"] = sql["betweenness_3src"]
    sql["mst_total_weight"] = _mst_sql()
    # incremental micro-batch maintenance vs the same MSF invariant
    sql["mst_incremental"] = _mst_sql()

    sql["degree_stats"] = (
        f"WITH {_PRELUDE},"
        " dd AS (SELECT v.vkey, CAST(coalesce(d.c, 0) AS DOUBLE) AS d FROM verts v"
        " LEFT JOIN (SELECT src, count(*) AS c FROM sym GROUP BY src) d ON d.src = v.vkey)"
        " SELECT CAST(count(*) AS BIGINT) AS n_vertices,"
        " CAST(round(avg(d) * 1e6) AS BIGINT) AS avg_deg_e6,"
        " CAST(round(stddev_pop(d) * 1e6) AS BIGINT) AS stddev_deg_e6 FROM dd"
    )

    # coloring validity invariants (colors are hash-seeded; the
    # contract is: every vertex colored, zero monochromatic edges).
    # NOTE this oracle is ONE-DIRECTIONAL: the Spark side computes
    # n_colored and mono_edges from the actual coloring, while the SQL
    # side emits what a VALID coloring must produce (count(verts), 0).
    # A hash match therefore proves the Spark coloring satisfies the
    # invariants — the SQL does not independently recompute a coloring.
    sql["color_validity"] = (
        f"WITH {_PRELUDE} SELECT CAST(count(*) AS BIGINT) AS n_colored,"
        " CAST(0 AS BIGINT) AS mono_edges FROM verts"
    )

    # portable-hash dedup/ANN pipelines (md5-based, value-checkable end
    # to end — see functions/portable_hash.py)
    sql["minhash_dedup"] = _minhash_sql()
    sql["simhash_signatures"] = _simhash_sql()
    sql["ann_lsh_topk"] = _annlsh_sql()
    sql["ann_ivf_topk"] = _annivf_sql()
    sql["embedding_cosine_pairs"] = _embpairs_sql()
    sql["curate_corpus"] = _curate_sql()
    sql["ngram_jaccard"] = """
WITH g AS (
  SELECT doc_id, list_distinct(list_transform(
      range(0, greatest(len(t)-3, 0)+1),
      i -> array_to_string(list_slice(t, i+1, i+3), ' ')
    )) AS grams
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents)
  WHERE doc_id < 25
)
SELECT a.doc_id AS a, b.doc_id AS b,
  CAST(round(round(CASE WHEN length(list_distinct(a.grams || b.grams)) > 0
    THEN length(list_intersect(a.grams, b.grams))
      / CAST(length(list_distinct(a.grams || b.grams)) AS DOUBLE)
    ELSE 0.0 END, 6) * 1e6) AS BIGINT) AS jaccard_e6
FROM g a JOIN g b ON a.doc_id < b.doc_id
"""

    sql["pagerank"] = _pagerank_sql()
    sql["pagerank_weighted"] = _pagerank_weighted_sql()
    # the CSR kernel must reproduce the SAME unrolled iterates — one
    # oracle, two physical paths (dataframe-join vs packed-CSR SpMV)
    sql["pagerank_csr"] = _pagerank_sql()
    # incremental micro-batch maintenance vs the converged fixpoint
    # (deep unroll; see the PR_CONV_TOL margin note)
    sql["pagerank_incremental"] = _pagerank_sql(iters=PR_CONV_ITERS)
    sql["connected_components"] = _cc_sql()
    # incremental micro-batch maintenance vs the same batch fixpoint
    sql["connected_components_incremental"] = _cc_sql()
    # MIN-semiring CSR kernel: same converged labels, different
    # physical path for the hash-min message round
    sql["connected_components_csr"] = _cc_sql()
    # two-phase contraction path: per-bucket vectorized solve + stitch
    # — third physical path, same canonical min-vid labels
    sql["connected_components_contract"] = _cc_sql()
    sql["label_propagation"] = _lp_sql()
    sql["label_propagation_csr"] = sql["label_propagation"]
    # semi-synchronous mode: the oracle replays the alternating
    # md5-parity half-schedule
    sql["label_propagation_semi"] = _lp_sql(semi=True)
    sql["bfs_hops"] = _bfs_sql()
    sql["sssp_md5w"] = _sssp_sql()
    # tropical CSR-kernel paths: same unrolled oracles, different
    # physical plan (A/B-gated like every CSR kernel family)
    sql["bfs_hops_csr"] = sql["bfs_hops"]
    sql["sssp_md5w_csr"] = sql["sssp_md5w"]
    sql["ppr_push"] = _ppr_sql()
    sql["hits_norm"] = _hits_sql()
    sql["spmv_keylen"] = (
        f"WITH {_PRELUDE} SELECT e.src AS skey, CAST(sum(length(e.dst)) AS DOUBLE) AS y"
        " FROM edges_k e GROUP BY e.src"
    )
    sql["geolocate_spread"] = _geo_sql()
    sql["spgemm_square"] = (
        f"WITH {_PRELUDE} SELECT a.src AS src_key, b.dst AS dst_key, count(*) AS paths"
        " FROM edges_k a JOIN edges_k b ON a.dst = b.src GROUP BY a.src, b.dst"
    )

    sql["triangle_count"] = (
        f"WITH {_PRELUDE_M}, {_TRI_BODY}"
        " SELECT v.vkey AS skey, coalesce(c.tc, 0) AS tc"
        " FROM verts v LEFT JOIN corners c ON c.vkey = v.vkey"
    )
    # sink gate: write -> re-read must reproduce the same values
    sql["result_sink"] = sql["triangle_count"]
    sql["triangle_count_csr"] = sql["triangle_count"]
    sql["triangle_count_incremental"] = sql["triangle_count"]
    # support peeling unrolled past the measured cascade depth (2 for
    # k=3, 3 for k=4 at sf0.01); extra rounds are identity at the
    # fixpoint, so over-unrolling is safe
    sql["ktruss_3"] = _ktruss_sql(3, 6)
    # ktruss_4 gates the summary (survivors, cascade drop from the
    # 3-truss): chain the k=3 peel into the k=4 peel (truss nesting —
    # the 4-truss of the 3-truss fixpoint IS the 4-truss) and count
    # both fixpoints
    _k4_parts = ["e0 AS (SELECT src, dst FROM sym WHERE src < dst)"]
    _cur = "e0"
    for _i in range(6):
        _ctes, _cur = _truss_round_ctes(_cur, f"g3_{_i}", 3)
        _k4_parts.extend(_ctes)
    _fix3 = _cur
    for _i in range(6):
        _ctes, _cur = _truss_round_ctes(_cur, f"g4_{_i}", 4)
        _k4_parts.extend(_ctes)
    sql["ktruss_4"] = (
        f"WITH {_PRELUDE_M},\n" + ",\n".join(_k4_parts) + "\n"
        f"SELECT (SELECT count(*) FROM {_cur}) AS k4_edges,"
        f" (SELECT count(*) FROM {_fix3}) - (SELECT count(*) FROM {_cur}) AS cascade_dropped"
    )
    # windowed variant: turn pairs within lead distance 1..3 per
    # conversation plus turn->tool links, canonicalized with
    # least/greatest ('tool|' sorts BELOW 'turn|', so tool edges flip)
    sql["ktruss_4_window"] = _ktruss_sql(4, 6, prelude=_PRELUDE, t0=_T0_WINDOWED)
    # ascending chained peel, 8 rounds per k (cascade depth margin);
    # k_hi=6 matches the Spark entry's k_max cap
    sql["truss_decomposition"] = _truss_decomposition_sql(
        6, 8, prelude=_PRELUDE, t0=_T0_WINDOWED
    )
    sql["tc_total"] = (
        f"WITH {_PRELUDE_M}, {_TRI_BODY}"
        " SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) AS corner_total,"
        " CAST(coalesce(sum(tc), 0) // 3 AS BIGINT) AS n_triangles"
        " FROM corners"
    )

    sql["doc_stats"] = (
        "SELECT doc_id,"
        " CAST(length(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,"
        " CAST(length(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct_tokens,"
        " CAST(length(text) AS BIGINT) AS n_chars_actual"
        " FROM documents"
    )

    sql["doc_fingerprint"] = (
        "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint"
        " FROM documents"
    )

    sql["doc_quality"] = """
WITH feat AS (
  SELECT doc_id,
    length(string_split(trim(text), ' ')) AS n_tokens,
    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
    length(list_distinct(string_split(trim(text), ' '))) AS n_distinct
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(n_punct AS BIGINT) AS n_punct,
  CAST(n_digit AS BIGINT) AS n_digit,
  round(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio,
  round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    least(1.0, n_tokens / 100.0) * 0.4
    + (1.0 - least(1.0, n_punct / CAST(greatest(n_tokens, 1) AS DOUBLE))) * 0.2
    + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4 END, 6) AS quality
FROM feat
"""

    lang_markers = {
        "en": ["the", "and", "of", "to", "a"],
        "es": ["el", "la", "de", "que", "y"],
        "fr": ["le", "la", "de", "et", "un"],
        "de": ["der", "die", "und", "das", "ein"],
    }
    per_lang = " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang,"
        f" length(list_intersect(toks, {words!r})) AS hits FROM toks"
        for lang, words in lang_markers.items()
    )
    sql["lang_pred"] = f"""
WITH toks AS (
  SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS toks FROM documents
),
scored AS ({per_lang}),
best AS (
  SELECT doc_id, lang, hits,
    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM scored
)
SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred FROM best WHERE rn = 1
"""

    sql["ann_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.v, c.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {ANN_NQ}
),
r AS (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT query_id, neighbor_id, CAST(round(sim * 1e6) AS BIGINT) AS sim_e6,
  CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {ANN_K}
"""

    sql["exact_dedup"] = """
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f FROM documents
)
SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM fp GROUP BY f
"""

    # round-5b text-pipeline family. pack_sequences: identical window
    # arithmetic; PACK_BUDGET is a power of 2 so the floor-division is
    # FP-exact on both engines. pack_ffd_stats: FFD is iterative, no
    # SQL twin — rows-only (invariants pinned in pytest instead).
    sql["pack_sequences"] = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS tokens
  FROM documents
),
w AS (
  SELECT doc_id, source, tokens,
         sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT doc_id, source, tokens,
       source || ':' || CAST((cum - tokens) // {PACK_BUDGET} AS VARCHAR) AS seq_id,
       CAST((cum - tokens) - ((cum - tokens) // {PACK_BUDGET}) * {PACK_BUDGET} AS BIGINT) AS offset_in_seq
FROM w
"""
    sql["ngram_contamination"] = f"""
WITH g AS (
  SELECT doc_id, CASE WHEN len(t) >= {CONTAM_N} THEN list_distinct(list_transform(
      range(0, len(t)-{CONTAM_N}+1),
      i -> array_to_string(list_slice(t, i+1, i+{CONTAM_N}), ' ')
    )) ELSE [] END AS grams
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents)
),
bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0),
tg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 != 0)
SELECT doc_id, count(*) AS hit_ngrams FROM tg JOIN bg USING (gram) GROUP BY doc_id
"""
    sql["repetition_stats"] = """
WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(0, greatest(len(arr)-3, 0)+1),
                        i -> array_to_string(list_slice(arr, i+1, i+3), ' ')) AS grams
  FROM t
),
tokc AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(arr) AS tok FROM t)
  GROUP BY doc_id, tok
),
top AS (SELECT doc_id, max(c) AS top_tok_cnt FROM tokc GROUP BY doc_id)
SELECT g.doc_id,
       CAST(len(g.grams) AS BIGINT) AS total_ngrams,
       CAST(len(list_distinct(g.grams)) AS BIGINT) AS distinct_ngrams,
       CAST(len(g.grams) - len(list_distinct(g.grams)) AS BIGINT) AS dup_ngrams,
       CAST(top.top_tok_cnt AS BIGINT) AS top_tok_cnt
FROM g JOIN top USING (doc_id)
"""

    sql["random_walks"] = _walks_sql()
    # CSR walk kernel vs the same trajectory oracle (A/B x2)
    sql["random_walks_csr"] = _walks_sql()
    sql["walk_contexts"] = _walk_contexts_sql()
    sql["negative_samples"] = _negative_samples_sql()
    sql["node2vec_walks"] = _node2vec_sql()
    # two-pass CSR kernels vs the same trajectory oracle (A/B x2)
    sql["node2vec_walks_csr"] = _node2vec_sql()
    sql["neighbor_sample"] = _neighbor_sample_sql()
    sql["adamic_adar"] = _adamic_adar_sql()
    sql["tool_transitions"] = _tool_transitions_sql()
    _terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    sql["harmonic_4src"] = _harmonic_sql()
    # chain-contracted path, same unrolled multi-source BFS oracle
    sql["harmonic_4src_chain"] = sql["harmonic_4src"]
    sql["closeness_4src"] = _closeness_sql()
    # chain-contracted path, same oracle (rehydrated == plain)
    sql["closeness_4src_chain"] = sql["closeness_4src"]
    sql["eigenvector_centrality"] = _eigen_sql()
    sql["katz_centrality"] = _katz_sql()
    sql["densest_subgraph"] = _densest_sql()
    sql["maximal_independent_set"] = _mis_sql()
    sql["kmeans_embeddings"] = _kmeans_sql()
    sql["pq_codes"] = _pq_sql()
    sql["pq_adc_topk"] = _pq_adc_sql()
    sql["dedup_keep_best"] = _keep_best_sql()
    gap_us = SESSION_GAP_MIN * 60_000_000
    # no named WINDOW clause: _materialize_ctes rewrites `x AS (` and
    # would mangle it
    _sw = "(PARTITION BY user_id ORDER BY us, event_id)"
    sql["sessionize"] = (
        "WITH se AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),"
        " sb AS (SELECT event_id, user_id, us,"
        f"   CASE WHEN lag(us) OVER {_sw} IS NULL THEN 0"
        f"       WHEN us - lag(us) OVER {_sw} > {gap_us} THEN 1 ELSE 0 END AS brk"
        "   FROM se)"
        " SELECT event_id, user_id,"
        " CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id"
        "   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_idx"
        " FROM sb"
    )
    sql["quality_deciles"] = (
        "WITH qdv AS (SELECT CAST(round(round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE"
        "    least(1.0, n_tokens / 100.0) * 0.4"
        "    + (1.0 - least(1.0, n_punct / CAST(greatest(n_tokens, 1) AS DOUBLE))) * 0.2"
        "    + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4 END, 6) * 1e6) AS BIGINT) AS v"
        "  FROM (SELECT length(string_split(trim(text), ' ')) AS n_tokens,"
        "    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,"
        "    length(list_distinct(string_split(trim(text), ' '))) AS n_distinct"
        "    FROM documents)),"
        " qdc AS (SELECT v, sum(count(*)) OVER (ORDER BY v) AS cum FROM qdv GROUP BY v),"
        " qdn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qdv),"
        " qdq AS (SELECT unnest([100000, 200000, 300000, 400000, 500000, 600000,"
        "   700000, 800000, 900000]) AS pct_ppm),"
        " qdt AS (SELECT pct_ppm, (pct_ppm * n + 999999) // 1000000 AS thr"
        "   FROM qdq CROSS JOIN qdn)"
        " SELECT CAST(t.pct_ppm AS BIGINT) AS pct_ppm, CAST(min(c.v) AS BIGINT) AS value"
        " FROM qdt t JOIN qdc c ON c.cum >= t.thr GROUP BY t.pct_ppm"
    )
    sql["bpe_merges"] = _bpe_sql()
    sql["bpe_encode"] = _bpe_encode_sql()
    sql["bpe_vocab"] = _bpe_vocab_sql()

    # round-6 temporal/window/rank/scc oracles ------------------------------
    sql["window_rollup"] = f"""
WITH {_PRELUDE}
SELECT (epoch_us(ts) // {WIN_US}) * {WIN_US} AS win_start_us,
       (epoch_us(ts) // {WIN_US}) * {WIN_US} + {WIN_US} AS win_end_us,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(tool) AS BIGINT) AS n_tool_calls
FROM tr GROUP BY 1, 2
"""
    sql["window_sliding"] = f"""
WITH {_PRELUDE},
slid AS (
  SELECT conv_id, tool,
         ((epoch_us(ts) // {SLIDE_US}) - k) * {SLIDE_US} AS ws
  FROM tr CROSS JOIN (SELECT unnest([0, 1]) AS k)
)
SELECT ws AS win_start_us, ws + {WIN_US} AS win_end_us,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(tool) AS BIGINT) AS n_tool_calls
FROM slid GROUP BY 1, 2
"""
    sql["asof_tool_reuse"] = f"""
WITH {_PRELUDE},
tt AS (SELECT conv_id, turn_idx, tool, epoch_us(ts) AS ts_us FROM tr WHERE tool IS NOT NULL),
au AS (
  SELECT tool, ts_us, 0 AS side, conv_id, turn_idx,
         CAST(NULL AS VARCHAR) AS rconv, CAST(NULL AS INTEGER) AS rturn
  FROM tt
  UNION ALL
  SELECT tool, ts_us, 1, NULL, NULL, conv_id, turn_idx FROM tt
),
aw AS (
  SELECT side, conv_id, turn_idx, tool,
    last_value(rconv IGNORE NULLS) OVER (PARTITION BY tool ORDER BY ts_us, side, rconv, rturn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_conv,
    last_value(rturn IGNORE NULLS) OVER (PARTITION BY tool ORDER BY ts_us, side, rconv, rturn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_turn
  FROM au
)
SELECT conv_id, turn_idx, tool, prev_conv, prev_turn FROM aw WHERE side = 0
"""
    sql["conv_concurrency"] = f"""
WITH {_PRELUDE},
spanc AS (SELECT conv_id, min(epoch_us(ts)) AS a, max(epoch_us(ts)) AS b FROM tr GROUP BY conv_id)
SELECT s.conv_id, CAST(count(t.conv_id) AS BIGINT) AS n_concurrent
FROM spanc s LEFT JOIN tr t
  ON epoch_us(t.ts) BETWEEN s.a AND s.b AND t.conv_id <> s.conv_id
GROUP BY s.conv_id
"""
    # sharded physical path vs the SAME oracle (A/B x2)
    sql["asof_tool_reuse_sharded"] = sql["asof_tool_reuse"]
    # transitive closure by repeated squaring: r_k holds all reachable
    # pairs via paths <= 2^k hops (reflexive seed), exact for <= 32
    # tools (synth caps n_tools at 20); scc = min over mutual reach
    _scc_parts = [
        _PRELUDE,
        "sccv AS (SELECT DISTINCT tool AS v FROM tr WHERE tool IS NOT NULL)",
        "sccw AS (SELECT s, d, count(*) AS n FROM ("
        "  SELECT tool AS s, lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS d"
        "  FROM tr WHERE tool IS NOT NULL) WHERE d IS NOT NULL GROUP BY s, d)",
        # heavy-transition filter mirrors the entry: n * 24 > total
        "scce AS (SELECT s, d FROM sccw WHERE n * 24 > (SELECT sum(n) FROM sccw))",
        "sccr0 AS (SELECT v AS s, v AS d FROM sccv UNION SELECT s, d FROM scce)",
    ]
    for _k in range(5):
        _scc_parts.append(
            f"sccr{_k + 1} AS (SELECT DISTINCT a.s, b.d"
            f" FROM sccr{_k} a JOIN sccr{_k} b ON a.d = b.s)"
        )
    sql["scc_tools"] = (
        "WITH " + ",\n".join(_scc_parts) + "\n"
        "SELECT a.s AS tool, min(a.d) AS scc"
        " FROM sccr5 a JOIN sccr5 b ON a.s = b.d AND a.d = b.s GROUP BY a.s"
    )
    sql["duplicate_spans"] = f"""
WITH dsp AS (
  SELECT doc_id, CASE WHEN len(t) >= {DUP_SPAN_K} THEN list_transform(
      range(0, len(t)-{DUP_SPAN_K}+1),
      i -> array_to_string(list_slice(t, i+1, i+{DUP_SPAN_K}), ' ')
    ) ELSE [] END AS grams
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents)
),
dpos AS (SELECT doc_id, unnest(grams) AS gram FROM dsp),
docc AS (SELECT gram FROM dpos GROUP BY gram HAVING count(*) >= 2),
dfl AS (SELECT p.doc_id, p.gram, (o.gram IS NOT NULL) AS dup
        FROM dpos p LEFT JOIN docc o USING (gram)),
dagg AS (SELECT doc_id,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           CAST(count(DISTINCT CASE WHEN dup THEN gram END) AS BIGINT) AS ng
         FROM dfl GROUP BY doc_id)
SELECT s.doc_id, CAST(len(s.grams) AS BIGINT) AS n_spans,
       coalesce(a.nd, 0) AS n_dup_spans, coalesce(a.ng, 0) AS n_dup_grams
FROM dsp s LEFT JOIN dagg a USING (doc_id)
"""
    sql["curriculum_order"] = """
WITH cq AS (
  SELECT doc_id, CAST(round(round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    least(1.0, n_tokens / 100.0) * 0.4
    + (1.0 - least(1.0, n_punct / CAST(greatest(n_tokens, 1) AS DOUBLE))) * 0.2
    + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4 END, 6) * 1e6) AS BIGINT) AS q_ppm
  FROM (SELECT doc_id, length(string_split(trim(text), ' ')) AS n_tokens,
    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
    length(list_distinct(string_split(trim(text), ' '))) AS n_distinct
    FROM documents)
)
SELECT doc_id, q_ppm,
       CAST(row_number() OVER (ORDER BY q_ppm DESC, doc_id) AS BIGINT) AS rank
FROM cq
"""
    _qexpr = (
        "CAST(round(round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE"
        " least(1.0, n_tokens / 100.0) * 0.4"
        " + (1.0 - least(1.0, n_punct / CAST(greatest(n_tokens, 1) AS DOUBLE))) * 0.2"
        " + (n_distinct / CAST(n_tokens AS DOUBLE)) * 0.4 END, 6) * 1e6) AS BIGINT)"
    )
    _qfeat = (
        "(SELECT doc_id, length(string_split(trim(text), ' ')) AS n_tokens,"
        " length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,"
        " length(list_distinct(string_split(trim(text), ' '))) AS n_distinct FROM documents)"
    )
    sql["importance_sample"] = (
        f"WITH isq AS (SELECT doc_id, {_qexpr} AS rate_ppm FROM {_qfeat})"
        f" SELECT doc_id, rate_ppm FROM isq"
        f" WHERE ({_h60('CAST(doc_id AS VARCHAR)')} % 1000000) < rate_ppm"
    )
    sql["tool_pmi"] = (
        f"WITH {_PRELUDE},"
        " pmt AS (SELECT DISTINCT conv_id, tool FROM tr WHERE tool IS NOT NULL),"
        " pmn AS (SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS n FROM tr),"
        " pmm AS (SELECT tool, CAST(count(*) AS BIGINT) AS n_t FROM pmt GROUP BY tool),"
        " pmp AS (SELECT a.tool AS tool_a, b.tool AS tool_b,"
        "   CAST(count(*) AS BIGINT) AS n_ab"
        "  FROM pmt a JOIN pmt b ON a.conv_id = b.conv_id AND a.tool < b.tool"
        "  GROUP BY a.tool, b.tool)"
        " SELECT p.tool_a, p.tool_b, ma.n_t AS n_a, mb.n_t AS n_b, p.n_ab,"
        " CAST(round(ln((CAST(p.n_ab AS DOUBLE) * CAST(n.n AS DOUBLE))"
        "   / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_e6"
        " FROM pmp p JOIN pmm ma ON ma.tool = p.tool_a"
        " JOIN pmm mb ON mb.tool = p.tool_b CROSS JOIN pmn n"
    )
    sql["split_assign"] = (
        f"SELECT doc_id, CASE WHEN ({_h60('CAST(doc_id AS VARCHAR)')} % 1000000) < 900000"
        f" THEN 'train' WHEN ({_h60('CAST(doc_id AS VARCHAR)')} % 1000000) < 950000"
        f" THEN 'val' ELSE 'test' END AS split FROM documents"
    )
    _stride = CHUNK_LEN - CHUNK_OVERLAP
    sql["chunk_documents"] = (
        "WITH cdt AS (SELECT doc_id, string_split(trim(text), ' ') AS t,"
        "   CAST(length(string_split(trim(text), ' ')) AS BIGINT) AS n FROM documents),"
        f" cdc AS (SELECT doc_id, t, n, unnest(range(0,"
        f"   1 + (greatest(n - {CHUNK_LEN}, 0) + {_stride - 1}) // {_stride})) AS chunk_idx"
        f"  FROM cdt)"
        f" SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,"
        f" CAST(chunk_idx * {_stride} AS BIGINT) AS start_tok,"
        f" CAST(least({CHUNK_LEN}, n - chunk_idx * {_stride}) AS BIGINT) AS n_toks,"
        f" array_to_string(t[chunk_idx * {_stride} + 1 :"
        f"   chunk_idx * {_stride} + least({CHUNK_LEN}, n - chunk_idx * {_stride})], ' ')"
        f" AS chunk_text FROM cdc"
    )
    sql["temporal_neighbor_sample"] = _tns_sql()
    sql["sample_fixed_k"] = (
        f"SELECT doc_id, lang FROM documents"
        f" ORDER BY {_h60('CAST(doc_id AS VARCHAR)')} LIMIT {SAMPLE_K}"
    )
    sql["sketch_distinct"] = (
        f"WITH lb AS (SELECT DISTINCT ({_h60('CAST(user_id AS VARCHAR)')}"
        f" % {SKETCH_M}) AS b FROM events),"
        f" lo AS (SELECT CAST(count(*) AS BIGINT) AS occupied FROM lb)"
        f" SELECT CAST({SKETCH_M} AS BIGINT) AS n_buckets, occupied,"
        f" CAST(CASE WHEN occupied >= {SKETCH_M} THEN -1 WHEN occupied = 0 THEN 0"
        f" ELSE round(-{SKETCH_M}.0 * ln(({SKETCH_M} - occupied) / {SKETCH_M}.0))"
        f" END AS BIGINT) AS estimate FROM lo"
    )
    _cm_rows = " UNION ALL ".join(
        f"SELECT {d} AS d, ({_h60(repr(str(d) + '|') + ' || k')} % {CM_WIDTH}) AS b FROM cmtok"
        for d in range(CM_DEPTH)
    )
    _cm_probe = " UNION ALL ".join(
        f"SELECT k, {d} AS d, ({_h60(repr(str(d) + '|') + ' || k')} % {CM_WIDTH}) AS b FROM cmq"
        for d in range(CM_DEPTH)
    )
    sql["sketch_freq"] = (
        "WITH cmtok AS (SELECT unnest(string_split(trim(text), ' ')) AS k FROM documents),"
        f" cm AS (SELECT d, b, CAST(count(*) AS BIGINT) AS c FROM ({_cm_rows}) GROUP BY d, b),"
        " cmq AS (SELECT DISTINCT k FROM cmtok),"
        f" pr AS ({_cm_probe})"
        " SELECT pr.k AS token, CAST(min(coalesce(cm.c, 0)) AS BIGINT) AS est"
        " FROM pr LEFT JOIN cm USING (d, b) GROUP BY pr.k"
    )
    sql["diameter_2sweep"] = _diameter_sql()
    sql["temporal_reach"] = _temporal_sql()
    sql["bm25"] = f"""
WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok IN ({_terms}) GROUP BY doc_id, tok),
dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
part AS (SELECT t.doc_id,
  ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
    * (t.tf * (1.2 + 1)) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS part
  FROM tf t JOIN dft d USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s)
SELECT doc_id, CAST(round(sum(part) * 1e6) AS BIGINT) AS bm25_ppm FROM part GROUP BY doc_id
"""
    sql["clustering_coeff"] = (
        f"WITH {_PRELUDE_M}, {_TRI_BODY},"
        " degm AS (SELECT src AS vkey, count(*) AS deg FROM sym GROUP BY src)"
        " SELECT v.vkey AS skey, coalesce(c.tc, 0) AS tc, coalesce(d.deg, 0) AS deg,"
        " CAST(CASE WHEN coalesce(d.deg, 0) >= 2 THEN"
        " round((2.0 * coalesce(c.tc, 0)) / (d.deg * (d.deg - 1)) * 1e6)"
        " ELSE 0.0 END AS BIGINT) AS lcc_ppm"
        " FROM verts v LEFT JOIN corners c ON c.vkey = v.vkey"
        " LEFT JOIN degm d ON d.vkey = v.vkey"
    )
    sql["transitivity"] = (
        f"WITH {_PRELUDE_M}, {_TRI_BODY},"
        " ct AS (SELECT coalesce(sum(tc), 0) AS corner_total FROM corners),"
        " wg AS (SELECT coalesce(sum(d * (d - 1) / 2), 0) AS w FROM"
        "   (SELECT count(*) AS d FROM sym GROUP BY src))"
        " SELECT CAST(ct.corner_total // 3 AS BIGINT) AS n_triangles,"
        " CAST(wg.w AS BIGINT) AS n_wedges,"
        " CAST(CASE WHEN wg.w > 0 THEN round(ct.corner_total / wg.w * 1e6)"
        " ELSE 0 END AS BIGINT) AS transitivity_ppm"
        " FROM ct CROSS JOIN wg"
    )

    _rate_case = "CASE lang " + " ".join(
        f"WHEN '{g}' THEN {r}" for g, r in sorted(SAMPLE_RATES_PPM.items())
    ) + f" ELSE {SAMPLE_DEFAULT_PPM} END"
    _skey60 = _h60("lang || '|' || CAST(doc_id AS VARCHAR)")
    sql["stratified_sample"] = (
        f"SELECT doc_id, lang, ({_skey60} % 1000000) AS bucket FROM documents"
        f" WHERE ({_skey60} % 1000000) < {_rate_case}"
    )
    sql["louvain_semi"] = _louvain_sql()
    sql["louvain_2level"] = _louvain2_sql()
    sql["louvain_mis"] = _louvain_mis_sql(LOUVAIN_MIS_ROUNDS)
    sql["louvain_incremental"] = _louvain_inc_sql(LOUVAIN_INC_ROUNDS)
    _mix_share = "CASE lang " + " ".join(
        f"WHEN '{g}' THEN {s}" for g, s in sorted(MIX_TARGETS_PPM.items())
    ) + " ELSE 0 END"
    _mix_key60 = _h60("lang || '|' || CAST(doc_id AS VARCHAR)")
    sql["mixture_sample"] = (
        "WITH tok AS (SELECT doc_id, lang,"
        "   CAST(length(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens FROM documents),"
        " tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS gtok FROM tok GROUP BY lang),"
        f" rt AS (SELECT lang, least(CAST(1000000 AS BIGINT),"
        f"   CAST({MIX_BUDGET_TOKENS} AS BIGINT) * ({_mix_share}) // 1000000"
        f"   * 1000000 // gtok) AS rate_ppm FROM tot)"
        f" SELECT t.doc_id, t.lang, t.n_tokens, r.rate_ppm,"
        f" ({_mix_key60} % 1000000) AS bucket"
        f" FROM tok t JOIN rt r USING (lang)"
        f" WHERE ({_mix_key60} % 1000000) < r.rate_ppm"
    )
    sql["modularity_conv"] = (
        f"WITH {_PRELUDE},"
        " lab AS (SELECT vkey, CASE WHEN vkey LIKE 'turn|%'"
        "   THEN split_part(vkey, ':', 1) ELSE vkey END AS lb FROM verts),"
        " tm AS (SELECT count(*) AS two_m FROM sym),"
        " tagged AS (SELECT ls.lb AS ls, ld.lb AS ld FROM sym e"
        "   JOIN lab ls ON ls.vkey = e.src JOIN lab ld ON ld.vkey = e.dst),"
        " per_c AS (SELECT ls,"
        "   CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT) AS a_c,"
        "   CAST(count(*) AS BIGINT) AS d_c FROM tagged GROUP BY ls)"
        " SELECT CAST(count(*) AS BIGINT) AS n_communities,"
        " CAST(tm.two_m AS BIGINT) AS two_m,"
        " CAST(sum(a_c * tm.two_m - d_c * d_c) AS BIGINT) AS q_num,"
        " CAST(round(CAST(sum(a_c * tm.two_m - d_c * d_c) AS DOUBLE)"
        "   / (CAST(tm.two_m AS DOUBLE) * CAST(tm.two_m AS DOUBLE)) * 1e6)"
        "   AS BIGINT) AS q_ppm"
        " FROM per_c CROSS JOIN tm GROUP BY tm.two_m"
    )
    sql["degree_gini"] = (
        f"WITH {_PRELUDE},"
        " gdd AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),"
        " gdg AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM gdd GROUP BY d),"
        " gdc AS (SELECT d, c, sum(c) OVER (ORDER BY d) - c AS a FROM gdg),"
        " gda AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(d * c) AS BIGINT) AS s,"
        "   CAST(sum(d * (c * a + c * (c + 1) // 2)) AS BIGINT) AS ids FROM gdc)"
        " SELECT n, s AS degree_sum,"
        " CAST(2 * ids - (n + 1) * s AS BIGINT) AS gini_num,"
        " CAST(n * s AS BIGINT) AS gini_den,"
        " CAST(floor(CAST(2 * ids - (n + 1) * s AS DOUBLE)"
        "   / CAST(n * s AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS gini_ppm"
        " FROM gda"
    )
    sql["degree_assortativity"] = (
        f"WITH {_PRELUDE},"
        " deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),"
        " pr AS (SELECT dx.d AS dx, dy.d AS dy FROM sym e"
        "   JOIN deg dx ON dx.src = e.src JOIN deg dy ON dy.src = e.dst),"
        " s AS (SELECT CAST(count(*) AS BIGINT) AS m,"
        "   CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,"
        "   CAST(sum(dx * dy) AS BIGINT) AS sxy,"
        "   CAST(sum(dx * dx) AS BIGINT) AS sxx,"
        "   CAST(sum(dy * dy) AS BIGINT) AS syy FROM pr)"
        " SELECT m AS m_rows, CAST(CASE WHEN"
        "   sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "      * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0"
        " THEN round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        "   / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "        * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1e6)"
        " ELSE 0 END AS BIGINT) AS r_e6 FROM s"
    )
    sql["salsa"] = _salsa_sql()
    sql["conv_stats"] = (
        f"WITH {_PRELUDE}\n"
        "SELECT conv_id, count(*) AS n_turns, count(tool) AS n_tool_calls,"
        " count(DISTINCT tool) AS n_distinct_tools,"
        " epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,"
        " round(avg(length(text)), 6) AS avg_text_len"
        " FROM tr GROUP BY conv_id"
    )

    return {name: _materialize_ctes(s) for name, s in sql.items()}
