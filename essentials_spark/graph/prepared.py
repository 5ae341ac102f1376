"""PreparedGraph — build-once static layouts shared across algorithms.

The reference preprocesses its graph containers and load-balancer
layouts once in io + graph::build and then runs any number of
algorithms against them (enact() never redoes static-graph work —
include/gunrock/framework/enactor.hxx:243-254). This is the Spark
analogue: one call writes the bucketed static tables every iterative
algorithm needs, so

- the symmetrized edge table is written ONCE and shared by CC, LP
  (and any caller via ``sym_graph``);
- PageRank's weighted spread table is written ONCE and reused across
  repeat runs (different tol / max_iter / restarts);
- supersteps shuffle ONLY vertex state (engine/static_table.py), and
  the preprocessing cost amortizes across every algorithm run;
- each table's row count, taken by its write, is handed to the
  algorithms as their loop's known work size (no re-count).

Usage::

    pg = prepare_graph(graph)
    try:
        ranks  = pg.pagerank(max_iter=10)
        labels = pg.connected_components()
        comms  = pg.label_propagation(max_iter=5)
        pv, t  = pg.triangle_count()
    finally:
        pg.close()   # catalog-managed drops, cluster-safe
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from essentials_spark.engine.static_table import StaticTable, adaptive_buckets, persist_bucketed
from essentials_spark.graph.derive import Graph, canonicalize_edges


@dataclass
class PreparedGraph:
    graph: Graph
    sym_st: StaticTable
    pr_st: StaticTable | None
    alpha: float
    _closed: bool = field(default=False, repr=False)

    @property
    def sym_graph(self) -> Graph:
        """Symmetrized view backed by the shared bucketed table."""
        return Graph(vertices=self.graph.vertices, edges=self.sym_st.df)

    def pagerank(self, **kwargs) -> DataFrame:
        from essentials_spark.algos import pagerank

        # the spread table pr_st was built with self.alpha baked into its
        # edge coefficients — the teleport/dangling terms inside pagerank()
        # must use the SAME alpha, so default it here rather than letting
        # pagerank() fall back to its own 0.85
        kwargs.setdefault("alpha", self.alpha)
        if self.pr_st is not None and kwargs["alpha"] == self.alpha and "static_edges_w" not in kwargs:
            kwargs.update(static_edges_w=self.pr_st.df, edge_rows=self.pr_st.rows)
        return pagerank(self.graph, **kwargs)

    def connected_components(self, **kwargs) -> DataFrame:
        from essentials_spark.algos import connected_components

        return connected_components(
            self.sym_graph, pre_symmetrized=True, edges_mode="prepared",
            edge_rows=self.sym_st.rows, **kwargs,
        )

    def label_propagation(self, **kwargs) -> DataFrame:
        from essentials_spark.algos import label_propagation

        return label_propagation(
            self.sym_graph, pre_symmetrized=True, edges_mode="prepared",
            edge_rows=self.sym_st.rows, **kwargs,
        )

    def triangle_count(self):
        from essentials_spark.algos import triangle_count

        return triangle_count(self.sym_graph, pre_symmetrized=True)

    def kcore(self, **kwargs) -> DataFrame:
        from essentials_spark.algos import kcore

        return kcore(
            self.sym_graph, pre_symmetrized=True, edges_mode="prepared",
            edge_rows=self.sym_st.rows, **kwargs,
        )

    def color(self, **kwargs) -> DataFrame:
        from essentials_spark.algos import color

        return color(
            self.sym_graph, pre_symmetrized=True, edges_mode="prepared",
            edge_rows=self.sym_st.rows, **kwargs,
        )

    def close(self) -> None:
        if self._closed:
            return
        self._closed = True
        try:
            self.sym_st.drop()
        finally:
            if self.pr_st is not None:
                self.pr_st.drop()

    def __enter__(self) -> "PreparedGraph":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def prepare_graph(
    graph: Graph,
    n_buckets: int | None = None,
    alpha: float = 0.85,
    include_pagerank: bool = True,
) -> PreparedGraph:
    """Write the shared bucketed static tables for ``graph``.

    ``n_buckets`` should track cluster shuffle parallelism (thousands
    at 100 TB). ``include_pagerank=False`` skips the weighted spread
    table when only undirected algorithms will run."""
    if n_buckets is None:
        # graph.edges is normally checkpointed by the derivation, so
        # this count is a cached-RDD scan, not a recompute; the bucket
        # count then tracks table size instead of the local core count
        # (at scale it resolves to defaultParallelism as before)
        n_buckets = adaptive_buckets(graph.edges.sparkSession, graph.edges.count())
    sym = canonicalize_edges(graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
    sym_st = persist_bucketed(sym.select("src", "dst"), "src", n_buckets=n_buckets, name_hint="pg_sym")
    pr_st = None
    if include_pagerank:
        from essentials_spark.algos.pagerank import weighted_pagerank_edges

        pr_st = persist_bucketed(
            weighted_pagerank_edges(graph, alpha), "src", n_buckets=n_buckets, name_hint="pg_prw"
        )
    return PreparedGraph(graph=graph, sym_st=sym_st, pr_st=pr_st, alpha=alpha)
