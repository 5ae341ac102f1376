"""Independent NumPy oracle for every timed operation.

It re-derives the keyed graphs from the input parquet with pandas and
runs each algorithm with plain NumPy arrays, never touching Spark or
the library, so a wrong answer in any layer (scan, dense ids, edge
joins, static tables, superstep loop, checkpoint restore) shows up as
a mismatch here.

Semantics follow the library's documented contracts:

- vids are the 0-based rank of the vertex key ``skey`` (``turn|<conv>:
  <turn_idx padded to 6>``, ``tool|<tool>``, ``conv|<conv>``);
- PageRank: spread coefficient alpha/outdeg(src), dangling mass
  re-enters uniformly, stop when the L-inf change is below ``tol``;
- CC: label = smallest vid of the component;
- LP: synchronous, each vertex takes its neighbours' most frequent
  label, smallest label on ties, stop at no change or ``max_iter``;
- TC: triangles through each vertex of the symmetrized graph.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass
class OracleGraph:
    n: int
    src: np.ndarray  # directed edge list, int64 vids
    dst: np.ndarray

    def symmetric(self) -> tuple[np.ndarray, np.ndarray]:
        """Deduplicated symmetric edge list without self loops."""
        keep = self.src != self.dst
        s = np.concatenate([self.src[keep], self.dst[keep]])
        d = np.concatenate([self.dst[keep], self.src[keep]])
        key = np.unique(s * self.n + d)
        return key // self.n, key % self.n


def keyed_graph(tr: pd.DataFrame, membership: bool) -> OracleGraph:
    """The keyed graph of (conv_id, turn_idx, tool) rows."""
    tr = tr.sort_values(["conv_id", "turn_idx"], kind="stable")
    conv = tr["conv_id"].to_numpy(dtype=object)
    turn = ("turn|" + tr["conv_id"] + ":" + tr["turn_idx"].astype(str).str.zfill(6)).to_numpy(dtype=object)
    has_tool = tr["tool"].notna().to_numpy()
    tool = ("tool|" + tr["tool"][has_tool]).to_numpy(dtype=object)
    conv_key = ("conv|" + tr["conv_id"]).to_numpy(dtype=object)

    keys = [turn, tool] + ([conv_key] if membership else [])
    skeys = np.unique(np.concatenate(keys))
    vid = lambda k: np.searchsorted(skeys, k).astype(np.int64)  # noqa: E731

    same = conv[1:] == conv[:-1]
    src = [vid(turn[:-1][same]), vid(turn[has_tool])]
    dst = [vid(turn[1:][same]), vid(tool)]
    if membership:
        src.append(vid(conv_key))
        dst.append(vid(turn))
    return OracleGraph(len(skeys), np.concatenate(src), np.concatenate(dst))


def pagerank(g: OracleGraph, alpha: float = 0.85, tol: float = 1e-6, max_iter: int = 1000) -> np.ndarray:
    outdeg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    coef = alpha / outdeg[g.src]
    dangling = outdeg == 0
    rank = np.full(g.n, 1.0 / g.n)
    for _ in range(max_iter):
        dsum = alpha * rank[dangling].sum()
        new = (1.0 - alpha + dsum) / g.n + np.bincount(g.dst, weights=rank[g.src] * coef, minlength=g.n)
        err = np.abs(new - rank).max()
        rank = new
        if err < tol:
            break
    return rank


def connected_components(g: OracleGraph) -> np.ndarray:
    s, d = g.symmetric()
    label = np.arange(g.n, dtype=np.int64)
    while True:
        new = label.copy()
        np.minimum.at(new, s, label[d])
        new = new[new]  # pointer jump
        if np.array_equal(new, label):
            return label
        label = new


def label_propagation(g: OracleGraph, max_iter: int) -> np.ndarray:
    s, d = g.symmetric()
    label = np.arange(g.n, dtype=np.int64)
    for _ in range(max_iter):
        # count (dst, neighbour label) pairs, then per dst keep the
        # highest count, smallest label on ties
        pair, count = np.unique(s * g.n + label[d], return_counts=True)
        v, lab = pair // g.n, pair % g.n
        order = np.lexsort((lab, -count, v))
        first = np.ones(len(order), dtype=bool)
        first[1:] = v[order][1:] != v[order][:-1]
        best = order[first]
        new = label.copy()
        new[v[best]] = lab[best]
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangles_per_vertex(g: OracleGraph) -> np.ndarray:
    """Triangles through each vertex, by degree-ordered wedge checks."""
    s, d = g.symmetric()
    deg = np.bincount(s, minlength=g.n)
    # orient each undirected edge from lower (deg, vid) to higher, so
    # hubs have few out-edges and the wedge list stays edge-scale
    fwd = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    a, b = s[fwd], d[fwd]
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    start = np.searchsorted(a, np.arange(g.n + 1))
    outdeg = np.diff(start)
    # every wedge a -> (b, c) with b, c out-neighbours of a, b != c
    u = np.repeat(np.arange(g.n), outdeg * outdeg)
    i = np.concatenate([np.repeat(np.arange(k), k) for k in outdeg if k]) if len(u) else np.empty(0, np.int64)
    j = np.concatenate([np.tile(np.arange(k), k) for k in outdeg if k]) if len(u) else np.empty(0, np.int64)
    base = start[u]
    wb, wc = b[base + i], b[base + j]
    closed = (wb != wc) & np.isin(wb * g.n + wc, a * g.n + b)
    tc = np.zeros(g.n, dtype=np.int64)
    for col in (u[closed], wb[closed], wc[closed]):
        np.add.at(tc, col, 1)
    return tc
