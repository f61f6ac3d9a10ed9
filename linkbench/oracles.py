"""Independent reference computations for the benchmark's output checks.

Each oracle takes plain Python/numpy inputs collected from the workload's
input (never from the operator under test) and is computed once per
invocation; every timed job is then compared against it.

- edges: DuckDB rendering of the marker grammar
  (``functions.refs.extract_ref_ids_sql``) over the transcripts parquet.
- PageRank: numpy power iteration, weighted transitions, dangling mass
  redistributed uniformly, stop on max |delta| < tol (the semantics of
  ``operators.pagerank``).
- components / LPA / triangles: exact numpy fixpoints with the engine's
  deterministic tie-breaks (min id, min label).

Vertex ids are sorted before indexing, so "min conv_id" is "min index".
"""

from __future__ import annotations

import numpy as np

from unarxive_spark.functions.refs import extract_ref_ids_sql

EDGE_COLS = "src_conv_id, dst_conv_id, weight"


def edges_sql(transcripts: str) -> str:
    """DuckDB query for ``build_edges`` over ``transcripts`` (a table or
    ``read_parquet(...)`` expression): mine text+tool, drop self-loops,
    keep refs to existing conversations, weight = marker occurrences."""
    refs = (
        f"list_concat({extract_ref_ids_sql('text')}, "
        f"{extract_ref_ids_sql('tool')})"
    )
    return f"""
        WITH pairs AS (
            SELECT conv_id AS src_conv_id, unnest({refs}) AS ref_id
            FROM {transcripts}
        )
        SELECT src_conv_id, ref_id AS dst_conv_id,
               CAST(count(*) AS DOUBLE) AS weight
        FROM pairs
        WHERE src_conv_id <> ref_id
          AND ref_id IN (SELECT DISTINCT conv_id FROM {transcripts})
        GROUP BY src_conv_id, ref_id
    """


def mined_pairs_sql(transcripts: str) -> str:
    """DuckDB query for the raw (src, ref) marker pairs, self-loops kept."""
    refs = (
        f"list_concat({extract_ref_ids_sql('text')}, "
        f"{extract_ref_ids_sql('tool')})"
    )
    return (
        f"SELECT conv_id AS src_conv_id, unnest({refs}) AS ref_id "
        f"FROM {transcripts}"
    )


def multiset_diff(con, left: str, right: str) -> int:
    """Rows in ``left`` EXCEPT ALL ``right`` plus the reverse (0 = equal
    as multisets)."""
    return sum(
        con.sql(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
        for a, b in ((left, right), (right, left))
    )


class Graph:
    """Index form of an edge list: sorted vertex ids, int src/dst, weights."""

    def __init__(self, edges: list[tuple[str, str, float]]):
        ids = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
        self.ids = ids
        index = {v: i for i, v in enumerate(ids)}
        self.n = len(ids)
        self.src = np.fromiter((index[s] for s, _, _ in edges), np.int64, len(edges))
        self.dst = np.fromiter((index[d] for _, d, _ in edges), np.int64, len(edges))
        self.w = np.fromiter((w for _, _, w in edges), np.float64, len(edges))

    def undirected(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Both directions, self-loops dropped, weights summed per (u, v)."""
        keep = self.src != self.dst
        u = np.concatenate([self.src[keep], self.dst[keep]])
        v = np.concatenate([self.dst[keep], self.src[keep]])
        w = np.concatenate([self.w[keep], self.w[keep]])
        keys, inv = np.unique(u * self.n + v, return_inverse=True)
        return keys // self.n, keys % self.n, np.bincount(inv, weights=w)


def pagerank(
    g: Graph, damping: float = 0.85, tol: float = 1e-6, max_iter: int = 100
) -> dict[str, float]:
    n = g.n
    out_w = np.bincount(g.src, weights=g.w, minlength=n)
    p = g.w / out_w[g.src]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        gathered = np.bincount(g.dst, weights=p * r[g.src], minlength=n)
        new = (1.0 - damping + damping * r[dangling].sum()) / n + damping * gathered
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            break
    return dict(zip(g.ids, r.tolist()))


def components(g: Graph) -> dict[str, str]:
    """Weakly connected components, label = min conv_id in the component
    (hash-min with pointer jumping to a fixpoint)."""
    u, v, _ = g.undirected()
    label = np.arange(g.n)
    while True:
        new = label.copy()
        np.minimum.at(new, v, label[u])
        new = new[new]
        if np.array_equal(new, label):
            break
        label = new
    return {g.ids[i]: g.ids[label[i]] for i in range(g.n)}


def label_propagation(g: Graph, n_iter: int = 5) -> dict[str, str]:
    """Synchronous LPA: undirected weighted tally, argmax weight, ties to
    the min label; vertices without neighbours keep their label."""
    u, v, w = g.undirected()
    label = np.arange(g.n)
    for _ in range(n_iter):
        keys, inv = np.unique(v * g.n + label[u], return_inverse=True)
        tally = np.bincount(inv, weights=w)
        kv, kl = keys // g.n, keys % g.n
        order = np.lexsort((kl, -tally, kv))
        first = np.ones(len(order), bool)
        first[1:] = kv[order][1:] != kv[order][:-1]
        new = label.copy()
        new[kv[order][first]] = kl[order][first]
        label = new
    return {g.ids[i]: g.ids[label[i]] for i in range(g.n)}


def triangles(g: Graph) -> int:
    """Triangles of the undirected simple graph: orient each edge low→high
    by (degree, id), intersect out-neighbour sets."""
    u, v, _ = g.undirected()
    deg = np.bincount(u, minlength=g.n)
    low_first = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    out: list[set[int]] = [set() for _ in range(g.n)]
    for a, b in zip(u[low_first].tolist(), v[low_first].tolist()):
        out[a].add(b)
    return sum(len(out[a] & out[b]) for a in range(g.n) for b in out[a])
