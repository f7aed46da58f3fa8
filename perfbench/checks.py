"""Independent NumPy references for the benchmark's output checks.

None of this imports the engine: each function restates the published
semantics of one operator from the generated inputs, so an engine
change that alters an output shows as a failed check.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq


def _dense(keys: list[np.ndarray]) -> np.ndarray:
    """0-based rank of each row's key tuple in sorted key order."""
    order = np.lexsort(keys[::-1])
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    return rank


def _chain(order_keys: list[np.ndarray], group: np.ndarray, vid: np.ndarray):
    """(a, b) pairs linking each row to the next row of its group."""
    order = np.lexsort([*order_keys[::-1], group])
    g, v = group[order], vid[order]
    nxt = g[1:] == g[:-1]
    return v[:-1][nxt], v[1:][nxt]


def _canonical(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Undirected edge set as sorted unique (min, max) rows, self-loops dropped."""
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    keep = lo != hi
    return np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)


def transcript_edges(path: str):
    """(n_vertices, canonical edges) of the transcript graph: turns are
    vertices ranked by (conv_id, turn_idx); reply links join consecutive
    turns of a conversation, tool links consecutive uses of one tool
    ordered by (ts, conv_id, turn_idx)."""
    t = pq.read_table(path).to_pandas()
    conv = t["conv_id"].to_numpy().astype(str)
    turn = t["turn_idx"].to_numpy().astype(np.int64)
    vid = _dense([conv, turn])
    a1, b1 = _chain([turn], conv, vid)
    has = t["tool"].notna().to_numpy()
    tool = t["tool"].to_numpy()[has].astype(str)
    ts = t["ts"].to_numpy()[has].astype(np.int64)
    a2, b2 = _chain([ts, conv[has], turn[has]], tool, vid[has])
    return len(vid), _canonical(np.concatenate([a1, a2]), np.concatenate([b1, b2]))


def events_edges(path: str):
    """The same graph over an events table viewed as transcripts:
    conv_id = user_id as a string, turn order = (ts, event_id) within the
    user, tool = event_type where value > 50."""
    e = pq.read_table(path).to_pandas()
    user = e["user_id"].to_numpy()
    ts = e["ts"].to_numpy().astype(np.int64)
    order = np.lexsort((e["event_id"].to_numpy(), ts, user))
    turn = np.empty(len(e), dtype=np.int64)
    u = user[order]
    first = np.r_[True, u[1:] != u[:-1]]
    starts = np.flatnonzero(first)
    turn[order] = np.arange(len(u)) - np.repeat(starts, np.diff(np.r_[starts, len(u)]))
    conv = user.astype(str)
    vid = _dense([conv, turn])
    a1, b1 = _chain([turn], conv, vid)
    has = e["value"].to_numpy() > 50.0
    tool = e["event_type"].to_numpy()[has].astype(str)
    a2, b2 = _chain([ts[has], conv[has], turn[has]], tool, vid[has])
    return len(vid), _canonical(np.concatenate([a1, a2]), np.concatenate([b1, b2]))


def modularity(edges: np.ndarray, n: int, labels: np.ndarray) -> float:
    """Q = W_in / 2m - sum(Σ_tot^2) / 4m^2 over unit-weight undirected edges.
    Every sum is integer-valued, so the result is exact in any order."""
    a, b = edges[:, 0], edges[:, 1]
    m = float(len(edges))
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    w_in = 2.0 * float(np.count_nonzero(labels[a] == labels[b]))
    tot = np.bincount(labels, weights=deg.astype(np.float64))
    return w_in / (2.0 * m) - float((tot * tot).sum()) / (4.0 * m * m)


def pagerank(edges: np.ndarray, n: int, iters: int, tol: float, alpha: float = 0.85) -> np.ndarray:
    src = np.concatenate([edges[:, 0], edges[:, 1]])
    dst = np.concatenate([edges[:, 1], edges[:, 0]])
    deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        new = (1.0 - alpha) / n + alpha * np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
        l1 = float(np.abs(new - rank).sum())
        rank = new
        if l1 < tol:
            break
    return rank


def components(edges: np.ndarray, n: int) -> np.ndarray:
    """Smallest vertex id reachable from each vertex."""
    label = np.arange(n, dtype=np.int64)
    a, b = edges[:, 0], edges[:, 1]
    while True:
        old = label.copy()
        np.minimum.at(label, a, label[b])
        np.minimum.at(label, b, label[a])
        label = label[label]
        if np.array_equal(label, old):
            return label


def label_propagation(edges: np.ndarray, n: int, iters: int) -> np.ndarray:
    """Each round every vertex takes the neighbour label of largest total
    weight, ties to the smallest label; a vertex without neighbours keeps
    its own id. Stops at a fixpoint."""
    src = np.concatenate([edges[:, 0], edges[:, 1]])
    dst = np.concatenate([edges[:, 1], edges[:, 0]])
    label = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        votes = {}
        for s, l in zip(src.tolist(), label[dst].tolist()):
            votes[(s, l)] = votes.get((s, l), 0) + 1
        best = {}
        for (s, l), w in votes.items():
            cur = best.get(s)
            if cur is None or w > cur[0] or (w == cur[0] and l < cur[1]):
                best[s] = (w, l)
        new = np.arange(n, dtype=np.int64)
        for s, (_, l) in best.items():
            new[s] = l
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangles(edges: np.ndarray, n: int) -> int:
    adj = [set() for _ in range(n)]
    for a, b in edges.tolist():
        adj[a].add(b)
        adj[b].add(a)
    return sum(len(adj[a] & adj[b]) for a, b in edges.tolist()) // 3


def cosine_topk(vectors: np.ndarray, queries: np.ndarray, k: int) -> set:
    """Exact (query, neighbour) pairs of the k best cosines, self excluded,
    ties to the smaller id."""
    v = vectors.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = set()
    for q in queries.tolist():
        cos = v @ v[q]
        cos[q] = -np.inf
        best = np.lexsort((np.arange(len(v)), -cos))[:k]
        out.update((q, int(j)) for j in best)
    return out
