"""Independent numpy oracles for every output the benchmark checks.

None of these import the engine: each recomputes the expected result
from the generator's own edge arrays, so a defect in a shared helper
cannot hide in both sides of a comparison. Results are cached per
(workload, seed, size) as ``.npz`` files in the run directory, outside
every timed region.
"""

from __future__ import annotations

import os

import numpy as np


def cached(path: str, compute) -> dict:
    """Load ``path`` (.npz) if present, else ``compute()`` and save it."""
    if os.path.exists(path):
        with np.load(path) as z:
            return {k: z[k] for k in z.files}
    out = {k: np.asarray(v) for k, v in compute().items()}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out


def pagerank(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    *,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    l1_tolerance: float,
    max_iterations: int,
) -> dict:
    """GDS delta-push PageRank (PageRankComputation): superstep 1 sets
    rank = delta = 1 - damping and sends rank/degree; superstep t > 1
    sets delta = damping * sum(messages), rank += delta, and sends
    delta/degree only where delta > tolerance. Stops after the first
    superstep whose L1 delta norm is <= ``l1_tolerance`` or that has no
    active vertex; returns the rank at that superstep."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    safe = np.where(deg > 0, deg, 1.0)
    rank = np.full(n, 1.0 - damping)
    delta = rank.copy()
    send = np.where(deg > 0, delta / safe, 0.0)
    for it in range(2, max_iterations + 1):
        delta = damping * np.bincount(dst, weights=send[src], minlength=n)
        rank = rank + delta
        active = delta > tolerance
        send = np.where(active & (deg > 0), delta / safe, 0.0)
        if not active.any() or np.abs(delta).sum() <= l1_tolerance:
            return {"rank": rank, "supersteps": it}
    return {"rank": rank, "supersteps": max_iterations}


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weak components: label = smallest vertex id of the component
    (min-label propagation with pointer jumping to a fixpoint)."""
    label = np.arange(n, dtype=np.int64)
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, src, label[dst])
        np.minimum.at(nxt, dst, label[src])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, label):
            return label
        label = nxt


def label_propagation(
    n: int, src: np.ndarray, dst: np.ndarray, *, max_iterations: int
) -> np.ndarray:
    """Synchronous label propagation: every vertex takes the label its
    out-neighbours hold most often (one vote per edge), ties broken toward
    the smallest label; vertices without out-neighbours keep their label.
    Stops after ``max_iterations`` rounds or the first round that changes
    nothing."""
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_iterations):
        pairs, votes = np.unique(src * n + label[dst], return_counts=True)
        voter, cand = pairs // n, pairs % n
        # per voter: most votes first, then smallest label
        order = np.lexsort((cand, -votes, voter))
        first = np.r_[True, voter[order][1:] != voter[order][:-1]]
        win = order[first]
        nxt = label.copy()
        nxt[voter[win]] = cand[win]
        if np.array_equal(nxt, label):
            break
        label = nxt
    return label


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-vertex triangle counts of the undirected simple graph.

    Orients every undirected edge from the lower to the higher
    (degree, id) vertex; each triangle is then the unique wedge
    u -> v, u -> w closed by an edge between v and w."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    key = np.unique(a[keep] * n + b[keep])
    a, b = key // n, key % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(a_first, a, b)
    v = np.where(a_first, b, a)
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    starts = np.searchsorted(u, np.arange(n + 1))
    out_deg = np.diff(starts)
    # wedge (i, j): positions i < j inside one vertex's out-list
    pos = np.arange(len(u)) - starts[u]
    later = out_deg[u] - 1 - pos
    i = np.repeat(np.arange(len(u)), later)
    run_start = np.cumsum(later) - later
    j = i + 1 + (np.arange(len(i)) - np.repeat(run_start, later))
    x, y = v[i], v[j]
    closed = np.isin(np.minimum(x, y) * n + np.maximum(x, y), key)
    count = np.zeros(n, dtype=np.int64)
    for corner in (u[i][closed], x[closed], y[closed]):
        count += np.bincount(corner, minlength=n)
    return count
