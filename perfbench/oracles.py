"""Single-process numpy references for the benchmark's correctness gate.

Each function restates aduana's semantics (see the docstrings in
``aduana_spark.graph``) over a plain ``(src, dst)`` id edge list, so a
workload can compare the engine's output with an independent answer.
"""

from __future__ import annotations

import hashlib

import numpy as np


def _index(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src, dst, damping=0.85, precision=1e-6, max_iters=100):
    """Power iteration with aduana's remainder step: the rank mass not
    sent along edges (teleport plus dangling pages) is spread evenly.
    Returns ({id: rank}, supersteps)."""
    ids, s, d = _index(np.asarray(src), np.asarray(dst))
    n = len(ids)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    v1 = np.full(n, 1.0 / n)
    for it in range(1, max_iters + 1):
        msg = np.where(deg > 0, v1 / np.maximum(deg, 1.0), 0.0)
        v2 = damping * np.bincount(d, weights=msg[s], minlength=n)
        v2 += (1.0 - v2.sum()) / n
        delta = np.abs(v2 - v1).max()
        v1 = v2
        if delta <= precision:
            break
    return dict(zip(ids.tolist(), v1.tolist())), it


def hits(src, dst, precision=1e-4, max_iters=100):
    """Synchronous HITS with L1 normalisation and the L-infinity stop
    over both vectors. Returns ({id: (hub, auth)}, supersteps)."""
    ids, s, d = _index(np.asarray(src), np.asarray(dst))
    n = len(ids)
    hub = np.full(n, 1.0 / n)
    auth = np.full(n, 1.0 / n)
    for it in range(1, max_iters + 1):
        h = np.bincount(s, weights=auth[d], minlength=n)
        a = np.bincount(d, weights=hub[s], minlength=n)
        h /= h.sum() or 1.0
        a /= a.sum() or 1.0
        delta = max(np.abs(h - hub).max(), np.abs(a - auth).max())
        hub, auth = h, a
        if delta <= precision:
            break
    return {i: (x, y) for i, x, y in zip(ids.tolist(), hub, auth)}, it


def components(src, dst) -> dict[int, int]:
    """Weakly connected components by union-find; the label is the
    smallest id in the component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(np.asarray(src).tolist(), np.asarray(dst).tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def triangles(src, dst) -> int:
    """Triangles of the undirected simple projection."""
    adj: dict[int, set[int]] = {}
    for a, b in zip(np.asarray(src).tolist(), np.asarray(dst).tolist()):
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    n = 0
    for a, nbrs in adj.items():
        for b in nbrs:
            if b > a:
                n += sum(1 for c in nbrs & adj[b] if c > b)
    return n


def jaccard(a: str, b: str, k: int) -> float:
    """Word k-shingle Jaccard, tokenised like the engine's shingler
    (lower-case, whitespace-split)."""

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i : i + k]) for i in range(max(len(w) - k, 0) + 1)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y) if x | y else 0.0


def digest(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    h = hashlib.sha1()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]
