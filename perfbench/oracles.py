"""Independent reference computations for the benchmark's outputs.

Plain Python / numpy over collected inputs; nothing here calls the
program.  Each check returns a list of mismatch descriptions (empty when
the output is correct).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

# import-line syntax per language of the synthetic code table; the module
# root is the first path segment of the imported name
_IMPORT_LINE = {
    "python": re.compile(r"^import (\w+)$"),
    "java": re.compile(r"^import (\w+)\.[\w.]+;$"),
    "go": re.compile(r'^\t"([\w.-]+)/[\w./-]*"$'),
    "rust": re.compile(r"^use (\w+)::[\w:*]+;$"),
    "cpp": re.compile(r"^#include <([\w-]+)/[\w./-]*>$"),
}


def repo_edge_set(rows) -> set[tuple[str, str]]:
    """Distinct (src_repo, dst_repo) from (repo, lang, content) rows: an
    import whose module root names another repo of the table."""
    rows = list(rows)
    repos = {r[0] for r in rows}
    out = set()
    for repo, lang, content in rows:
        pat = _IMPORT_LINE[lang]
        for line in content.split("\n"):
            m = pat.match(line)
            if m and m.group(1) in repos and m.group(1) != repo:
                out.add((repo, m.group(1)))
    return out


def pagerank(src, dst, n: int, supersteps: int, damping: float = 0.85) -> np.ndarray:
    """Power iteration with uniform teleport and dangling redistribution,
    exactly ``supersteps`` steps from the uniform vector."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(supersteps):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / outdeg[src])
        r = (1.0 - damping) / n + damping * contrib + damping * r[dangling].sum() / n
    return r


def components(src, dst, vertices) -> dict[int, int]:
    """Union-find: vertex -> smallest vertex id of its component."""
    parent = {int(v): int(v) for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def undirected_adjacency(src, dst) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = {}
    for a, b in zip(src, dst):
        a, b = int(a), int(b)
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def label_propagation(adj: dict[int, set[int]], rounds: int) -> dict[int, int]:
    """Synchronous rounds: each vertex takes its neighbours' most frequent
    label, ties to the smallest label; vertices start with their own id."""
    labels = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbrs in adj.items():
            votes = Counter(labels[u] for u in nbrs)
            new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
        labels = new
    return labels


def triangles(adj: dict[int, set[int]]) -> int:
    """Exact count: each triangle counted once at its smallest vertex."""
    total = 0
    for v, nbrs in adj.items():
        higher = [u for u in nbrs if u > v]
        for i, a in enumerate(higher):
            na = adj[a]
            total += sum(1 for b in higher[i + 1 :] if b in na)
    return total


def output_hash(pairs) -> str:
    """Order-independent digest of (key, value) rows."""
    h = hashlib.sha256()
    for k, v in sorted((int(k), int(v)) for k, v in pairs):
        h.update(f"{k}:{v};".encode())
    return h.hexdigest()


def compare_ranks(name: str, got: dict[int, float], want: np.ndarray, tol: float) -> list[str]:
    errs = []
    if set(got) != set(range(len(want))):
        return [f"{name}: vertex set differs ({len(got)} vs {len(want)})"]
    arr = np.array([got[i] for i in range(len(want))])
    if not np.allclose(arr, want, rtol=tol, atol=tol * 1e-3):
        errs.append(f"{name}: max |diff| {np.abs(arr - want).max():.3e}")
    if abs(arr.sum() - 1.0) > tol:
        errs.append(f"{name}: ranks sum to {arr.sum():.12f}")
    return errs
