"""Output checks shared by the workloads."""

from __future__ import annotations

import hashlib

import numpy as np


def rows_hash(rows) -> str:
    """Order-insensitive hash of result rows (values compared as text)."""
    h = hashlib.sha256()
    for line in sorted("\x1f".join(str(v) for v in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def components(pairs, ids) -> dict:
    """Union-find over ``pairs``: id -> smallest id of its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def cosine_pairs(vecs: np.ndarray, threshold: float, block: int = 1024):
    """All index pairs ``(i, j)``, ``i < j``, with cosine >= threshold."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = []
    for lo in range(0, len(unit), block):
        sims = unit[lo:lo + block] @ unit.T
        for r, c in zip(*np.nonzero(sims >= threshold)):
            i, j = lo + int(r), int(c)
            if i < j:
                out.append((i, j))
    return out


def topk_bruteforce(corpus: np.ndarray, queries: np.ndarray, k: int):
    """Row indices of each query's k nearest corpus rows by cosine."""
    cu = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qu = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qu @ cu.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def shingles(text: str, n: int = 3) -> set:
    """Word ``n``-grams, as the engine's MinHash shingles them."""
    toks = text.strip().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    """True 3-shingle Jaccard similarity of two texts."""
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))
