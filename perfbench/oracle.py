"""NumPy / pure-Python oracles and the correctness checks built on them.

Each check returns None when the engine's output is correct and a short
reason string otherwise; the caller counts a reason as a failed
operation.
"""

from __future__ import annotations

import numpy as np

from perfbench.gen import TOKEN_RE

# Scores within this distance are ties: the engine's Arrow kernel sums
# in a different order than the float64 oracle, so low-order bits differ.
TIE_EPS = 1e-9


def cosine_scores(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(N, d) × (d,) → (N,) float64 cosine similarity."""
    m = corpus.astype(np.float64)
    qv = q.astype(np.float64)
    return (m @ qv) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv) + 1e-12)


def top_k(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k best rows under (score DESC, id ASC)."""
    return np.lexsort((ids, -scores))[:k]


def check_ranking(got_ids: list, scores_by_id: dict, want_scores: np.ndarray) -> str | None:
    """`got_ids` must be a correctly ordered top-k: rank r holds a row
    whose oracle score equals the r-th best oracle score (ties allowed
    to permute), with no id repeated."""
    if len(got_ids) != len(want_scores):
        return f"got {len(got_ids)} rows, want {len(want_scores)}"
    if len(set(got_ids)) != len(got_ids):
        return "repeated id in top-k"
    for r, gid in enumerate(got_ids):
        s = scores_by_id.get(gid)
        if s is None:
            return f"rank {r}: unknown id {gid!r}"
        if abs(s - want_scores[r]) > TIE_EPS:
            return f"rank {r}: id {gid!r} scores {s:.12f}, want {want_scores[r]:.12f}"
    return None


def check_exact_topk(got_ids: list, corpus: np.ndarray, ids: np.ndarray, q: np.ndarray,
                     k: int = 10) -> tuple[str | None, np.ndarray]:
    """Exact top-k against the float64 oracle; returns (reason, oracle ids)."""
    scores = cosine_scores(corpus, q)
    best = top_k(scores, ids, k)
    by_id = dict(zip(ids[best].tolist(), scores[best].tolist()))
    for gid in got_ids:  # ids outside the oracle top-k may still tie it
        if gid not in by_id:
            hit = np.flatnonzero(ids == gid)
            if hit.size:
                by_id[gid] = float(scores[hit[0]])
    return check_ranking(got_ids, by_id, scores[best]), ids[best]


def check_approx_topk(got_ids: list, got_scores: list, corpus: np.ndarray, row_of: dict,
                      q: np.ndarray, k: int = 10) -> str | None:
    """An approximate (IVF) result must still be a valid ranking: k
    distinct existing ids, each carrying its true score, in (score DESC,
    id ASC) order. Which rows it finds is scored by recall, not checked."""
    if len(got_ids) != k or len(set(got_ids)) != k:
        return f"got {len(got_ids)} rows ({len(set(got_ids))} distinct), want {k}"
    for r, (gid, gs) in enumerate(zip(got_ids, got_scores)):
        i = row_of.get(gid)
        if i is None:
            return f"rank {r}: unknown id {gid!r}"
        true = float(cosine_scores(corpus[i:i + 1], q)[0])
        if abs(true - gs) > TIE_EPS:
            return f"rank {r}: id {gid!r} reported {gs:.12f}, true {true:.12f}"
        if r and (gs > got_scores[r - 1] + TIE_EPS):
            return f"rank {r}: scores not descending"
    return None


def recall(got_ids: list, want_ids: np.ndarray) -> float:
    return len(set(got_ids) & set(want_ids.tolist())) / len(want_ids)


def probed_cells(centroids: np.ndarray, q: np.ndarray, nprobe: int) -> list[int]:
    """Cells the coarse probe picks for one query: nprobe best centroids
    by cosine, ties to the lower id."""
    s = cosine_scores(centroids, q)
    return np.lexsort((np.arange(len(s)), -s))[:nprobe].tolist()


def assign_cells(corpus: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest centroid (squared euclidean, ties to the lower id) per row."""
    m = corpus.astype(np.float64)
    d2 = (centroids * centroids).sum(axis=1)[None, :] - 2.0 * (m @ centroids.T)
    return d2.argmin(axis=1)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

HASH_MOD = 2_147_483_647


def shingle_hashes(text: str, n: int = 3) -> set[int]:
    """Distinct rolling hashes of the text's n-word shingles: tokens are
    lowercase alphanumeric runs; h = (31·h + code point) mod 2³¹−1."""
    toks = [t for t in TOKEN_RE.split(text.lower()) if t]
    out = set()
    for i in range(len(toks) - n + 1):
        h = 0
        for ch in " ".join(toks[i:i + n]):
            h = (h * 31 + ord(ch)) % HASH_MOD
        out.add(h)
    return out


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def shares_band(a: set, b: set, coeffs, band_size: int = 2) -> bool:
    """Whether two hash sets collide in at least one MinHash LSH band —
    the pairs minhash_near_dup is able to find at all."""
    def sig(s):
        arr = np.fromiter(s, dtype=np.int64)
        return [int(((c * arr + d) % HASH_MOD).min()) for c, d in coeffs]

    sa, sb = sig(a), sig(b)
    return any(sa[i:i + band_size] == sb[i:i + band_size] for i in range(0, len(sa), band_size))


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node → smallest id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
