"""Correctness references written in numpy only; nothing here imports the engine.

Distance is the reference's clamped cosine distance, ``1 - max(0, cos)``,
and ties break on the smaller id.
"""

from __future__ import annotations

import numpy as np

K = 10
TIE_EPS = 1e-9
HNSW_RECALL_FLOOR = 0.9  # the reference's own gate
IVFPQ_RECALL_FLOOR = 0.70  # the compressed-index floor
# Share of injected (original, near-duplicate) pairs that dup_clusters must
# put in one cluster. Measured on 20 seeds (11-15, 21-25, 101-110) at the
# full sizes: 19 runs recovered every pair and one missed 1 of 195 (an LSH
# band miss), so 0.95 leaves room for such misses, not for a broken
# clustering.
DEDUP_PAIR_FLOOR = 0.95


class Exact:
    """Brute-force top-k over a fixed set of (ids, vectors)."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        v = np.asarray(vecs, dtype=np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)

    def dists(self, queries: np.ndarray) -> np.ndarray:
        q = np.asarray(queries, dtype=np.float64)
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        return 1.0 - np.maximum(0.0, q @ self.unit.T)

    def topk(self, queries: np.ndarray, k: int = K) -> tuple[np.ndarray, np.ndarray]:
        """(ids, dists), each (n_queries, k), ordered by (dist, id)."""
        d = self.dists(queries)
        # candidates: every id within the (k+8)-th smallest distance, so a
        # tie at the cut can never drop the smaller id
        c = min(k + 8, d.shape[1] - 1)
        cut = np.partition(d, c, axis=1)[:, c:c + 1]
        out_ids = np.empty((len(d), k), dtype=np.int64)
        out_d = np.empty((len(d), k))
        for r in range(len(d)):
            cand = np.flatnonzero(d[r] <= cut[r, 0])
            order = cand[np.lexsort((self.ids[cand], d[r, cand]))[:k]]
            out_ids[r], out_d[r] = self.ids[order], d[r, order]
        return out_ids, out_d


def exact_matches(ref_ids, ref_d, got: dict[int, list[tuple[int, float]]],
                  qids, exact: Exact, queries: np.ndarray) -> bool:
    """The engine's exact top-k equals the reference id for id. A position
    may hold a different id only when that id's true distance ties the
    reference's distance at that position (within TIE_EPS)."""
    pos = {int(i): j for j, i in enumerate(exact.ids)}
    for row, qid in enumerate(qids):
        hits = got.get(int(qid), [])
        if len(hits) != len(ref_ids[row]):
            return False
        d_all = None
        for j, (vid, dist) in enumerate(hits):
            if abs(dist - ref_d[row, j]) > TIE_EPS:
                return False
            if vid != ref_ids[row, j]:
                if d_all is None:
                    d_all = exact.dists(queries[row:row + 1])[0]
                if vid not in pos or abs(d_all[pos[vid]] - ref_d[row, j]) > TIE_EPS:
                    return False
    return True


def recall(ref_ids: np.ndarray, got: dict[int, list[int]], qids) -> float:
    """Mean |engine ∩ reference| / k over the queries."""
    k = ref_ids.shape[1]
    return float(np.mean([
        len(set(got.get(int(q), [])) & set(ref_ids[r].tolist())) / k
        for r, q in enumerate(qids)
    ]))


def subset_recall(ref_ids: np.ndarray, got: dict[int, list[int]], qids,
                  subset: set[int]) -> tuple[int, int]:
    """(found, wanted): reference neighbours in ``subset`` that the engine
    returned, and how many there were."""
    found = wanted = 0
    for r, q in enumerate(qids):
        want = [i for i in ref_ids[r].tolist() if i in subset]
        wanted += len(want)
        found += len(set(want) & set(got.get(int(q), [])))
    return found, wanted


def pairs_recovered(pairs: list[tuple[int, int]], cluster_of: dict[int, int]) -> float:
    """Share of injected near-duplicate pairs placed in one cluster."""
    if not pairs:
        return 1.0
    same = sum(1 for a, b in pairs
               if a in cluster_of and cluster_of[a] == cluster_of.get(b))
    return same / len(pairs)
