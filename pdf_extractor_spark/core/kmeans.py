"""Deterministic sampled k-means for the IVF coarse quantizer.

At 100 TB the coarse quantizer is never fit on the full corpus: the
standard recipe (FAISS IVF training, Spark MLlib KMeans init) is to pull
a bounded sample to one node, fit there, and broadcast the centroids.
This module is that fit, specified so tightly that an independently
written implementation reproduces it bit-for-bit — the oracle side
(pdf_extractor_spark/oracle_mirror/ivf.py) restates the same spec with
separate code, and tests/test_kmeans.py pins their equality, so a bug in
either implementation turns the ann_ivf / dedup_embedding_cosine hash
gates red instead of self-certifying.

THE SPEC (every step is part of the cross-implementation contract):

0. SIZE — k = max(16, ceil(n / 128)) where n is the corpus row count,
   and n_sample = 16·k.  The cell count GROWS with the corpus at a fixed
   ~128-vector target cell size, so the within-cell work of every
   consumer (the near-dup pair join, a probe's candidate scan) stays
   bounded as the corpus grows — a pinned k would make each cell hold
   n/k vectors and the pair join go O(n²/k) (VERDICT r3's one remaining
   scale-killer).  The floor keeps small corpora on the historical
   k=16 / n_sample=256 fit (every sf≤0.1 test input is under the
   16·128 = 2048-row knee, so the pinned oracles are unchanged).
   The count is the only corpus statistic the fit consumes; a parquet
   count() is metadata-only and exact.  Driver fit cost is
   O(n_sample·k·dim·iters) = O(k²) — fine through k ≈ 1024; beyond
   that a production deployment moves to a two-level coarse quantizer
   (the job/ivf_index.py docstring's regime), which changes the fit
   recipe, not this spec's determinism contract.
1. SAMPLE — for each vector, key = md5(str(vec_id)).hexdigest(); keep the
   ``n_sample`` vectors with the smallest (key, vec_id).  Hash-ordered
   top-N is deterministic at any scale and any partitioning (unlike
   ``TABLESAMPLE`` / ``df.sample`` whose output is partition-dependent),
   and it bounds driver memory to n_sample×dim regardless of corpus size.
2. INIT — centroids = the first k sample vectors in that same
   (key, vec_id) order.  Hash order is uncorrelated with vec_id or
   insertion order, so the seeds are spread "randomly" but reproducibly.
3. ITERATE — ``n_iters`` Lloyd steps.  Assignment: each sample vector
   (ascending vec_id) goes to the centroid with the highest cosine,
   computed as a left fold in index order (acc + a[i]*b[i]), ties keeping
   the LOWEST centroid index (strict ``>`` comparison).  Update: each
   non-empty cell's centroid becomes the component-wise mean of its
   members accumulated in ascending vec_id order; empty cells keep their
   previous centroid.  Cosine is scale-invariant, so means are NOT
   re-normalized (direction is what matters — spherical k-means).
4. OUTPUT — k float64 centroid vectors, index = cell_id.

All arithmetic is float64 with a specified op order, so two faithful
implementations agree to the last bit.  (The reference has no ANN — this
operator comes from the training-data-pipeline brief, not reference
parity.)
"""

from __future__ import annotations

import hashlib
import math

TARGET_CELL_SIZE = 128   # vectors per quantizer cell the K rule aims for
K_FLOOR = 16             # small corpora keep the historical fixed-16 fit
SAMPLE_PER_CELL = 16     # fit sample rows per centroid
N_FIT_SAMPLE = K_FLOOR * SAMPLE_PER_CELL  # = 256 at the floor (historical)
N_ITERS = 5


def n_centroids(n_rows: int) -> int:
    """Spec step 0: corpus-scaled cell count, floored at the historical
    k=16 (``ceil`` via negative floor division — exact for ints)."""
    return max(K_FLOOR, -(-int(n_rows) // TARGET_CELL_SIZE))


def n_fit_sample(k: int) -> int:
    """Spec step 0: fit-sample size scales with the cell count."""
    return SAMPLE_PER_CELL * int(k)


def sample_key(vec_id: int) -> str:
    """The deterministic sample-ordering key (md5 of the decimal id)."""
    return hashlib.md5(str(vec_id).encode("ascii")).hexdigest()


def _dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x * y)
    return acc


def select_sample(ids_vecs: list[tuple[int, list[float]]],
                  n_sample: int = N_FIT_SAMPLE
                  ) -> list[tuple[int, list[float]]]:
    """Step 1+2 ordering: the n_sample smallest (md5(id), id), hash-ordered."""
    keyed = sorted(ids_vecs, key=lambda t: (sample_key(t[0]), t[0]))
    return keyed[:n_sample]


def fit(sample_hash_ordered: list[tuple[int, list[float]]],
        k: int = 16, n_iters: int = N_ITERS) -> list[list[float]]:
    """Lloyd iterations over an already hash-ordered sample (the output
    of ``select_sample``).  Returns k centroids (fewer only if the corpus
    itself has fewer vectors than k)."""
    cents: list[list[float]] = [
        [float(x) for x in vec] for _, vec in sample_hash_ordered[:k]
    ]
    if not cents:
        return []
    members_order = sorted(sample_hash_ordered, key=lambda t: t[0])
    # norms are loop-invariant (members never change; centroids change
    # once per iteration) — caching them changes no op's inputs, so the
    # result stays bit-identical to the naive mirror (test_kmeans.py).
    # math.sqrt, NOT **0.5: IEEE sqrt is correctly rounded by contract,
    # pow(x, 0.5) is not — the bit-equality spec needs sqrt on both sides
    member_norms = [
        math.sqrt(_dot(vec, vec)) for _, vec in members_order
    ]
    for _ in range(n_iters):
        cent_norms = [math.sqrt(_dot(c, c)) for c in cents]
        sums: list[list[float] | None] = [None] * len(cents)
        counts = [0] * len(cents)
        for m, (_, vec) in enumerate(members_order):
            nv = member_norms[m]
            best_j = 0
            best_cos = _dot(cents[0], vec) / (cent_norms[0] * nv)
            for j in range(1, len(cents)):
                c = _dot(cents[j], vec) / (cent_norms[j] * nv)
                if c > best_cos:
                    best_j, best_cos = j, c
            s = sums[best_j]
            if s is None:
                sums[best_j] = [float(x) for x in vec]
            else:
                for i, x in enumerate(vec):
                    s[i] = s[i] + x
            counts[best_j] += 1
        for j, s in enumerate(sums):
            if s is not None:
                n = float(counts[j])
                cents[j] = [v / n for v in s]
    return cents
