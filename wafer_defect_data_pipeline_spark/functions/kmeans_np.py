"""Deterministic numpy k-means (k-means++ init, Lloyd iterations, n_init
restarts) — the engine's sklearn-free parity kernel.

The reference clusters with ``sklearn.cluster.KMeans(n_clusters=2,
random_state=42, n_init=10)`` (``/root/reference/src/preprocessing.py:201``).
sklearn is not available in this environment, so the engine ships its own
deterministic kernel with the same *semantics* (k-means++ seeding, best of
``n_init`` restarts by inertia). Both the Spark grouped-map parity mode and
the test-suite pandas replica call THIS function, so their labels agree
bit-for-bit; cluster ids remain arbitrary (validation is
partition-invariant, SURVEY.md §2.6 M2).

Pure numpy, one whole step per call, never per-row: on the driver for a
small analysed subset, else inside an Arrow-batched ``applyInPandas``
worker (see :mod:`..operators.clustering`).
"""

from __future__ import annotations

import numpy as np


def _kmeans_pp_init(X: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii 2007) with greedy local trials."""
    n = X.shape[0]
    n_local_trials = 2 + int(np.log(k))
    centers = np.empty((k, X.shape[1]), dtype=X.dtype)
    first = int(rng.integers(n))
    centers[0] = X[first]
    closest_sq = ((X - centers[0]) ** 2).sum(axis=1)
    for c in range(1, k):
        total = closest_sq.sum()
        if total == 0.0:
            centers[c:] = X[int(rng.integers(n))]
            break
        cand_idx = np.searchsorted(
            np.cumsum(closest_sq), rng.random(n_local_trials) * total
        )
        cand_idx = np.clip(cand_idx, 0, n - 1)
        cand_dists = ((X[:, None, :] - X[cand_idx][None, :, :]) ** 2).sum(axis=2)
        cand_closest = np.minimum(closest_sq[:, None], cand_dists)
        best = int(np.argmin(cand_closest.sum(axis=0)))
        centers[c] = X[cand_idx[best]]
        closest_sq = cand_closest[:, best]
    return centers


def _pairwise_d2(X: np.ndarray, x2: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Squared distances via the BLAS identity ||x-c||² = ||x||² - 2x·c + ||c||².

    One GEMM instead of an n×k×d broadcast temporary — ~5× faster on
    100k-row groups. Can go epsilon-negative for exact matches; harmless for
    argmin/inertia comparison (used consistently on both compare sides).
    """
    return x2[:, None] - 2.0 * (X @ centers.T) + (centers * centers).sum(axis=1)[None, :]


def _lloyd(X: np.ndarray, centers: np.ndarray, max_iter: int, tol: float) -> tuple[np.ndarray, np.ndarray, float]:
    k, d = centers.shape
    x2 = (X * X).sum(axis=1)
    for _ in range(max_iter):
        labels = _pairwise_d2(X, x2, centers).argmin(axis=1)
        counts = np.bincount(labels, minlength=k)
        # per-dimension bincount = vectorized per-cluster sums (no boolean
        # mask pass per cluster)
        sums = np.stack(
            [np.bincount(labels, weights=X[:, j], minlength=k) for j in range(d)], axis=1
        )
        new_centers = np.where(
            counts[:, None] > 0, sums / np.maximum(counts, 1)[:, None], centers
        )
        shift = ((new_centers - centers) ** 2).sum()
        centers = new_centers
        if shift <= tol:
            break
    d2 = _pairwise_d2(X, x2, centers)
    labels = d2.argmin(axis=1)
    inertia = float(d2[np.arange(len(X)), labels].sum())
    return labels, centers, inertia


def _lloyd_binary_batch(
    X: np.ndarray, centers0: np.ndarray, max_iter: int, tol: float
) -> tuple[np.ndarray, np.ndarray]:
    """Lloyd for k=2 on ``R`` independent restarts simultaneously.

    For two clusters the argmin collapses to a hyperplane test
    ``x·(c1-c0) > (||c1||²-||c0||²)/2``, so one iteration over ALL restarts
    is two GEMMs (``X @ W`` for labels, ``Xᵀ @ labels`` for cluster sums) and
    no n×k distance matrix, no bincounts, no per-restart Python loop.
    Measured ~10× faster than one-restart-at-a-time Lloyd on 135k×4 data.
    A restart whose center shift reaches ``tol`` is FROZEN (its centers stop
    updating), so every restart's trajectory matches the sequential loop.

    Ties assign label 0, matching ``argmin``'s first-index rule.

    Returns ``(labels (R,n) int8, inertia (R,) float)`` from each restart's
    final centers.
    """
    R = centers0.shape[0]
    n = X.shape[0]
    centers = centers0.copy()  # (R, 2, d)
    total = X.sum(axis=0)
    active = np.ones(R, dtype=bool)
    for _ in range(max_iter):
        idx = np.flatnonzero(active)
        if idx.size == 0:
            break
        c0, c1 = centers[idx, 0], centers[idx, 1]  # (a, d)
        w = (c1 - c0).T  # (d, a)
        thr = 0.5 * ((c1 * c1).sum(axis=1) - (c0 * c0).sum(axis=1))  # (a,)
        lab = (X @ w) > thr  # (n, a) bool; False on tie -> cluster 0
        n1 = lab.sum(axis=0)
        s1 = (X.T @ lab).T  # (a, d)
        n0 = n - n1
        s0 = total[None, :] - s1
        new0 = np.where((n0 > 0)[:, None], s0 / np.maximum(n0, 1)[:, None], c0)
        new1 = np.where((n1 > 0)[:, None], s1 / np.maximum(n1, 1)[:, None], c1)
        shift = ((new0 - c0) ** 2).sum(axis=1) + ((new1 - c1) ** 2).sum(axis=1)
        centers[idx, 0] = new0
        centers[idx, 1] = new1
        active[idx] = shift > tol
    c0, c1 = centers[:, 0], centers[:, 1]  # (R, d)
    w = (c1 - c0).T
    thr = 0.5 * ((c1 * c1).sum(axis=1) - (c0 * c0).sum(axis=1))
    labels = (X @ w) > thr  # (n, R)
    # inertia per restart without an n×R×2 distance tensor:
    # Σ||x-c_assigned||² = Σ||x||² - 2·Σ x·c_assigned + Σ||c_assigned||²
    dot0, dot1 = X @ c0.T, X @ c1.T  # (n, R)
    n1 = labels.sum(axis=0)
    inertia = (
        float((X * X).sum())
        - 2.0 * np.where(labels, dot1, dot0).sum(axis=0)
        + (n - n1) * (c0 * c0).sum(axis=1)
        + n1 * (c1 * c1).sum(axis=1)
    )
    return labels.T.astype(np.int8), inertia


def kmeans_fit_predict(
    X: np.ndarray,
    n_clusters: int = 2,
    random_state: int = 42,
    n_init: int = 10,
    max_iter: int = 300,
    tol: float = 1e-4,
) -> np.ndarray:
    """Best-of-``n_init`` k-means labels; deterministic for a given seed.

    ``tol`` is scaled by the mean per-feature variance like sklearn's
    relative tolerance, so convergence does not depend on feature units.
    """
    X = np.ascontiguousarray(X, dtype=np.float64)
    if len(X) < n_clusters:
        return np.zeros(len(X), dtype=np.int64)
    scaled_tol = tol * float(np.mean(np.var(X, axis=0)))
    rng = np.random.default_rng(random_state)
    if n_clusters == 2:
        # seeding stays sequential (cheap, keeps the rng draw order of the
        # one-restart-at-a-time formulation); Lloyd runs all restarts batched
        centers0 = np.stack([_kmeans_pp_init(X, n_clusters, rng) for _ in range(n_init)])
        labels, inertia = _lloyd_binary_batch(X, centers0, max_iter, scaled_tol)
        return labels[int(np.argmin(inertia))].astype(np.int64)
    best_labels, best_inertia = None, np.inf
    for _ in range(n_init):
        centers = _kmeans_pp_init(X, n_clusters, rng)
        labels, _, inertia = _lloyd(X, centers, max_iter, scaled_tol)
        if inertia < best_inertia:
            best_inertia, best_labels = inertia, labels
    return best_labels.astype(np.int64)


def standardize(X: np.ndarray) -> np.ndarray:
    """Population z-score, matching sklearn StandardScaler (ddof=0;
    zero-variance columns scale by 1.0 — reference parity trap, SURVEY §2.6 M1)."""
    mean = X.mean(axis=0)
    std = X.std(axis=0, ddof=0)
    std = np.where(std == 0.0, 1.0, std)
    return (X - mean) / std
