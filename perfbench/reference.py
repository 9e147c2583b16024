"""NumPy reference computations behind the benchmark's output checks.

Each function restates one engine output from its definition, on the
driver, outside every timed region:

- feature Laplacian  L_F = Xᵀ (D − W) X over the engine's own edge list;
- e_raw = xᵀ L_F x and the dispersion term g over the feature graph
  w_ij = max(0, −L_F[i, j]), λ = τ·e/(e+τ) + (1−τ)·g, τ_synth = median e;
- heat diffusion X ← (1 − η·deg)·X + η·W X on the symmetrised graph;
- λ-aware exact top-k, score = τ·cos + (1−τ)/(1 + |λ_q − λ_x|);
- the sampled edge-recall estimator of the kNN graph.
"""

from __future__ import annotations

import numpy as np

# The references hold the graph as a dense N×N matrix.
MAX_DENSE_N = 8192


def positions(ids_sorted: np.ndarray, query: np.ndarray) -> np.ndarray:
    pos = np.searchsorted(ids_sorted, query)
    if np.any(pos >= len(ids_sorted)) or np.any(ids_sorted[pos] != query):
        raise ValueError("edge endpoint is not a corpus id")
    return pos


def adjacency(n: int, src: np.ndarray, dst: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Dense symmetric W of a canonical edge list (one row per edge)."""
    if n > MAX_DENSE_N:
        raise ValueError(f"dense reference is capped at {MAX_DENSE_N} rows")
    W = np.zeros((n, n))
    W[src, dst] = w
    W[dst, src] = w
    return W


def feature_laplacian(X: np.ndarray, W: np.ndarray) -> np.ndarray:
    lf = X.T @ (W.sum(axis=1)[:, None] * X - W @ X)
    return (lf + lf.T) / 2.0


def energy_components(X: np.ndarray, lf: np.ndarray):
    """(e_raw, g) per row. g = Σ w²(xi−xj)⁴ / (Σ w(xi−xj)²)², both sums
    over ordered feature pairs, via their expansions in row moments."""
    e_raw = np.einsum("bi,bi->b", X @ lf, X)
    W = np.maximum(-lf, 0.0)
    np.fill_diagonal(W, 0.0)
    W2 = W * W
    X2 = X * X
    tot = 2.0 * (X2 @ W.sum(axis=1) - np.einsum("bi,bi->b", X @ W, X))
    sumsq = (2.0 * ((X2 * X2) @ W2.sum(axis=1))
             + 6.0 * np.einsum("bi,bi->b", X2 @ W2, X2)
             - 8.0 * np.einsum("bi,bi->b", (X2 * X) @ W2, X))
    with np.errstate(divide="ignore", invalid="ignore"):
        g = np.where(tot > 0, sumsq / (tot * tot), 0.0)
    return e_raw, np.clip(g, 0.0, 1.0)


def blend(e: np.ndarray, g: np.ndarray, tau: float) -> np.ndarray:
    return tau * (e / (e + tau)) + (1.0 - tau) * g


def spark_percentile(values: np.ndarray, q: float) -> float:
    """Spark's exact `percentile`: linear interpolation lo + f·(hi−lo)."""
    v = np.sort(values)
    pos = q * (len(v) - 1)
    lo = int(np.floor(pos))
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (pos - lo) * (v[hi] - v[lo]))


def lambda_index(X, W):
    """(L_F, e_raw, g, τ_synth, λ) of a standard build."""
    lf = feature_laplacian(X, W)
    e, g = energy_components(X, lf)
    tau = float(np.median(e))
    return lf, e, g, tau, blend(e, g, tau)


def energy_index(X, W, src, dst, w, eta: float, steps: int, trim_q: float):
    """(diffused X, τ_synth, λ) of an energy build over the same graph:
    diffusion on every edge, then λ over the edges at or above the
    `trim_q` weight percentile."""
    decay = (1.0 - eta * W.sum(axis=1))[:, None]
    Xd = X
    for _ in range(int(steps)):
        Xd = decay * Xd + eta * (W @ Xd)
    cut = w < spark_percentile(w, trim_q) if trim_q > 0 else np.zeros(len(w), bool)
    Wk = W.copy()
    Wk[src[cut], dst[cut]] = 0.0
    Wk[dst[cut], src[cut]] = 0.0
    e, g = energy_components(Xd, feature_laplacian(Xd, Wk))
    tau = float(np.median(e))
    return Xd, tau, blend(e, g, tau)


def search_scores(X, e, g, lf, Q, tau: float) -> np.ndarray:
    """(queries × items) blended scores at the search-time τ."""
    eq, gq = energy_components(Q, lf)
    lam_q = blend(eq, gq, tau)
    lam_x = blend(e, g, tau)
    cos = (Q @ X.T) / np.outer(np.linalg.norm(Q, axis=1),
                               np.linalg.norm(X, axis=1))
    return tau * cos + (1.0 - tau) / (1.0 + np.abs(lam_q[:, None] - lam_x[None, :]))


def topk(scores_row: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Top-k ids by (score desc, id asc) — the engine's ranking order."""
    order = np.lexsort((ids, -scores_row))[:k]
    return ids[order]


def same_topk(got: list, scores_row: np.ndarray, ids: np.ndarray, k: int,
              atol: float = 1e-9) -> bool:
    """Got ids equal the reference top-k, up to reorderings among
    scores tied within `atol`."""
    ref = topk(scores_row, ids, k)
    if len(got) != len(ref):
        return False
    if list(got) == list(ref):
        return True
    pos = np.searchsorted(ids, got)
    if np.any(pos >= len(ids)) or np.any(ids[pos] != np.asarray(got)):
        return False
    ref_sc = scores_row[np.searchsorted(ids, ref)]
    return bool(np.all(np.abs(scores_row[pos] - ref_sc) <= atol))


def sampled_edge_recall(X, src, dst, eps: float, k: int, n_sample: int,
                        seed: int) -> float:
    """Edge recall of the engine graph against the exact eps/top-k
    graph, estimated on a seeded node sample: the share of the sampled
    nodes' exact directed edges present in the symmetric edge list.
    Rows of X are in id order, so position order breaks distance ties
    by id as the engine does."""
    n = len(X)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    rows = np.random.default_rng(seed).choice(n, size=min(n_sample, n), replace=False)
    exact = []
    for c0 in range(0, len(rows), 512):
        blk = rows[c0:c0 + 512]
        d = 1.0 - np.maximum(U[blk] @ U.T, 0.0)
        d[np.arange(len(blk)), blk] = np.inf
        d[d > eps] = np.inf
        nbr = np.argsort(d, axis=1, kind="stable")[:, :k]
        ok = np.isfinite(np.take_along_axis(d, nbr, axis=1))
        a = np.broadcast_to(blk[:, None], nbr.shape)[ok]
        b = nbr[ok]
        exact.append(np.minimum(a, b) * n + np.maximum(a, b))
    exact = np.unique(np.concatenate(exact))
    got = np.minimum(src, dst) * n + np.maximum(src, dst)
    return float(np.isin(exact, got).mean()) if len(exact) else 0.0


def rel_err(got, ref) -> float:
    got = np.asarray(got, dtype=np.float64)
    ref = np.asarray(ref, dtype=np.float64)
    return float(np.linalg.norm(got - ref) / max(np.linalg.norm(ref), 1e-300))
