"""M5 — Gaussian HMM: Baum-Welch EM + Viterbi labeling, Spark-first
(reference: regime_hmm_garch.py:85-93 fits hmmlearn GaussianHMM
(covariance_type="full", random_state=42) and labels with
``hmm.predict`` = Viterbi; the model exports ``transmat_`` /
``startprob_`` — regime_hmm_garch.py:135-143).

Scale shape: an HMM is sequential WITHIN a sequence and embarrassingly
parallel ACROSS sequences. Each EM iteration is one grouped-map pass
(`applyInPandas` per series) emitting tiny sufficient-statistic rows
(K×K transition counts, K×d weighted feature sums, K×d×d scatter);
Spark sums the partials (one narrow shuffle of a few hundred rows per
series) and the driver closes the M-step on the aggregated sums. The
per-series numpy kernels below are also the single-sequence reference
replica used by tests — the distributed path and the replica share the
exact same arithmetic.

Initialization is a driver-side k-means over at most ``INIT_SAMPLE_ROWS``
rows (``kmeans_init``) — hmmlearn's own kmeans init, which fits on the
driver over the same ≤16k-row regime; EM then makes the transition
structure genuinely part of the likelihood.
"""

from __future__ import annotations

import numpy as np

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

_REG = 1e-6  # covariance regularization floor (hmmlearn min_covar-like)
# rows the k-means init fits on: the first rows in (sequence, order)
# order — the reference's ≤16k-row driver fit (regime_hmm_garch.py:85)
INIT_SAMPLE_ROWS = 16384


# --------------------------------------------------------------------------
# per-sequence numpy kernels (shared by Spark tasks and the test replica)
# --------------------------------------------------------------------------


def _log_emissions(X: np.ndarray, means: np.ndarray, covs: np.ndarray) -> np.ndarray:
    """log N(x_t | μ_k, Σ_k) for all t, k — full covariance."""
    T, d = X.shape
    K = means.shape[0]
    out = np.empty((T, K))
    for k in range(K):
        cov = covs[k] + _REG * np.eye(d)
        chol = np.linalg.cholesky(cov)
        diff = X - means[k]
        z = np.linalg.solve(chol, diff.T)  # L z = diff' (no scipy in env)
        maha = np.sum(z * z, axis=0)
        logdet = 2.0 * np.sum(np.log(np.diag(chol)))
        out[:, k] = -0.5 * (maha + logdet + d * np.log(2.0 * np.pi))
    return out


def _mat_scan(M: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inclusive prefix scan of matrix products (left-to-right) by
    Hillis-Steele doubling: P[t] ∝ M[0]·M[1]···M[t], with each matrix
    max-normalized and the log of the norm carried separately. O(T·K³·
    log T) fully-vectorized flops — replaces a T-step Python recurrence
    that dominated E-step wall time ~10×."""
    P = M.copy()
    L = np.zeros(len(M))
    o = 1
    while o < len(P):
        Pn = P.copy()
        Ln = L.copy()
        Pn[o:] = np.matmul(P[:-o], P[o:])
        Ln[o:] = L[:-o] + L[o:]
        n = Pn.max(axis=(1, 2))
        n = np.where(n > 0, n, 1.0)
        P = Pn / n[:, None, None]
        L = Ln + np.log(n)
        o *= 2
    return P, L


def _forward_backward(
    X: np.ndarray,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Forward-backward via prefix/suffix matrix-product scans.
    Returns (gamma T×K, xi_sum K×K, gamma0 K, log-likelihood).

    Per-t scale factors are scalars common to every state, so the
    row-normalizations of γ and ξ absorb them exactly; only the
    log-likelihood needs the carried log-norms."""
    logb = _log_emissions(X, means, covs)
    # per-row max absorbed into the scaling constants → no under/overflow
    bmax = logb.max(axis=1, keepdims=True)
    b = np.exp(logb - bmax)
    T, K = b.shape
    a0 = start * b[0]
    a0s = a0.sum()
    if T == 1:
        g = (a0 / a0s)[None, :]
        return g, np.zeros((K, K)), g[0], float(np.log(a0s) + bmax.sum())
    a0n = a0 / a0s
    M = trans[None, :, :] * b[1:, None, :]        # M_t = A ∘ b_t, t=1..T-1
    P, plog = _mat_scan(M)
    alpha = np.empty((T, K))
    alpha[0] = a0n
    alpha[1:] = np.einsum("k,tkj->tj", a0n, P)    # ∝ true α_t per-t
    # suffix products S_t = M_{t+1}···M_{T-1} via prefix scan of the
    # reversed transposed chain; β_t = S_t @ 1 = column sums of Sᵀ
    Q, _ = _mat_scan(M[::-1].transpose(0, 2, 1))
    beta = np.empty((T, K))
    beta[T - 1] = 1.0
    beta[:-1] = Q.sum(axis=1)[::-1]               # ∝ true β_t per-t
    gamma = alpha * beta
    gs = gamma.sum(axis=1, keepdims=True)
    gs = np.where(gs > 0, gs, 1.0)
    gamma = gamma / gs
    # ξ_t ∝ α_t ⊗ (b·β)_{t+1} ∘ A, normalized per t then summed
    numer = alpha[:-1, :, None] * trans[None, :, :] * (b[1:] * beta[1:])[:, None, :]
    ns = numer.sum(axis=(1, 2))
    ns = np.where(ns > 0, ns, 1.0)
    xi_sum = (numer / ns[:, None, None]).sum(axis=0)
    ll = float(
        np.log(np.sum(a0n @ P[-1])) + plog[-1] + np.log(a0s) + bmax.sum()
    )
    return gamma, xi_sum, gamma[0], ll


def _viterbi(
    X: np.ndarray,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
) -> np.ndarray:
    """Most-likely state path (log domain) — hmmlearn ``predict``."""
    logb = _log_emissions(X, means, covs)
    T, K = logb.shape
    with np.errstate(divide="ignore"):
        la = np.log(trans)
        lpi = np.log(start)
    delta = lpi + logb[0]
    back = np.zeros((T, K), dtype=np.int64)
    for t in range(1, T):
        cand = delta[:, None] + la
        back[t] = np.argmax(cand, axis=0)
        delta = cand[back[t], np.arange(K)] + logb[t]
    path = np.empty(T, dtype=np.int64)
    path[T - 1] = int(np.argmax(delta))
    for t in range(T - 2, -1, -1):
        path[t] = back[t + 1][path[t + 1]]
    return path


def fit_hmm_numpy(
    X: np.ndarray,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
    n_iter: int = 10,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, float]:
    """Single-sequence Baum-Welch reference replica (tests): identical
    E-step kernels, driver M-step on one sequence's sufficient stats."""
    K, d = means.shape
    for _ in range(n_iter):
        gamma, xi_sum, g0, ll = _forward_backward(X, trans, start, means, covs)
        gs = gamma.sum(axis=0)
        trans = xi_sum / np.maximum(xi_sum.sum(axis=1, keepdims=True), 1e-300)
        start = g0 / g0.sum()
        means = (gamma.T @ X) / gs[:, None]
        covs = np.empty((K, d, d))
        for k in range(K):
            diff = X - means[k]
            covs[k] = (gamma[:, k, None] * diff).T @ diff / gs[k]
    return trans, start, means, covs, ll


def kmeans_init(
    X: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """HMM starting point from Lloyd k-means on the rows of ``X`` —
    hmmlearn's kmeans init, deterministic in (X, k).

    Centroids start on a per-feature quantile grid at (i+0.5)/k (the
    ``segmentation.deterministic_kmeans`` convention) and Lloyd runs to
    a fixed point (ties go to the lowest centroid id; an empty cluster
    keeps its centroid). Means are the centroids, covariances each
    cluster's population scatter (the global one for clusters with
    fewer than two rows), and the cluster weights seed sticky
    transitions and the start vector. Returns (trans0, start0, means0,
    covs0)."""
    n, d = X.shape
    cents = np.quantile(X, [(i + 0.5) / k for i in range(k)], axis=0)
    lab = None
    for _ in range(300):  # a bound only: Lloyd settles in far fewer rounds
        dist = np.stack([((X - c) ** 2).sum(axis=1) for c in cents], axis=1)
        new_lab = np.argmin(dist, axis=1)
        if lab is not None and np.array_equal(new_lab, lab):
            break
        lab = new_lab
        cents = np.array(
            [X[lab == j].mean(axis=0) if (lab == j).any() else cents[j] for j in range(k)]
        )
    glob = np.cov(X, rowvar=False, bias=True).reshape(d, d)
    covs = np.empty((k, d, d))
    for j in range(k):
        members = X[lab == j]
        if len(members) < 2:
            covs[j] = glob
            continue
        diff = members - cents[j]
        covs[j] = diff.T @ diff / len(members)
    # uniform-ish start, uninformative sticky transitions: EM moves both;
    # starting from the cluster weight vector biases rows equally
    w0 = np.bincount(lab, minlength=k) / n
    trans0 = np.tile(w0, (k, 1)) * 0.5 + 0.5 * np.eye(k)
    trans0 = trans0 / trans0.sum(axis=1, keepdims=True)
    start0 = w0 / w0.sum()
    return trans0, start0, cents, covs


# --------------------------------------------------------------------------
# distributed EM + labeling
# --------------------------------------------------------------------------


def driver_sized(df: DataFrame, partition_cols: list[str], n_feats: int) -> bool:
    """True when ``df`` holds exactly ONE sequence of at most
    ``SPARK_GRAFT_HMM_DRIVER_MAX`` feature values (default 2M ≈ 16 MB):
    the size at which the EM loop and Viterbi run on one driver-side
    copy. Decided with one tiny aggregate, before anything is
    collected."""
    import os

    driver_max = int(os.environ.get("SPARK_GRAFT_HMM_DRIVER_MAX", "2000000"))
    shape = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.struct(*partition_cols)).alias("seqs"),
    ).first()
    return shape["seqs"] == 1 and shape["n"] * n_feats <= driver_max


def baum_welch_local(
    pdf: pd.DataFrame,
    feat_cols: list[str],
    order_col: str,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
    n_iter: int = 10,
    tol: float = 1e-2,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, float]:
    """``baum_welch`` on ONE sequence already collected to the driver
    (see ``baum_welch``'s single-sequence note): the same E-step
    kernel and M-step, with the identity standing in for Spark's sum
    over one sequence's partials."""
    K, d = means.shape
    ll = float("nan")
    prev_ll = None
    for _ in range(n_iter):
        stats = _estep_rows(pdf, feat_cols, order_col, trans, start, means, covs)
        # one sequence -> one partial per stat: Spark's SUM of a single
        # DOUBLE is the value itself, so a plain dict build replicates
        # the distributed aggregation exactly
        agg = {
            (r.stat, int(r.i), int(r.j)): float(r.val)
            for r in stats.itertuples(index=False)
        }
        trans, start, means, covs, ll = _mstep(agg, K, d)
        if prev_ll is not None and abs(ll - prev_ll) < tol:
            break
        prev_ll = ll
    return trans, start, means, covs, ll


def _estep_rows(
    pdf: pd.DataFrame,
    feat_cols: list[str],
    order_col: str,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
) -> pd.DataFrame:
    """One sequence's E-step sufficient statistics as tiny (stat, i, j,
    val) rows — THE shared kernel: the distributed grouped-map task and
    the bounded driver loop below both call exactly this function, so
    the two paths are bit-identical by construction."""
    K, d = means.shape
    pdf = pdf.sort_values(order_col)
    X = pdf[feat_cols].to_numpy(dtype=float)
    if len(X) < 2:
        return pd.DataFrame({"stat": [], "i": [], "j": [], "val": []})
    gamma, xi_sum, g0, ll_s = _forward_backward(X, trans, start, means, covs)
    gs = gamma.sum(axis=0)
    gx = gamma.T @ X                       # K×d
    rows = []
    for a in range(K):
        for b in range(K):
            rows.append(("xi", a, b, xi_sum[a, b]))
        rows.append(("gs", a, 0, gs[a]))
        rows.append(("g0", a, 0, g0[a]))
        for b in range(d):
            rows.append(("gx", a, b, gx[a, b]))
        scat = (gamma[:, a, None] * X).T @ X   # d×d
        for b in range(d):
            for c in range(d):
                rows.append(("gxx", a, b * d + c, scat[b, c]))
    rows.append(("ll", 0, 0, ll_s))
    rows.append(("nseq", 0, 0, 1.0))
    return pd.DataFrame(rows, columns=["stat", "i", "j", "val"])


def _mstep(
    agg: dict, K: int, d: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, float]:
    """Close the M-step on aggregated sufficient stats — shared verbatim
    by the distributed and driver paths."""
    xi = np.array([[agg.get(("xi", a, b), 0.0) for b in range(K)] for a in range(K)])
    gs = np.array([agg.get(("gs", a, 0), 0.0) for a in range(K)])
    g0 = np.array([agg.get(("g0", a, 0), 0.0) for a in range(K)])
    gx = np.array([[agg.get(("gx", a, b), 0.0) for b in range(d)] for a in range(K)])
    trans = xi / np.maximum(xi.sum(axis=1, keepdims=True), 1e-300)
    start = g0 / max(g0.sum(), 1e-300)
    gs_safe = np.maximum(gs, 1e-300)
    means = gx / gs_safe[:, None]
    covs = np.empty((K, d, d))
    for a in range(K):
        scat = np.array(
            [[agg.get(("gxx", a, b * d + c, ), 0.0) for c in range(d)] for b in range(d)]
        )
        covs[a] = scat / gs_safe[a] - np.outer(means[a], means[a])
    ll = agg.get(("ll", 0, 0), float("nan"))
    return trans, start, means, covs, ll


def baum_welch(
    features: DataFrame,
    feat_cols: list[str],
    partition_cols: list[str],
    order_col: str,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
    n_iter: int = 10,
    tol: float = 1e-2,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, float]:
    """Multi-sequence Baum-Welch: each iteration fans the E-step out as
    one grouped-map pass, aggregates the per-sequence sufficient stats
    with a Spark sum (tiny rows), and closes the M-step on the driver.
    Stops early when the log-likelihood gain drops below ``tol``
    (hmmlearn's absolute-loglik convergence rule, default 1e-2).

    Parameters ship to executors as plan-captured numpy arrays (small:
    K×K + 2·K·d + K·d² doubles — broadcast by closure).

    SINGLE-SEQUENCE driver loop (r14, guide §1.2 — the r13
    deterministic-kmeans precedent): when ``driver_sized`` holds (ONE
    sequence, at most ``SPARK_GRAFT_HMM_DRIVER_MAX`` feature values),
    every EM iteration would be one single-task grouped-map + a tiny
    agg + a collect — pure per-job protocol floor around the same numpy
    E-step. The loop then runs driver-side (``baum_welch_local``) on
    the ONE collected matrix instead: the E-step is the SAME
    ``_estep_rows`` function, the per-stat "sum" over one sequence is
    the identity (order-free — which is why the driver path requires
    n_sequences == 1; multi-sequence float partials merge in Spark's
    order and are left distributed), and the M-step is the same
    ``_mstep``. Bit-identical by construction; pinned by
    tests/test_regime.py::test_baum_welch_driver_twin_bit_identical.
    The size check is one tiny aggregate, so nothing is collected
    unless the driver path is taken. The distributed loop remains the
    at-scale path."""
    K, d = means.shape
    sel = features.select(*partition_cols, order_col, *feat_cols)
    if driver_sized(sel, partition_cols, len(feat_cols)):
        return baum_welch_local(
            sel.toPandas(), feat_cols, order_col, trans, start, means, covs,
            n_iter=n_iter, tol=tol,
        )
    sel = sel.persist()

    ll = float("nan")
    prev_ll = None
    try:
        for _ in range(n_iter):
            t_c, s_c, m_c, c_c = trans.copy(), start.copy(), means.copy(), covs.copy()

            def estep(pdf: pd.DataFrame) -> pd.DataFrame:
                return _estep_rows(pdf, feat_cols, order_col, t_c, s_c, m_c, c_c)

            parts = (
                sel.groupBy(*partition_cols)
                .applyInPandas(estep, "stat string, i int, j int, val double")
                .groupBy("stat", "i", "j")
                .agg(F.sum("val").alias("v"))
                .collect()
            )
            agg: dict[tuple, float] = {(r["stat"], r["i"], r["j"]): r["v"] for r in parts}
            trans, start, means, covs, ll = _mstep(agg, K, d)
            if prev_ll is not None and abs(ll - prev_ll) < tol:
                break
            prev_ll = ll
    finally:
        sel.unpersist()
    return trans, start, means, covs, ll


def labeled_schema(schema: StructType) -> StructType:
    """``viterbi_label``'s output schema: the input's plus ``regime``."""
    # copy the field list: StructType.add would MUTATE the input frame's
    # schema object, leaving a phantom `regime` column on it
    return StructType(list(schema.fields) + [StructField("regime", IntegerType())])


def viterbi_label(
    features: DataFrame,
    feat_cols: list[str],
    partition_cols: list[str],
    order_col: str,
    trans: np.ndarray,
    start: np.ndarray,
    means: np.ndarray,
    covs: np.ndarray,
) -> DataFrame:
    """Label every row with its Viterbi state — one grouped-map pass;
    output keeps all input columns plus ``regime``."""
    t_c, s_c, m_c, c_c = trans, start, means, covs
    out_schema = labeled_schema(features.schema)

    def label(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        X = pdf[feat_cols].to_numpy(dtype=float)
        if len(X) == 0:
            pdf["regime"] = np.array([], dtype="int32")
            return pdf
        path = _viterbi(X, t_c, s_c, m_c, c_c)
        pdf = pdf.copy()
        pdf["regime"] = path.astype("int32")
        return pdf

    return features.groupBy(*partition_cols).applyInPandas(
        label, out_schema
    )
