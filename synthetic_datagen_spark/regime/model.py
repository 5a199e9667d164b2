"""M5/A8 — regime labeling + per-regime statistics, Spark-first.

The reference fits a GaussianHMM (hmmlearn, driver-side, ≤16k rows —
regime_hmm_garch.py:85-93) from a k-means init and labels with Viterbi.
This engine does the same: a driver-side k-means over the first ≤16k
rows (``hmm.kmeans_init``) INITIALIZES the emissions, then
``regime/hmm.py`` refines transitions + emissions with multi-sequence
Baum-Welch (each EM iteration one grouped-map pass, sufficient stats
aggregated by Spark) and labels with Viterbi, so labels are
transition-aware exactly like ``hmm.predict``. ``trans``/``start`` are
the EM-estimated ``transmat_``/``startprob_`` analogues
(regime_hmm_garch.py:135-143), Laplace-floored so every regime stays
reachable for generation.

One sequence small enough for the driver (``hmm.driver_sized``) is
collected once and runs init → Baum-Welch → Viterbi on the driver with
the same kernels — bit-identical to the distributed path, which stays
the at-scale one.

Per-regime stats (A8, reference regime_hmm_garch.py:96-127): mean, std,
skewness, AR(1), count of returns — with the sparse-regime fallback
(global params for regimes with too few points).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F


@dataclass
class RegimeModel:
    n_regimes: int = 4
    # the fit is deterministic in its input; the seed only names the
    # model (artifact key, saved JSON)
    seed: int = 42
    min_points: int = 10
    # 6 EM refinements from the k-means init stabilize Viterbi labels (the
    # consumer) well before full loglik convergence; each iteration is a
    # whole grouped-map pass, so the default trades the last decimals of
    # loglik for ~40% of the fit cost
    hmm_iter: int = 6
    # fitted state
    trans: np.ndarray | None = None        # K×K row-stochastic (transmat_)
    start: np.ndarray | None = None        # K start probs (startprob_)
    stats: dict[int, dict] = field(default_factory=dict)
    labeled: DataFrame | None = None

    _FEATS = ["log_ret", "vol_short", "vol_ratio"]

    def fit(self, features: DataFrame, partition_cols: list[str]) -> "RegimeModel":
        """features: output of ``regime_features`` (must carry idx)."""
        from .hmm import (
            INIT_SAMPLE_ROWS,
            _viterbi,
            baum_welch,
            baum_welch_local,
            driver_sized,
            kmeans_init,
            labeled_schema,
            viterbi_label,
        )

        # z-score features like the reference ((f - mean)/(std + 1e-10),
        # regime_hmm_garch.py:79-81) with distributed moments, as plain
        # columns so the HMM grouped-map passes read them via Arrow
        moms = features.agg(
            *[F.mean(c).alias(f"mu_{c}") for c in self._FEATS],
            *[F.stddev_pop(c).alias(f"sd_{c}") for c in self._FEATS],
        ).first()
        d = features
        scols = []
        for c in self._FEATS:
            sc_name = f"_s_{c}"
            d = d.withColumn(
                sc_name,
                (F.col(c) - F.lit(moms[f"mu_{c}"]))
                / F.lit((moms[f"sd_{c}"] or 0.0) + 1e-10),
            )
            scols.append(sc_name)
        k = self.n_regimes
        order = [*partition_cols, "idx"]
        if driver_sized(features, partition_cols, len(scols)):
            # one sequence, driver-sized: collect once, fit and label on
            # the driver; the k-means sample is the first rows by idx
            pdf = d.toPandas().sort_values(order, kind="stable", ignore_index=True)
            X = pdf[scols].to_numpy(dtype=float)
            init = kmeans_init(X[:INIT_SAMPLE_ROWS], k)
            trans, start, means, covs, _ll = baum_welch_local(
                pdf, scols, "idx", *init, n_iter=self.hmm_iter
            )
            pdf["regime"] = _viterbi(X, trans, start, means, covs).astype("int32")
            labeled = d.sparkSession.createDataFrame(
                pdf, labeled_schema(d.schema)
            ).coalesce(1)
        else:
            sample = (
                d.select(*order, *scols).orderBy(*order).limit(INIT_SAMPLE_ROWS)
                .toPandas()
            )
            init = kmeans_init(sample[scols].to_numpy(dtype=float), k)
            d = d.persist()
            trans, start, means, covs, _ll = baum_welch(
                d, scols, partition_cols, "idx", *init, n_iter=self.hmm_iter,
            )
            labeled = viterbi_label(
                d, scols, partition_cols, "idx", trans, start, means, covs
            )
        labeled = labeled.drop(*scols).persist()
        labeled.count()
        d.unpersist()
        self.labeled = labeled

        tm = trans * 1.0
        tm += 1e-6  # Laplace floor so every regime stays reachable
        self.trans = tm / tm.sum(axis=1, keepdims=True)
        s0 = start + 1e-9
        self.start = s0 / s0.sum()
        w = Window.partitionBy(*partition_cols).orderBy("idx")

        # A8 per-regime return stats with AR(1) via corr-with-lag.
        # The per-regime panel and the global moments are independent
        # aggregates over already-persisted frames — overlap them from
        # driver threads (guide §2.6, the sweep/m10/d9 pattern) instead
        # of serializing two small jobs.
        from concurrent.futures import ThreadPoolExecutor

        lag_r = F.lag("log_ret").over(w)

        def _stats_rows():
            return (
                labeled.withColumn("_lr", lag_r)
                .groupBy("regime")
                .agg(
                    F.count("*").alias("n"),
                    F.mean("log_ret").alias("mu"),
                    F.stddev_pop("log_ret").alias("sigma"),
                    F.skewness("log_ret").alias("skew"),
                    F.corr("log_ret", "_lr").alias("ar1"),
                )
                .collect()
            )

        def _glob():
            return features.agg(
                F.mean("log_ret").alias("mu"), F.stddev_pop("log_ret").alias("sigma")
            ).first()

        with ThreadPoolExecutor(max_workers=2) as pool:
            stats_f = pool.submit(_stats_rows)
            glob_f = pool.submit(_glob)
            stats_rows = stats_f.result()
            glob = glob_f.result()
        for s in stats_rows:
            sparse = s["n"] < self.min_points
            self.stats[s["regime"]] = {
                "n": s["n"],
                "mu": glob["mu"] if sparse else s["mu"],
                "sigma": glob["sigma"] if sparse else (s["sigma"] or glob["sigma"]),
                "skew": 0.0 if sparse else (s["skew"] or 0.0),
                "ar1": 0.0 if sparse or s["ar1"] is None else float(np.clip(s["ar1"], -0.99, 0.99)),
            }
        for r in range(k):  # regimes Viterbi never emitted
            self.stats.setdefault(
                r, {"n": 0, "mu": glob["mu"], "sigma": glob["sigma"], "skew": 0.0, "ar1": 0.0}
            )
        return self

    def regime_returns(self) -> DataFrame:
        """(regime, idx, log_ret) of the labeled training stream — input
        to the GARCH grid and the hybrid block pools."""
        if self.labeled is None:
            raise RuntimeError("fit() first")
        return self.labeled.select("regime", "idx", "log_ret")

    # ---------------------------------------------------- artifacts --
    # S6: pure-JSON model I/O (reference: regime_hmm_garch.py:193-200,
    # regime_conditional.py:188-195 — HMM/GARCH models serialize as
    # plain JSON; the labeled training frame is data, not model, and is
    # re-derivable, so it is not persisted).
    def to_dict(self) -> dict:
        if self.trans is None:
            raise RuntimeError("fit() first")
        return {
            "n_regimes": self.n_regimes,
            "seed": self.seed,
            "min_points": self.min_points,
            "trans": self.trans.tolist(),
            "start": self.start.tolist(),
            "stats": {str(k): v for k, v in self.stats.items()},
        }

    @classmethod
    def from_dict(cls, d: dict) -> "RegimeModel":
        m = cls(n_regimes=d["n_regimes"], seed=d["seed"], min_points=d["min_points"])
        m.trans = np.array(d["trans"])
        m.start = np.array(d["start"])
        m.stats = {int(k): v for k, v in d["stats"].items()}
        return m

    def save(self, path: str) -> None:
        import os

        from ..functions.memo import write_json

        params = self.to_dict()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        if not write_json(path, params):
            raise OSError(f"could not write model {path}")

    @classmethod
    def load(cls, path: str) -> "RegimeModel":
        import json

        with open(path) as f:
            return cls.from_dict(json.load(f))
