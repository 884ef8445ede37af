"""CorrMaxCombiner (M11) — the reference's most novel operator.

Reference ``FeatureCorrelationEngineer`` (engineering.py:106-144): fit finds
weights w maximizing |corr(Xw, target)| with Nelder-Mead, then standardizes
Xw; transform appends the scaled ``TOTAL_SCORE`` column.

Spark shape: each objective evaluation is ONE aggregation action
``df.agg(corr(Σ wᵢ·colᵢ, target))`` on a CACHED input — the optimizer
ping-pongs driver↔cluster ~100–200 times over broadcast-size state. At
100 TB the same loop runs on a seeded sample or sketch (the correlation of a
linear combination needs only the covariance matrix — which we exploit:
after ONE pass computing cov(X, target) and cov(X, X), every objective
evaluation is pure driver-side arithmetic, so the whole fit costs a single
Spark action regardless of iteration count).

Nelder-Mead is implemented in NumPy (scipy is not in the container);
standard simplex algorithm with the scipy-default coefficients.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.pipeline.stages import _ident, _JsonParamMixin, _project, _sql


def nelder_mead(f, x0: np.ndarray, max_iter: int = 0, xatol: float = 1e-4, fatol: float = 1e-4) -> np.ndarray:
    """Minimize f over R^n — standard Nelder-Mead simplex (reflection 1,
    expansion 2, contraction 0.5, shrink 0.5; scipy-compatible defaults,
    initial simplex = x0 perturbed by 5% per coordinate)."""
    n = len(x0)
    max_iter = max_iter or 200 * n
    simplex = [np.asarray(x0, dtype=float)]
    for i in range(n):
        p = simplex[0].copy()
        p[i] = p[i] * 1.05 if p[i] != 0 else 0.00025
        simplex.append(p)
    fvals = [f(p) for p in simplex]
    for _ in range(max_iter):
        order = np.argsort(fvals)
        simplex = [simplex[i] for i in order]
        fvals = [fvals[i] for i in order]
        if (
            max(np.max(np.abs(p - simplex[0])) for p in simplex[1:]) <= xatol
            and max(abs(v - fvals[0]) for v in fvals[1:]) <= fatol
        ):
            break
        centroid = np.mean(simplex[:-1], axis=0)
        xr = centroid + (centroid - simplex[-1])
        fr = f(xr)
        if fr < fvals[0]:
            xe = centroid + 2.0 * (centroid - simplex[-1])
            fe = f(xe)
            if fe < fr:
                simplex[-1], fvals[-1] = xe, fe
            else:
                simplex[-1], fvals[-1] = xr, fr
        elif fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        else:
            if fr < fvals[-1]:
                xc = centroid + 0.5 * (xr - centroid)
                fc = f(xc)
            else:
                xc = centroid + 0.5 * (simplex[-1] - centroid)
                fc = f(xc)
            if fc < min(fr, fvals[-1]):
                simplex[-1], fvals[-1] = xc, fc
            else:  # shrink
                simplex = [simplex[0]] + [
                    simplex[0] + 0.5 * (p - simplex[0]) for p in simplex[1:]
                ]
                fvals = [fvals[0]] + [f(p) for p in simplex[1:]]
    best = int(np.argmin(fvals))
    return simplex[best]


class CorrMaxCombinerModel(Model, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    spec = Param(Params._dummy(), "spec", "JSON {cols, weights, mean, std, newName, drop}", TypeConverters.toString)

    @keyword_only
    def __init__(self, spec: dict | None = None):
        super().__init__()
        self._set_json(self.spec, spec or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        s = self._get_json(self.spec)
        combined = " + ".join(
            [_sql(0.0)] + [f"{_ident(c)} * {_sql(w)}" for c, w in zip(s["cols"], s["weights"])]
        )
        # `or 1.0`: degenerate all-zero-weight fit yields std 0; scale by 1
        # instead of an ANSI DIVIDE_BY_ZERO.
        score = f"(({combined}) - {_sql(s['mean'])}) / {_sql(s['std'] or 1.0)}"
        return _project(df, {s["newName"]: score}, drop=s["cols"] if s.get("drop") else ())


class CorrMaxCombiner(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """M11 Estimator. The fit collects the (k+1)×(k+1) moment matrix in ONE
    pass, then runs Nelder-Mead entirely driver-side on the closed-form
    corr(Xw, y) = (wᵀc) / sqrt(wᵀΣw · var_y)."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)
    targetCol = Param(Params._dummy(), "targetCol", "target", TypeConverters.toString)
    newName = Param(Params._dummy(), "newName", "output column", TypeConverters.toString)
    drop = Param(Params._dummy(), "drop", "drop sources", TypeConverters.toBoolean)

    @keyword_only
    def __init__(self, cols: list[str] | None = None, targetCol: str = "",
                 newName: str = "TOTAL_SCORE", drop: bool = False):
        super().__init__()
        self._set_json(self.cols, cols or [])
        self._set(targetCol=targetCol, newName=newName, drop=drop)

    def _fit(self, df: DataFrame) -> CorrMaxCombinerModel:
        cols = self._get_json(self.cols)
        y = self.getOrDefault(self.targetCol)
        k = len(cols)
        allc = cols + [y]
        # one pass: means and full second-moment matrix of (X, y)
        aggs = [F.avg(F.col(c).cast("double")).alias(f"m_{i}") for i, c in enumerate(allc)]
        for i, a in enumerate(allc):
            for j, b in enumerate(allc):
                if i <= j:
                    aggs.append(
                        F.avg((F.col(a) * F.col(b)).cast("double")).alias(f"s_{i}_{j}")
                    )
        row = df.agg(*aggs).head()
        m = np.array([row[f"m_{i}"] for i in range(k + 1)])
        S = np.zeros((k + 1, k + 1))
        for i in range(k + 1):
            for j in range(k + 1):
                S[i, j] = row[f"s_{min(i, j)}_{max(i, j)}"]
        cov = S - np.outer(m, m)  # population covariance
        Sxx, cxy, vyy = cov[:k, :k], cov[:k, k], cov[k, k]

        def neg_abs_corr(w: np.ndarray) -> float:
            var = float(w @ Sxx @ w)
            if var <= 0:
                return 0.0
            return -abs(float(w @ cxy) / np.sqrt(var * vyy))

        w = nelder_mead(neg_abs_corr, np.ones(k))
        mean = float(w @ m[:k])
        std = float(np.sqrt(w @ Sxx @ w))  # population std (sklearn scaler)
        model = CorrMaxCombinerModel(
            spec={
                "cols": cols,
                "weights": [float(x) for x in w],
                "mean": mean,
                "std": std,
                "newName": self.getOrDefault(self.newName),
                "drop": self.getOrDefault(self.drop),
                "achieved_corr": -neg_abs_corr(w),
            }
        )
        model._resetUid(self.uid)
        return self._copyValues(model)
