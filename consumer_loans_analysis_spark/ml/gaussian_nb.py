"""Gaussian Naive Bayes with sklearn-style ``var_smoothing`` (engine-native).

The reference's tuned AND final shipped classifier is sklearn
``GaussianNB(var_smoothing=9.027e-05)`` — 100 optuna trials over the
smoothing knob (modeling_validation.ipynb:608-614, final model
:2741-2767). MLlib's ``NaiveBayes(modelType='gaussian')`` exposes no such
knob, and the knob is what moves class-1 recall from ~0.79 to the
reference's 0.85, so this module implements the classifier directly in
Spark-native form:

- **Fit is ONE aggregation pass**: ``groupBy(label)`` with per-feature
  ``avg(x)`` and ``avg(x²)`` columns (population variance
  ``E[x²] − E[x]²``, numpy ``ddof=0`` — sklearn's convention). Class
  priors come from the same pass. Everything after that is driver-side
  arithmetic on a K×d table of floats.
- **Smoothing is applied at SCORING time**, not fit time:
  ``σ²_smooth = σ² + ε·max_i Var_global(x_i)`` exactly as sklearn does.
  Because the sufficient statistics do not depend on ε,
  ``withVarSmoothing(ε)`` returns a re-smoothed model with **zero refit
  cost** — a 100-trial smoothing sweep is one fit plus 100 cheap scoring
  passes over a cached frame, where the reference refits per trial.
- **Scoring is plain SQL expressions** (no UDF): per class,
  ``log π_k − Σ_i [½·ln(2π·σ²_ki) + (x_i−μ_ki)²/(2σ²_ki)]`` unrolled over
  the d features (d≈54 here → ~2·K·d scalar ops per row, whole-stage
  codegen). The expressions are written as SQL text with exact double
  literals and parsed in one ``selectExpr`` per projection: built as
  PySpark Columns, each literal and operator was its own set of py4j round
  trips, ~10 per (class, feature) term, and building the plan cost more
  than running it on a serving request. Three projections: the feature
  array (so the vector→array conversion runs once per row), the K
  log-likelihoods as one array column (so the K×d tree appears once in the
  plan), then argmax and softmax over that column. For very large K·d
  (thousands), the same state could feed an Arrow-batched pandas UDF; at
  the loans-table shape the expression form is strictly faster.

100 TB shape: the fit aggregation is a map-side-combinable ``groupBy``
over K classes — one shuffle of K×(2d+1) partial sums per partition,
independent of row count; scoring is embarrassingly parallel row-local
arithmetic with the K×d parameter table baked into the plan as literals.
"""

from __future__ import annotations

import json
import math

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.pipeline.stages import _ident, _project, _sql

_LN_2PI = math.log(2.0 * math.pi)


def _feature_dim(df: DataFrame, features_col: str) -> int:
    """Vector size from ML attribute metadata when present (VectorAssembler
    writes it — no job); falls back to probing one row."""
    meta = df.schema[features_col].metadata
    try:
        attrs = meta["ml_attr"]["num_attrs"]
        if attrs > 0:
            return int(attrs)
    except (KeyError, TypeError):
        pass
    row = df.select(F.size(vector_to_array(F.col(features_col))).alias("d")).first()
    return int(row["d"])


class GaussianNBClassifier(Estimator, DefaultParamsReadable, DefaultParamsWritable):
    """Estimator: one groupBy(label) aggregation → GaussianNBModel."""

    labelCol = Param(Params._dummy(), "labelCol", "label column", TypeConverters.toString)
    featuresCol = Param(Params._dummy(), "featuresCol", "features vector column", TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol", "prediction column", TypeConverters.toString)
    scoresCol = Param(Params._dummy(), "scoresCol", "posterior-probability array column; empty = off", TypeConverters.toString)
    varSmoothing = Param(Params._dummy(), "varSmoothing", "portion of the largest global feature variance added to all variances", TypeConverters.toFloat)

    @keyword_only
    def __init__(self, labelCol: str = "label", featuresCol: str = "features",
                 predictionCol: str = "prediction", scoresCol: str = "probs",
                 varSmoothing: float = 1e-9):
        super().__init__()
        self._set(labelCol=labelCol, featuresCol=featuresCol,
                  predictionCol=predictionCol, scoresCol=scoresCol,
                  varSmoothing=varSmoothing)

    def _fit(self, df: DataFrame) -> "GaussianNBModel":
        label = self.getOrDefault(self.labelCol)
        fcol = self.getOrDefault(self.featuresCol)
        d = _feature_dim(df, fcol)

        arr = vector_to_array(F.col(fcol))
        aggs = [F.count(F.lit(1)).alias("_n")]
        for i in range(d):
            aggs.append(F.avg(arr[i]).alias(f"_m{i}"))
            aggs.append(F.avg(arr[i] * arr[i]).alias(f"_s{i}"))
        rows = df.groupBy(F.col(label).cast("double").alias("_y")).agg(*aggs).collect()
        rows.sort(key=lambda r: r["_y"])

        total = sum(r["_n"] for r in rows)
        classes, log_priors, mus, vars_ = [], [], [], []
        for r in rows:
            classes.append(r["_y"])
            log_priors.append(math.log(r["_n"] / total))
            mu = [r[f"_m{i}"] for i in range(d)]
            # population variance E[x²] − μ² (clamped: catastrophic
            # cancellation on near-constant columns can go ~-1e-17)
            var = [max(r[f"_s{i}"] - mu[i] * mu[i], 0.0) for i in range(d)]
            mus.append(mu)
            vars_.append(var)

        # pooled (law of total variance) global per-feature variance, from
        # the same pass: Var(x) = Σ w_k(σ²_k + μ²_k) − (Σ w_k μ_k)²
        eps_base = 0.0
        for i in range(d):
            gm = sum((r["_n"] / total) * mus[k][i] for k, r in enumerate(rows))
            gs = sum((r["_n"] / total) * (vars_[k][i] + mus[k][i] ** 2)
                     for k, r in enumerate(rows))
            eps_base = max(eps_base, gs - gm * gm)

        state = {"classes": classes, "log_priors": log_priors, "mu": mus,
                 "var": vars_, "eps_base": eps_base}
        return self._copyValues(GaussianNBModel(
            modelJson=json.dumps(state),
            featuresCol=fcol,
            predictionCol=self.getOrDefault(self.predictionCol),
            scoresCol=self.getOrDefault(self.scoresCol),
            varSmoothing=self.getOrDefault(self.varSmoothing),
        ))


class GaussianNBModel(Model, DefaultParamsReadable, DefaultParamsWritable):
    """Fitted Gaussian NB: K×d mean/variance table scored by unrolled SQL
    expressions; ``withVarSmoothing`` re-smooths without refit."""

    modelJson = Param(Params._dummy(), "modelJson", "serialized priors/means/variances", TypeConverters.toString)
    featuresCol = Param(Params._dummy(), "featuresCol", "features vector column", TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol", "prediction column", TypeConverters.toString)
    scoresCol = Param(Params._dummy(), "scoresCol", "posterior-probability array column; empty = off", TypeConverters.toString)
    varSmoothing = Param(Params._dummy(), "varSmoothing", "portion of the largest global feature variance added to all variances", TypeConverters.toFloat)

    @keyword_only
    def __init__(self, modelJson: str = "{}", featuresCol: str = "features",
                 predictionCol: str = "prediction", scoresCol: str = "probs",
                 varSmoothing: float = 1e-9):
        super().__init__()
        self._set(modelJson=modelJson, featuresCol=featuresCol,
                  predictionCol=predictionCol, scoresCol=scoresCol,
                  varSmoothing=varSmoothing)

    def withVarSmoothing(self, var_smoothing: float) -> "GaussianNBModel":
        """Same sufficient statistics, different ε — zero refit cost (the
        smoothing-sweep idiom; stats do not depend on ε)."""
        return GaussianNBModel(
            modelJson=self.getOrDefault(self.modelJson),
            featuresCol=self.getOrDefault(self.featuresCol),
            predictionCol=self.getOrDefault(self.predictionCol),
            scoresCol=self.getOrDefault(self.scoresCol),
            varSmoothing=var_smoothing,
        )

    def _transform(self, df: DataFrame) -> DataFrame:
        state = json.loads(self.getOrDefault(self.modelJson))
        classes = state["classes"]
        eps = self.getOrDefault(self.varSmoothing) * state["eps_base"]
        d = len(state["mu"][0])

        # materialize the array in its own projection so vector→array runs
        # once per row (CSE across sibling expressions is not guaranteed)
        xcol, llcol = "__gnb_x", "__gnb_ll"
        out = df.withColumn(xcol, vector_to_array(F.col(self.getOrDefault(self.featuresCol))))

        x = _ident(xcol)
        logliks = []
        for k in range(len(classes)):
            terms = [_sql(float(state["log_priors"][k]))]
            for i in range(d):
                s = state["var"][k][i] + eps
                terms.append(
                    f"({_sql(-0.5 * (_LN_2PI + math.log(s)))}"
                    f" - power({x}[{i}] - {_sql(state['mu'][k][i])}, 2) / {_sql(2.0 * s)})"
                )
            logliks.append(" + ".join(terms))
        out = _project(out, {llcol: f"array({', '.join(logliks)})"})

        # softmax with the max subtracted (logsumexp) for stability. K is
        # small (2 for loans, ≲20 for imputers) so everything is UNROLLED
        # plain expressions over the materialized log-likelihood array:
        # higher-order-function lambdas sit outside codegen subexpression
        # elimination.
        ll = _ident(llcol)
        mx = f"array_max({ll})"
        exps = [f"exp({ll}[{k}] - {mx})" for k in range(len(classes))]
        denom = " + ".join(exps)
        new = {
            # first-max argmax (np.argmax tie convention), mapped to the label
            self.getOrDefault(self.predictionCol): (
                f"element_at(array({', '.join(_sql(float(c)) for c in classes)}),"
                f" CAST(array_position({ll}, {mx}) AS INT))"
            ),
        }
        scores_col = self.getOrDefault(self.scoresCol)
        if scores_col:
            new[scores_col] = "array(" + ", ".join(f"{e} / ({denom})" for e in exps) + ")"
        return _project(out, new, drop=[xcol, llcol])
