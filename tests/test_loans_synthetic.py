"""Loans pipeline tests that run on any host: a seeded synthetic raw loans
frame built here from ``schemas.LOANS_RAW_SCHEMA`` and the FIXTURES.md §1
domains (the golden-parity tests need the reference CSVs), and the SQL-text
quoting of the fitted stages' transforms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.sql.types import StructType

from consumer_loans_analysis_spark.ml.gaussian_nb import GaussianNBClassifier
from consumer_loans_analysis_spark.pipeline.loans import (
    build_feature_pipeline,
    build_processing_pipeline,
)
from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer, ServingWrapper
from consumer_loans_analysis_spark.pipeline.stages import (
    BucketOrdinalEncoder,
    NamedOneHotEncoder,
    OrdinalLadderEncoder,
    SentinelModeImputer,
)
from consumer_loans_analysis_spark.schemas import LOANS_RAW_SCHEMA

LABEL = "FINALIZED_LOAN"
VAR_SMOOTHING = 9.027e-05

# FIXTURES.md §1 categorical domains, in percent
DOMAINS = {
    "PRODUCT": {"C": 45, "B": 23, "F": 22, "E": 10, "A": 0.3, "D": 0.1},
    "AREA": {"County capital": 50, "Rural area": 28, "Urban area": 22, "Missing": 0.2},
    "RESIDENTIAL_PLACE": {
        "Owner without mortgage": 56, "Living with family": 36, "Owner with mortgage": 6,
        "Other": 1.6, "Rental": 0.2,
    },
    "EDUCATION": {
        "University": 36, "Highschool": 23, "Post secondary school": 11,
        "Vocational school": 8, "Post-graduate": 7, "Other": 5, "Missing": 4.6,
        "College": 4, "Middle school": 1.3, "Primary school": 0.2,
    },
    "MARITAL_STATUS": {"married": 54, "single": 34, "divorced": 7, "widow": 5},
    "ECONOMIC_SECTOR": {
        "Missing": 26.6, "Manufacturing": 20, "Wholesale and retail trade": 9,
        "Public administration and defence": 8, "Other": 6, "Transportation and storage": 5,
        "Human health and social work activities": 4, "Information and communication": 3,
        "Education": 3, "Professional, scientific and technical activities": 3,
        "Construction": 2, "Water supply": 2, "Financial and insurance activities": 2,
        "Mining and quarrying": 1.4, "Agriculture, hunting and forestry": 1.3,
        "Accommodation and food service activities": 1, "Electricity and gas": 1,
        "Real estate activities": 0.5,
    },
    "EMPLOYEE_NO": {
        "Missing": 22, "> 1.000": 21, "between 501-1.000": 12, "between 101-250": 11,
        "between 251-500": 11, "between 21-50": 9, "between 51-100": 7,
        "between 0-10": 5, "between 11-20": 2,
    },
}


def synthetic_loans(n: int, seed: int) -> pd.DataFrame:
    """``n`` raw loan rows in ``LOANS_RAW_SCHEMA`` order. The first rows
    cycle through every categorical domain, so a fitted pipeline emits every
    one-hot column; the label rises with the client relationship length and
    the account flags."""
    rng = np.random.default_rng(seed)
    c = {}
    for name, dom in DOMAINS.items():
        values = np.array(list(dom), dtype=object)
        p = np.array(list(dom.values()), dtype=float)
        c[name] = values[rng.choice(len(values), size=n, p=p / p.sum())]
        c[name][: len(values)] = values

    def skewed(median, sigma, lo, hi):
        return np.clip(np.rint(rng.lognormal(np.log(median), sigma, n)), lo, hi).astype(np.int64)

    c["AGE"] = rng.integers(19, 75, n)
    c["HOUSEHOLD_MEMBERS"] = rng.choice([1, 2, 3, 4, 5], size=n, p=[0.5, 0.33, 0.11, 0.05, 0.01])
    c["NO_OF_DEPENDENTS"] = rng.choice([0, 1, 2, 3], size=n, p=[0.84, 0.125, 0.033, 0.002])
    c["INCOME"] = np.round(np.clip(rng.lognormal(np.log(1426.0), 0.7, n), 0.0, 40621.6), 2)
    c["WORK_SENIORITY"] = skewed(5, 0.9, 1, 46)
    c["BUSINESS AGE"] = skewed(16, 0.8, 1, 116)
    c["LENGTH_RELATIONSHIP_WITH_CLIENT"] = skewed(2, 1.3, 1, 110)
    c["CURRENT_ACCOUNT"] = (rng.random(n) < 0.485).astype(np.int64)
    # a debit card implies a current account
    c["DEBIT_CARD"] = c["CURRENT_ACCOUNT"] * (rng.random(n) < 0.79)
    c["SALARY_ACCOUNT"] = (rng.random(n) < 0.123).astype(np.int64)
    for flag in ("SAVING_ACCOUNT", "FOREIGN_ACCOUNT", "DEPOSIT", "PENSION_FUNDS"):
        c[flag] = np.zeros(n, dtype=np.int64)
    c["DEFAULT_FLAG"] = (rng.random(n) < 0.05).astype(np.int64)
    logit = (
        -4.0 + 1.5 * np.log1p(c["LENGTH_RELATIONSHIP_WITH_CLIENT"])
        + 1.0 * c["SALARY_ACCOUNT"] + 0.8 * c["CURRENT_ACCOUNT"]
    )
    c[LABEL] = (rng.random(n) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int64)
    return pd.DataFrame({f.name: c[f.name] for f in LOANS_RAW_SCHEMA.fields})


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    return [tuple(v.item() if hasattr(v, "item") else v for v in r) for r in pdf.itertuples(index=False)]


@pytest.fixture(scope="module")
def served(spark):
    """EP1 (model imputers at 3 trees of depth 3) + EP2 + a GaussianNB head
    fitted on 300 synthetic rows, behind ``ServingWrapper``."""
    train = spark.createDataFrame(_rows(synthetic_loans(300, seed=7)), LOANS_RAW_SCHEMA)
    valid_pdf = synthetic_loans(120, seed=8)
    valid = spark.createDataFrame(_rows(valid_pdf), LOANS_RAW_SCHEMA)
    processing = build_processing_pipeline(with_model_imputers=True)
    for stage in processing.getStages():
        if isinstance(stage, ModelImputer):
            stage._set(numTrees=3, maxDepth=3)
    proc = processing.fit(train)
    feat = build_feature_pipeline().fit(proc.transform(train))
    features = PipelineModel(stages=[proc, feat])
    featured = features.transform(train)
    head = Pipeline(stages=[
        VectorAssembler(inputCols=[c for c in featured.columns if c != LABEL], outputCol="features"),
        GaussianNBClassifier(varSmoothing=VAR_SMOOTHING, labelCol=LABEL),
    ]).fit(featured)
    return ServingWrapper(features, head), train, valid, valid_pdf


def test_serving_plan_is_job_free_and_requests_match_batch(spark, served):
    sw, _, valid, valid_pdf = served
    batch = sw.transform(valid.drop(LABEL)).select("prediction", "probs").collect()
    assert len(batch) == len(valid_pdf)

    idx = [3, 17, 42, 99]
    request = spark.createDataFrame(
        _rows(valid_pdf.iloc[idx].drop(columns=[LABEL])),
        StructType([f for f in LOANS_RAW_SCHEMA.fields if f.name != LABEL]),
    )
    sc = spark.sparkContext
    group = "test-serving-plan"
    sc.setJobGroup(group, "serving plan build")
    try:
        out = sw.transform(request)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    got = out.select("prediction", "probs").collect()
    assert [tuple(r) for r in got] == [tuple(batch[i]) for i in idx]


def test_serving_predictions_match_numpy_gaussian_nb(spark, served):
    """The head's predictions are a numpy GaussianNB's (population
    variances plus var_smoothing × the largest feature variance) fitted on
    the featured train frame and applied to the valid rows featured as
    ``ServingWrapper`` features them (dummy label 1). Rows whose two class
    log-likelihoods tie within rounding are not compared."""
    from pyspark.sql import functions as F

    sw, train, valid, _ = served

    def frame(df):
        pdf = sw.feature_pipeline.transform(df).toPandas()
        return pdf.drop(columns=[LABEL]).to_numpy(float), pdf[LABEL].to_numpy(float)

    x, y = frame(train)
    xv, _ = frame(valid.withColumn(LABEL, F.lit(1).cast("long")))
    classes = np.unique(y)
    eps = VAR_SMOOTHING * x.var(axis=0).max()
    ll = []
    for k in classes:
        xk = x[y == k]
        var = xk.var(axis=0) + eps
        ll.append(np.log(len(xk) / len(x))
                  - 0.5 * np.sum(np.log(2 * np.pi * var) + (xv - xk.mean(axis=0)) ** 2 / var, axis=1))
    ll = np.array(ll)
    want = classes[ll.argmax(axis=0)]
    decisive = np.ptp(ll, axis=0) > 1e-9 * (1.0 + np.abs(ll).max(axis=0))

    got = sw.transform(valid.drop(LABEL)).select("prediction", "probs").toPandas()
    pred = got["prediction"].to_numpy()
    assert decisive.sum() > 0.9 * len(pred)
    assert np.array_equal(pred[decisive], want[decisive])
    e = np.exp(ll - ll.max(axis=0))
    np.testing.assert_allclose(np.stack(got["probs"].to_numpy()), (e / e.sum(axis=0)).T, atol=1e-6)


def test_stage_transforms_quote_names_and_values(spark):
    """Column names with a space, a dot and a backtick, and category values
    with a quote, a backslash and a percent sign, survive the SQL text the
    fitted transforms are built from."""
    q, bs, pct = "it's", "back\\slash", "50% off"
    cats = [q, bs, pct, q, "Missing", bs, q]
    df = spark.createDataFrame(
        [(i, v, v, v, v) for i, v in enumerate(cats)],
        "id long, `sp ace` string, `do.t` string, `back``tick` string, `a b.c``d` string",
    )
    out = NamedOneHotEncoder(cols=["sp ace"], excludeValues=["Missing"]).fit(df).transform(df)
    out = SentinelModeImputer(cols=["do.t"]).fit(out).transform(out)
    out = OrdinalLadderEncoder(inputCol="back`tick", ladder=[pct, bs, q]).transform(out)
    out = BucketOrdinalEncoder(
        inputCol="a b.c`d", outputCol="o.u`t", mapping={q: 2, bs: 1, pct: 0}
    ).transform(out)

    assert out.columns == [
        "id", "do.t", "back`tick", f"sp ace_{pct}", f"sp ace_{bs}", f"sp ace_{q}", "o.u`t",
    ]
    ladder = {pct: 0.0, bs: 1 / 3, q: 2 / 3}
    bucket = {q: 2.0, bs: 1.0, pct: 0.0}
    want = [
        (
            i,
            q if v == "Missing" else v,  # the train mode (3 of 6 non-sentinel rows)
            ladder.get(v),
            float(v == pct), float(v == bs), float(v == q),
            bucket.get(v),
        )
        for i, v in enumerate(cats)
    ]
    assert [tuple(r) for r in out.orderBy("id").collect()] == want


def test_sql_literals_match_lit(spark):
    """``_sql`` writes each value as the literal ``F.lit`` makes of it:
    same type, and the same double to the bit."""
    import math

    from pyspark.sql import functions as F

    from consumer_loans_analysis_spark.pipeline.stages import _sql

    values = [
        0.1, -0.0, 1e16, -2.5e-7, 5e-324, 1.7976931348623157e308, math.inf, -math.inf,
        7, -(2**31), 2**40, -(2**40), True, None, "a'b\\c%", "",
    ]
    got = spark.range(1).selectExpr(*[f"{_sql(v)} AS c{i}" for i, v in enumerate(values)])
    want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    row = got.first()
    for i, v in enumerate(values):
        if isinstance(v, float):
            assert math.copysign(1.0, row[i]) == math.copysign(1.0, v) and row[i] == v, (v, row[i])
        else:
            assert row[i] == v and type(row[i]) is type(v), (v, row[i])
    nan = spark.range(1).selectExpr(_sql(math.nan)).first()[0]
    assert math.isnan(nan)
