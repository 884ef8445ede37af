"""The benchmark's workloads: generated inputs, one pass over the
operations and the correctness checks that run after the timed window.

Each pass returns ``Op`` records, one per operation, with the phase
boundaries (wall-clock seconds) the trace attributes Spark jobs to. A failed
operation is recorded, never raised, so the other operations still run.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql.types import StructType

import gen_loans
import gen_tables
from spans import tree_cpu_s
from consumer_loans_analysis_spark.plans import registry
from consumer_loans_analysis_spark.schemas import LOANS_RAW_SCHEMA, TESTDATA_TABLES
from consumer_loans_analysis_spark.sources import readers

LABEL = "FINALIZED_LOAN"
REQUEST_SCHEMA = StructType([f for f in LOANS_RAW_SCHEMA.fields if f.name != LABEL])

# the ``queries`` workload: ROADMAP B's eager-build dedup and similarity
# paths, and a relational aggregate over sources and functions
QUERIES = (
    "d3_minhash_lsh_pairs",
    "sim5_pq_topk",
    "sim5b_pq_full_rerank_topk",
    "sim8_ivfadc_pinned_topk",
    "a12_corr_matrix",
)
# loans serving: small requests per pass, and the range of their row counts
REQUESTS = 2
REQUEST_ROWS = (1, 8)
# the model imputers' forests, reduced from the package's 150 trees of
# depth 14 so that a fit takes seconds, not minutes
IMPUTER_PARAMS = {"numTrees": 10, "maxDepth": 5}
VAR_SMOOTHING = 9.027e-05


@dataclass
class Op:
    name: str
    kind: str
    # phase name -> (start, end) wall-clock seconds, in execution order
    phases: dict[str, tuple[float, float]] = field(default_factory=dict)
    # phase name -> CPU seconds the process tree used in it
    cpu: dict[str, float] = field(default_factory=dict)
    rows: int = 0
    error: str | None = None
    result: object = None

    @property
    def start(self) -> float:
        return min(s for s, _ in self.phases.values())

    @property
    def end(self) -> float:
        return max(e for _, e in self.phases.values())

    @property
    def latency(self) -> float:
        return self.end - self.start

    def phase_s(self, name: str) -> float:
        s, e = self.phases.get(name, (0.0, 0.0))
        return e - s


class _Phases:
    """Times consecutive phases of one operation and tags their Spark jobs
    with a job group ``<op>/<phase>``."""

    def __init__(self, sc, op: Op, tag: str) -> None:
        self.sc, self.op, self.tag = sc, op, tag

    @contextmanager
    def __call__(self, phase: str):
        self.sc.setJobGroup(f"{self.tag}/{phase}", phase)
        c0 = tree_cpu_s(os.getpid())
        t0 = time.time()
        try:
            yield
        finally:
            self.op.phases[phase] = (t0, time.time())
            self.op.cpu[phase] = tree_cpu_s(os.getpid()) - c0

    def jobs(self, phase: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(f"{self.tag}/{phase}"))


def _failed(op: Op, where: str) -> Op:
    op.error = f"{where}: {traceback.format_exc(limit=4)}"
    return op


# --- registry queries -----------------------------------------------------------


class QueryWorkload:
    """Registry queries over generated star-schema/text/vector tables."""

    kind = "query"

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.names: list[str] = list(QUERIES)
        self.data_dir = os.path.join(work, "tables")
        self.rng = random.Random(seed)

    def prepare(self, spark) -> None:
        """Generate and write the tables, then read each back through
        ``sources.readers`` (resolving a parquet schema runs a Spark job)."""
        registry.load_all()
        gen_tables.write_tables(self.data_dir, self.seed, self.cfg["sf"])
        for df in readers.load_tables(spark, self.data_dir).values():
            df.schema  # noqa: B018 - schema resolution is the read's eager part

    def run_pass(self, spark, pass_no: int) -> list[Op]:
        order = list(self.names)
        self.rng.shuffle(order)
        sc = spark.sparkContext
        ops = []
        for name in order:
            op = Op(name, self.kind)
            ph = _Phases(sc, op, f"p{pass_no}/{name}")
            try:
                with ph("build"):
                    df = registry.QUERIES[name](spark, self.data_dir)
                with ph("exec"):
                    pdf = df.toPandas()
                op.rows = len(pdf)
                op.result = pdf
            except Exception:
                _failed(op, "spark")
            ops.append(op)
        return ops

    def check(self, passes: list[list[Op]]) -> None:
        """Compare every result with the DuckDB oracle over the same parquet,
        order-insensitively (``verify_local.canon_pdf``); ``sim5_pq_topk``,
        which has no oracle, must reach recall@5 >= 0.95 against the exact
        answer of its full-rerank twin."""
        from verify_local import canon_pdf

        expected: dict[str, pd.DataFrame | str] = {}
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name in self.names:
                oracle = registry.ORACLES.get(name)
                if oracle is None and name == "sim5_pq_topk":
                    oracle = registry.ORACLES["sim5b_pq_full_rerank_topk"]
                try:
                    expected[name] = con.execute(oracle).df()
                except duckdb.Error as e:
                    expected[name] = f"oracle failed: {e}"
        finally:
            con.close()
        canon = {
            n: canon_pdf(e) for n, e in expected.items()
            if n != "sim5_pq_topk" and isinstance(e, pd.DataFrame)
        }
        for ops in passes:
            for op in ops:
                if op.error is not None:
                    continue
                got = op.result
                if isinstance(expected[op.name], str):
                    op.error = expected[op.name]
                elif op.name == "sim5_pq_topk":
                    recall = _recall_at_k(got, expected[op.name])
                    if recall < 0.95:
                        op.error = f"recall@5 {recall:.3f} < 0.95"
                elif sorted(got.columns) != sorted(expected[op.name].columns):
                    op.error = "column mismatch"
                elif canon_pdf(got) != canon[op.name]:
                    op.error = "value mismatch against the DuckDB oracle"
                op.result = None


def _recall_at_k(got: pd.DataFrame, exact: pd.DataFrame) -> float:
    want = exact.groupby("query_id")["neighbor_id"].apply(set)
    have = got.groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(len(want[q] & have.get(q, set())) for q in want.index)
    return hits / max(1, sum(len(v) for v in want))


# --- loans fit / serve --------------------------------------------------------


class LoansWorkload:
    """EP1 + EP2 with the model imputers, a GaussianNB head behind
    ``ServingWrapper``, then batch and small-request scoring."""

    ONE_HOT_BLOCKS = {
        "AREA_": gen_loans.AREA,
        "PRODUCT_": gen_loans.PRODUCT,
        "RESIDENTIAL_PLACE_": gen_loans.RESIDENTIAL_PLACE,
        "MARITAL_STATUS_": gen_loans.MARITAL_STATUS,
        "ECONOMIC_SECTOR_": gen_loans.ECONOMIC_SECTOR,
        "HAS_CURRENT_ACCOUNT_": {"no": 1, "with debit card": 1, "without debit card": 1},
    }
    FEATURED_COLUMNS = 55

    def __init__(self, cfg: dict, seed: int, work: str) -> None:
        self.cfg = cfg
        self.seed = seed
        self.dir = os.path.join(work, "loans")
        self.rng = np.random.default_rng(seed)
        self._sized = False

    def _size_imputers(self) -> None:
        """Apply ``IMPUTER_PARAMS`` to every processing pipeline
        ``fit_full_pipeline`` builds (the only change from the package
        defaults, to fit the run budget)."""
        if self._sized:
            return
        from consumer_loans_analysis_spark.pipeline import loans
        from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer

        build = loans.build_processing_pipeline

        def sized(*args, **kwargs):
            pipe = build(*args, **kwargs)
            for stage in pipe.getStages():
                if isinstance(stage, ModelImputer):
                    for k, v in IMPUTER_PARAMS.items():
                        stage.set(stage.getParam(k), v)
            return pipe

        loans.build_processing_pipeline = sized
        self._sized = True

    def _csv(self, name: str, seed: int, n: int) -> str:
        os.makedirs(self.dir, exist_ok=True)
        path = os.path.join(self.dir, f"{name}.csv")
        gen_loans.write_loans_csv(path, seed, n)
        return path

    def prepare(self, spark) -> None:
        """Write the seeded train/valid CSVs and read them back through
        ``sources.readers.read_loans_csv`` (cached, materialised)."""
        self._size_imputers()
        n_train, n_valid = self.cfg["train_rows"], self.cfg["valid_rows"]
        train_csv = self._csv("train", self.seed, n_train)
        valid_csv = self._csv("valid", self.seed + 7_919, n_valid)
        self.train = readers.read_loans_csv(spark, train_csv).cache()
        self.valid = readers.read_loans_csv(spark, valid_csv).cache()
        self.train.count()
        self.valid.count()
        self.valid_pdf = pd.read_csv(valid_csv)

    def _requests(self, n_rows: int) -> list[np.ndarray]:
        lo, hi = REQUEST_ROWS
        return [
            self.rng.choice(n_rows, size=int(self.rng.integers(lo, hi + 1)), replace=False)
            for _ in range(REQUESTS)
        ]

    def _fit(self, train):
        from pyspark.ml import Pipeline, PipelineModel
        from pyspark.ml.feature import VectorAssembler

        from consumer_loans_analysis_spark.ml.gaussian_nb import GaussianNBClassifier
        from consumer_loans_analysis_spark.pipeline.loans import fit_full_pipeline
        from consumer_loans_analysis_spark.pipeline.model_imputer import ServingWrapper

        proc, feat = fit_full_pipeline(train, with_model_imputers=True)
        features = PipelineModel(stages=[proc, feat])
        featured = features.transform(train)
        cols = [c for c in featured.columns if c != LABEL]
        head = Pipeline(stages=[
            VectorAssembler(inputCols=cols, outputCol="features"),
            GaussianNBClassifier(varSmoothing=VAR_SMOOTHING, labelCol=LABEL),
        ]).fit(featured)
        return ServingWrapper(features, head)

    def _request_frame(self, spark, idx: np.ndarray):
        """A scoring request: raw rows of the valid set, without the label."""
        rows = self.valid_pdf.iloc[idx].drop(columns=[LABEL])
        return spark.createDataFrame(rows, schema=REQUEST_SCHEMA)

    def run_pass(self, spark, pass_no: int) -> list[Op]:
        sc = spark.sparkContext
        ops: list[Op] = []
        fit = Op("fit", "fit")
        ph = _Phases(sc, fit, f"p{pass_no}/fit")
        try:
            with ph("fit"):
                sw = self._fit(self.train)
            fit.result = sw
        except Exception:
            ops.append(_failed(fit, "fit"))
            return ops
        ops.append(fit)

        batch = Op("batch", "batch")
        ph = _Phases(sc, batch, f"p{pass_no}/batch")
        try:
            with ph("plan"):
                out = sw.transform(self.valid.drop(LABEL))
            with ph("exec"):
                pred = out.select("prediction").toPandas()["prediction"].to_numpy()
            batch.rows = len(pred)
            batch.result = (pred, ph.jobs("plan"))
        except Exception:
            _failed(batch, "batch")
        ops.append(batch)

        for i, idx in enumerate(self._requests(len(self.valid_pdf))):
            req = Op(f"request{i}", "request")
            ph = _Phases(sc, req, f"p{pass_no}/request{i}")
            try:
                with ph("input"):
                    df = self._request_frame(spark, idx)
                with ph("plan"):
                    out = sw.transform(df)
                with ph("exec"):
                    got = [r["prediction"] for r in out.select("prediction").collect()]
                req.rows = len(got)
                req.result = (idx, np.array(got), ph.jobs("plan"))
            except Exception:
                _failed(req, "request")
            ops.append(req)
        return ops

    def check(self, passes: list[list[Op]]) -> None:
        """Model checks on each fit (winsorizer bounds, one-hot blocks, no
        sentinel left, featured schema) and serving checks on each batch and
        request (row count, predictions in {0, 1}, zero jobs while building
        the plan; the batch agrees with a reference GaussianNB, requests
        with the batch)."""
        for ops in passes:
            by_kind: dict[str, list[Op]] = {}
            for op in ops:
                by_kind.setdefault(op.kind, []).append(op)
            fit = by_kind["fit"][0]
            if fit.error is None:
                fit.error = self._check_model(fit.result)
            batch_pred = None
            for op in by_kind.get("batch", []):
                if op.error is None:
                    pred, plan_jobs = op.result
                    op.error = _serving_error(pred, len(self.valid_pdf), plan_jobs)
                    if op.error is None and fit.error is None:
                        op.error = self._check_head(fit.result, pred)
                    if op.error is None:
                        batch_pred = pred
            for op in by_kind.get("request", []):
                if op.error is None:
                    idx, pred, plan_jobs = op.result
                    op.error = _serving_error(pred, len(idx), plan_jobs)
                    if op.error is None and batch_pred is not None and not np.array_equal(pred, batch_pred[idx]):
                        op.error = "request predictions differ from the batch"
            for op in ops:
                op.result = None

    def _check_head(self, sw, pred: np.ndarray) -> str | None:
        """The batch predictions must be those of a GaussianNB recomputed in
        numpy, with the package's definition (population variances, plus
        ``VAR_SMOOTHING`` times the largest feature variance), from the
        model's own featured train frame and applied to the valid rows
        featured as ``ServingWrapper`` features them (label set to its dummy
        value 1, which the model imputers see). Rows whose two class
        log-likelihoods are within rounding of each other are not compared.

        This stands in for a floor on the hard ROC-AUC: on some seeds a
        ratio of z-scored columns (FIXTURES.md §3) takes a variance near
        1e6 in the train frame, the smoothing term then swamps every other
        feature and the head predicts the prior class for every row."""
        from pyspark.sql import functions as F

        try:
            def frame(df) -> tuple[np.ndarray, np.ndarray]:
                pdf = sw.feature_pipeline.transform(df).toPandas()
                return pdf.drop(columns=[LABEL]).to_numpy(float), pdf[LABEL].to_numpy(float)

            x, y = frame(self.train)
            xv, _ = frame(self.valid.withColumn(LABEL, F.lit(1).cast("long")))
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
            bad = int(np.sum((want != pred) & decisive))
        except Exception:
            return f"head check: {traceback.format_exc(limit=4)}"
        if bad:
            return f"{bad} of {len(pred)} batch predictions differ from a reference GaussianNB"
        return None

    def _check_model(self, sw) -> str | None:
        from pyspark.ml import PipelineModel
        from pyspark.sql import functions as F

        try:
            proc = sw.feature_pipeline.stages[0]
            winsor = proc.stages[1]
            bounds = winsor._get_json(winsor.bounds)
            clipped = PipelineModel(stages=proc.stages[:2]).transform(self.valid)
            aggs = []
            for c in bounds:
                aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
            r = clipped.agg(*aggs).first()
            for c, (lo, hi) in bounds.items():
                if r[f"lo_{c}"] < lo - 1e-9 or r[f"hi_{c}"] > hi + 1e-9:
                    return f"winsorized {c} outside [{lo}, {hi}]"
            featured = sw.feature_pipeline.transform(self.valid)
            if len(featured.columns) != self.FEATURED_COLUMNS:
                return f"featured schema has {len(featured.columns)} columns, not {self.FEATURED_COLUMNS}"
            string_cols = [f.name for f in featured.schema.fields if f.dataType.typeName() == "string"]
            if string_cols:
                return f"categorical columns left unencoded: {string_cols}"
            checks = []
            for prefix, domain in self.ONE_HOT_BLOCKS.items():
                want = {prefix + v for v in domain if v != "Missing"}
                have = {c for c in featured.columns if c.startswith(prefix)}
                if have != want:
                    return f"one-hot block {prefix}* is {sorted(have)}"
                total = sum((F.col(f"`{c}`") for c in sorted(have)), F.lit(0.0))
                checks.append(F.sum((F.abs(total - 1.0) > 1e-9).cast("int")).alias(prefix))
            checks.append(F.sum(F.col("EMPLOYEE_NO_NUM").isNull().cast("int")).alias("emp_null"))
            r = featured.agg(*checks).first()
            bad = {k: v for k, v in r.asDict().items() if v}
            if bad:
                return f"rows with a broken one-hot block or an unimputed sentinel: {bad}"
        except Exception:
            return f"model check: {traceback.format_exc(limit=4)}"
        return None


def _serving_error(pred: np.ndarray, n_rows: int, plan_jobs: int) -> str | None:
    if len(pred) != n_rows:
        return f"{len(pred)} predictions for {n_rows} rows"
    if not np.isin(pred, (0.0, 1.0)).all():
        return "prediction outside {0, 1}"
    if plan_jobs:
        return f"serving transform ran {plan_jobs} Spark jobs"
    return None


WORKLOADS = {"queries": QueryWorkload, "loans": LoansWorkload}
