"""Binary Gaussian Process Classification (Laplace approximation) on Spark.

Parity: classification/GaussianProcessClassifier.scala —
- {0,1} label contract enforced distributedly (:68-72),
- per-expert Laplace/Newton objective (:74-129, R&W alg. 3.1 + 5.1),
- the latent mode f (not y) is projected by PPA (:62-65),
- model emits rawPrediction [-f, f], probability [sigmoid(-f), 1-sigmoid(-f)],
  prediction = argmax (:137-162).

Latent warm start (SURVEY §2.3 "in-place mutation", reference :52-60): the
reference warm-starts each expert's Newton solve from latent state mutated
inside the cached RDD.  Python workers are stateless, so the rebuild carries
the same state EXPLICITLY — a ``state array<double>`` column on the packed
expert frame, read by every objective evaluation and rewritten once per
accepted L-BFGS iterate (``Experts.update_states``).  Line-search candidates
warm-start from the last accepted iterate's modes, collapsing the ~10-
iteration cold Newton solve to 1-3 warm iterations; the converged mode is a
pure function of (y, X, hypers), so results match the stateless path up to
Newton tolerance.  Observability: ``_fit_stats['aux_total']`` accumulates
Newton iterations summed over experts × evaluations.

``probabilityGaussHermite=True`` additionally calibrates probabilities with
the predictive variance via Gauss-Hermite quadrature — the reference ships and
unit-tests this integrator but never wires it in (util/Integrator.scala:7-16,
dead code per SURVEY §2.5); here it is an opt-in flag.

Multiclass: compose with ``OneVsRestGP`` (the reference composes Spark's
OneVsRest the same way, classification/examples/Iris.scala:26-35).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasProbabilityCol, HasRawPredictionCol
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .estimator_base import GaussianProcessEstimatorBase, GaussianProcessModelBase
from .experts import features_as_array
from .gp_math import _sigmoid, gpc_laplace


class _GPCOutputParams(HasRawPredictionCol, HasProbabilityCol):
    probabilityGaussHermite = Param(
        Params._dummy(),
        "probabilityGaussHermite",
        "calibrate probabilities with the predictive variance via Gauss-"
        "Hermite quadrature instead of squashing the latent mean",
        typeConverter=TypeConverters.toBoolean,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(probabilityGaussHermite=False)

    def setRawPredictionCol(self, value: str):
        return self._set(rawPredictionCol=value)

    def setProbabilityCol(self, value: str):
        return self._set(probabilityCol=value)

    def setProbabilityGaussHermite(self, value: bool):
        return self._set(probabilityGaussHermite=value)


class GaussianProcessClassifier(GaussianProcessEstimatorBase, _GPCOutputParams):
    def _fit(self, dataset: DataFrame) -> "GaussianProcessClassificationModel":
        points, experts = self._prepare(dataset)
        try:
            self._assert_labels_are_01(points)
            tol = self.getOrDefault(self.tol)

            # Driver-local mode memo (dispatch-count reduction, r14): on the
            # LocalExperts path every objective evaluation already converges
            # the expert's Newton mode at (x, warm-start state) — the accept
            # path's state rewrite and the final latent-mode projection then
            # re-ran the identical solve and threw its epilogue away.  Cache
            # the mode keyed by the EXACT inputs (expert identity, hyper
            # bytes, warm-start bytes): a hit returns the bit-identical f
            # with zero numpy work; a miss (e.g. an accept of a point served
            # from the L-BFGS memo under an older state) falls back to the
            # solve with ``mode_only=True``, which skips only the epilogue
            # quantities nobody reads.  Distributed experts keep the plain
            # closures — a worker-side dict would be re-pickled per job and
            # never hit across jobs.
            from .experts import LocalExperts

            use_mode_cache = isinstance(experts, LocalExperts)
            if use_mode_cache:
                mode_cache: dict = {}

                def _key(y, x, state):
                    return (
                        id(y),
                        x.tobytes(),
                        None if state is None else state.tobytes(),
                    )

                def objective(y, X, kernel, x, state, _tol=tol):
                    nll, ngrad, f, n_newton = gpc_laplace(
                        y, X, kernel, x, _tol, f0=state
                    )
                    mode_cache[_key(y, x, state)] = f
                    return nll, ngrad, np.array([float(n_newton)])

                def state_update(y, X, kernel, x, state, _tol=tol):
                    f = mode_cache.get(_key(y, x, state))
                    if f is not None:
                        return f
                    return gpc_laplace(
                        y, X, kernel, x, _tol, f0=state, mode_only=True
                    )[2]

            else:

                def objective(y, X, kernel, x, state, _tol=tol):
                    # warm-start Newton from this expert's carried mode;
                    # report the iteration count as an aux scalar
                    nll, ngrad, _f, n_newton = gpc_laplace(
                        y, X, kernel, x, _tol, f0=state
                    )
                    return nll, ngrad, np.array([float(n_newton)])

                def state_update(y, X, kernel, x, state, _tol=tol):
                    return gpc_laplace(
                        y, X, kernel, x, _tol, f0=state, mode_only=True
                    )[2]

            x_opt = self._optimize_hypers(
                experts, objective, state_update_fn=state_update, aux_len=1
            )

            def latent_mode(y, X, kernel, state, _x=x_opt, _tol=tol):
                # warm-start the final mode solve at x_opt from the carried
                # expert state (mode is start-point independent — the
                # property tests/test_properties.py pins); consult the mode
                # memo first on the driver-local path
                if use_mode_cache:
                    f = mode_cache.get(_key(y, _x, state))
                    if f is not None:
                        return f
                return gpc_laplace(
                    y, X, kernel, _x, _tol, f0=state, mode_only=True
                )[2]

            raw_predictor = self._projected_process(
                points, experts, x_opt, targets_fn=latent_mode, targets_use_state=True
            )
        finally:
            points.unpersist()
            experts.unpersist()
        model = GaussianProcessClassificationModel(raw_predictor)
        model._resetUid(self.uid)
        self._copyValues(model)
        return model

    @staticmethod
    def _assert_labels_are_01(points: DataFrame) -> None:
        """Distributed AND over label ∈ {0,1}
        (GaussianProcessClassifier.scala:68-72), as one aggregate."""
        ok = points.agg(
            F.min(F.col("label").isin(0.0, 1.0)).alias("ok")
        ).first()["ok"]
        if not ok:
            raise RuntimeError("Only 0 and 1 labels are supported.")


class GaussianProcessClassificationModel(GaussianProcessModelBase, _GPCOutputParams):
    numClasses = 2

    def _transform(self, dataset: DataFrame) -> DataFrame:
        predictor = self.raw_predictor
        use_gh = self.getOrDefault(self.probabilityGaussHermite)

        @F.pandas_udf("struct<raw:array<double>,prob:array<double>,pred:double>")
        def predict_udf(features: pd.Series) -> pd.DataFrame:
            X = np.asarray(features.tolist(), dtype=np.float64)
            f, var = predictor.predict(X)
            if use_gh:
                # E[sigmoid(latent)] under N(f, var) via 100-pt Gauss-Hermite,
                # vectorized over the batch.
                nodes, weights = np.polynomial.hermite.hermgauss(100)
                z = np.sqrt(2.0 * np.maximum(var, 0.0))[:, None] * nodes[None, :] + f[:, None]
                p1 = (_sigmoid(z) @ weights) / np.sqrt(np.pi)
            else:
                p1 = 1.0 - _sigmoid(-f)
            p0 = 1.0 - p1
            return pd.DataFrame(
                {
                    "raw": [list(r) for r in np.column_stack([-f, f])],
                    "prob": [list(r) for r in np.column_stack([p0, p1])],
                    "pred": (p1 > p0).astype(np.float64),
                }
            )

        from pyspark.ml.functions import array_to_vector

        feats = features_as_array(dataset, self.getOrDefault(self.featuresCol))
        out = dataset.withColumn("__gp", predict_udf(feats))
        raw_col = self.getOrDefault(self.rawPredictionCol)
        prob_col = self.getOrDefault(self.probabilityCol)
        pred_col = self.getOrDefault(self.predictionCol)
        # rawPrediction/probability as ML Vectors — the pyspark.ml
        # probabilistic-classifier convention (GaussianProcessClassifier.scala:
        # 141-156 emits DenseVector), required for OneVsRest/evaluator interop.
        out = (
            out.withColumn(raw_col, array_to_vector(F.col("__gp.raw")))
            .withColumn(prob_col, array_to_vector(F.col("__gp.prob")))
            .withColumn(pred_col, F.col("__gp.pred"))
        )
        return out.drop("__gp")


class OneVsRestGP(Estimator):
    """One-vs-rest multiclass composition over the binary GPC.

    The reference composes ``org.apache.spark.ml.classification.OneVsRest``
    (Iris.scala:26-35); Spark's Python OneVsRest requires JVM-backed
    classifiers, so this is the same strategy implemented directly: k binary
    fits (label == c → 1), prediction = argmax over the latent means.
    """

    def __init__(self, classifier: GaussianProcessClassifier, label_col: str = "label",
                 prediction_col: str = "prediction") -> None:
        super().__init__()
        self.classifier = classifier
        self.label_col = label_col
        self.prediction_col = prediction_col

    def _fit(self, dataset: DataFrame) -> "OneVsRestGPModel":
        labels = sorted(
            r[0] for r in dataset.select(self.label_col).distinct().collect()
        )
        models = []
        for c in labels:
            binary = dataset.withColumn(
                self.label_col,
                F.when(F.col(self.label_col) == F.lit(c), 1.0).otherwise(0.0),
            )
            models.append(self.classifier.copy()._fit(binary))
        return OneVsRestGPModel(labels, models, self.prediction_col)

    def copy(self, extra=None):
        return OneVsRestGP(self.classifier.copy(extra), self.label_col, self.prediction_col)


class OneVsRestGPModel(Model):
    def __init__(self, labels, models, prediction_col: str = "prediction") -> None:
        super().__init__()
        self.labels = labels
        self.models = models
        self.prediction_col = prediction_col

    def _transform(self, dataset: DataFrame) -> DataFrame:
        out = dataset
        score_cols = []
        for i, model in enumerate(self.models):
            col = f"__ovr_raw_{i}"
            m = model.copy()
            m._set(rawPredictionCol=col, probabilityCol=f"__ovr_p_{i}", predictionCol=f"__ovr_pred_{i}")
            from pyspark.ml.functions import vector_to_array

            out = m.transform(out).withColumn(col, vector_to_array(F.col(col))[1])
            out = out.drop(f"__ovr_p_{i}", f"__ovr_pred_{i}")
            score_cols.append(col)
        scores = F.array(*[F.col(c) for c in score_cols])
        label_arr = F.array(*[F.lit(float(c)) for c in self.labels])
        out = out.withColumn(
            self.prediction_col,
            F.element_at(label_arr, F.array_position(scores, F.array_max(scores)).cast("int")),
        )
        return out.drop(*score_cols)

    def copy(self, extra=None):
        return OneVsRestGPModel(self.labels, [m.copy(extra) for m in self.models], self.prediction_col)
