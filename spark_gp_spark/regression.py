"""Gaussian Process Regression on Spark DataFrames.

Linear-time fitting via the Bayesian Committee Machine (sum of per-expert
exact marginal likelihoods) and O(activeSetSize) prediction via Projected
Process Approximation — the same two approximations as the reference
(regression/GaussianProcessRegression.scala:22-33; Rasmussen & Williams 2005
ch. 8.3.4; Deisenroth & Ng 2015), re-expressed on DataFrames + Arrow batches.

Differences from the reference, by design:
- expert state is never mutated in place (GaussianProcessRegression.scala:50
  relies on mutating cached JVM objects); the optimal hyperparameters are
  re-threaded into each pass instead,
- the variance the reference computes and discards
  (GaussianProcessRegression.scala:80) is exposed via ``varianceCol``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .estimator_base import GaussianProcessEstimatorBase, GaussianProcessModelBase
from .experts import features_as_array
from .gp_math import gpr_likelihood_and_gradient


class _HasVarianceCol(Params):
    varianceCol = Param(
        Params._dummy(),
        "varianceCol",
        "optional output column for the posterior predictive variance ('' disables)",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(varianceCol="")

    def setVarianceCol(self, value: str):
        return self._set(varianceCol=value)


class GaussianProcessRegression(GaussianProcessEstimatorBase, _HasVarianceCol):
    """Estimator: fit kernel hyperparameters by L-BFGS over the summed expert
    likelihood, then build the O(m) projected-process model.

    Parity: train (GaussianProcessRegression.scala:43-53)."""

    def _fit(self, dataset: DataFrame) -> "GaussianProcessRegressionModel":
        points, experts = self._prepare(dataset)
        try:
            x_opt = self._optimize_hypers(experts, gpr_likelihood_and_gradient)
            raw_predictor = self._projected_process(points, experts, x_opt)
        finally:
            points.unpersist()
            experts.unpersist()
        model = GaussianProcessRegressionModel(raw_predictor)
        model._resetUid(self.uid)
        self._copyValues(model)
        return model


class GaussianProcessRegressionModel(GaussianProcessModelBase, _HasVarianceCol):
    def _transform(self, dataset: DataFrame) -> DataFrame:
        predictor = self.raw_predictor
        prediction_col = self.getOrDefault(self.predictionCol)
        variance_col = self.getOrDefault(self.varianceCol)

        @F.pandas_udf("struct<mean:double,variance:double>")
        def predict_udf(features: pd.Series) -> pd.DataFrame:
            import numpy as np

            X = np.asarray(features.tolist(), dtype=np.float64)
            mean, var = predictor.predict(X)
            return pd.DataFrame({"mean": mean, "variance": var})

        feats = features_as_array(dataset, self.getOrDefault(self.featuresCol))
        out = dataset.withColumn("__gp", predict_udf(feats))
        out = out.withColumn(prediction_col, F.col("__gp.mean"))
        if variance_col:
            out = out.withColumn(variance_col, F.col("__gp.variance"))
        return out.drop("__gp")
