"""The benchmark's workloads, driven only through spark_gp_spark's public
API and the query registry.

Each workload makes its inputs once per session (``inputs``), then runs one
operation per call to ``run`` and validates that operation's output with
``check``.  An operation is the unit counted in ``attempted``/``failed``.
"""

from __future__ import annotations

import hashlib
import math
from pathlib import Path

from pyspark.sql import functions as F

from spans import ROOT

FIXTURES = Path(__file__).resolve().parent / "fixtures"


def _bad(col):
    """1 when a double column is null, NaN or infinite, else 0."""
    return (col.isNull() | F.isnan(col) | (F.abs(col) == float("inf"))).cast("long")


class GpcLaplace:
    """GP classification of sign(x1*x2) over [-1,1]^2 with few experts on the
    distributed path: every evaluation runs per-expert Laplace Newton solves
    and every accepted iterate rewrites the carried expert state."""

    name = "gpc_laplace_2k"
    why = "few experts with Laplace Newton solves and a state rewrite per accepted iterate: reads plus writes"
    scoring_span = "predict"
    fixed_inputs = False
    accuracy_floor = 0.95  # the repo's pytest floor for the GPC

    def __init__(self, tiny: bool = False) -> None:
        self.n_train, self.n_test, self.max_iter = (
            (400, 10_000, 2) if tiny else (2_000, 300_000, 3)
        )

    def _frame(self, spark, n: int, seed: int):
        # a stratified uniform sample: one point per cell of a gx x gy grid,
        # the cells visited in a fixed scrambled order so that neighbouring
        # rows are far apart.  Plain uniform draws moved the optimizer's
        # evaluations and Newton iterations by up to 40 % between seeds;
        # this keeps the work per fit nearly the same for most seeds.
        gx = next(d for d in range(int(math.isqrt(n)), 0, -1) if n % d == 0)
        gy = n // gx
        cell = (F.col("id") * 7919) % n  # 7919 is prime, coprime with n
        return (
            spark.range(n)
            .withColumn("x1", ((cell / gy).cast("long") + F.rand(seed)) * (2.0 / gx) - 1)
            .withColumn("x2", ((cell % gy) + F.rand(seed + 1)) * (2.0 / gy) - 1)
            .select(
                F.array("x1", "x2").alias("features"),
                ((F.col("x1") * F.col("x2")) > 0).cast("double").alias("label"),
            )
        )

    def inputs(self, spark, seed: int) -> dict:
        train = self._frame(spark, self.n_train, 1000 * seed + 3).persist()
        test = self._frame(spark, self.n_test, 1000 * seed + 13).persist()
        train.count()
        test.count()
        return {"train": train, "test": test}

    def estimator(self):
        from spark_gp_spark import GaussianProcessClassifier, RBFKernel, Scalar

        return (
            GaussianProcessClassifier()
            .setKernel(lambda: Scalar(1.0) * RBFKernel(1.0, 1e-6, 10))
            .setDatasetSizeForExpert(200)
            .setActiveSetSize(100)
            .setSeed(7)
            .setSigma2(1e-3)
            .setMaxIter(self.max_iter)
            .setMultiStart(1)
            .setDriverLocalRows(0)
        )

    def run(self, spark, inp: dict, tracer) -> dict:
        from pyspark.ml.functions import vector_to_array

        model = self.estimator().fit(inp["train"])
        with tracer.span("predict"):
            out = model.transform(inp["test"])
            p1 = vector_to_array("probability")[1]
            f = vector_to_array("rawPrediction")[1]
            row = out.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((F.col("prediction") == F.col("label")).cast("long")).alias("hits"),
                F.sum(
                    _bad(p1) + _bad(f)
                    + ((p1 < 0) | (p1 > 1) | ((p1 > 0.5) != (F.col("prediction") == 1.0))).cast("long")
                ).alias("bad"),
            ).first()
        rows = int(row["rows"])
        return {
            "rows": rows,
            "test_accuracy": int(row["hits"] or 0) / rows if rows else math.nan,
            "bad": int(row["bad"] or 0),
        }

    def check(self, out: dict) -> list[str]:
        errors = []
        if out["rows"] != self.n_test:
            errors.append(f"predicted {out['rows']} rows, expected {self.n_test}")
        if out["bad"]:
            errors.append(f"{out['bad']} rows with an invalid probability or a prediction that disagrees with it")
        if not out["test_accuracy"] >= self.accuracy_floor:
            errors.append(f"held-out accuracy {out['test_accuracy']:.4f} < {self.accuracy_floor}")
        return errors


class CorpusPrepGpc:
    """Registry entry ``corpus_prep_gpc_filter`` on a fixed document fixture:
    near-dup components, a driver-local GPC quality gate fitted and applied
    inside the pipeline, the 8-gram contamination scan and packing."""

    name = "corpus_prep_gpc"
    why = "operators, a parquet source and a driver-local GPC fit inside the capstone; the distributed experts do no work"
    scoring_span = ROOT  # the capstone scores every document inside the pipeline
    fixed_inputs = True  # a fixed fixture: --seed does not change it
    query = "corpus_prep_gpc_filter"
    PROBE_DOCS = 20  # the capstone holds out doc_id < 20 as its probe set
    # sha256 of the fixture file, and the output fingerprint (rows, sha256 of
    # the sorted rows) that the parent commit produced on it
    FIXTURE_SHA256 = {
        "sf0.01": "3882fed1c345efc5111415b19fba244a14ef57410e9d9b20cae2201317be6d84",
        "sf0.001": "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc",
    }
    FINGERPRINT = {
        "sf0.01": (367, "659a22ec1c77975992854b19328b4856a3a7c5cdf0baf86209293e6d1903ee07"),
        "sf0.001": (426, "dc017c439943e3311ce2c4591d1252d3c18e7b48cf66ded224e1dc0b687df21f"),
    }

    def __init__(self, tiny: bool = False) -> None:
        self.fixture = "sf0.001" if tiny else "sf0.01"
        self.dir = FIXTURES / self.fixture

    def inputs(self, spark, seed: int) -> dict:
        digest = hashlib.sha256((self.dir / "documents.parquet").read_bytes()).hexdigest()
        if digest != self.FIXTURE_SHA256[self.fixture]:
            raise RuntimeError(f"fixture {self.fixture}/documents.parquet has sha256 {digest}")
        # rows the capstone scores: every document but the probe set
        scored = (
            spark.read.parquet(str(self.dir / "documents.parquet"))
            .filter(F.col("doc_id") >= self.PROBE_DOCS).count()
        )
        return {"scored": scored}

    def run(self, spark, inp: dict, tracer) -> dict:
        from spark_gp_spark.queries import QUERIES

        df = QUERIES[self.query](spark, str(self.dir))
        with tracer.span("sink"):
            rows = df.collect()
        # the capstone leaves its persisted intermediates behind; a repeated
        # run would otherwise find them cached
        spark.catalog.clearCache()
        return {"rows": inp["scored"], "output": [tuple(r) for r in rows], "columns": df.columns}

    @staticmethod
    def fingerprint(rows: list[tuple]) -> tuple[int, str]:
        blob = "\n".join(repr(r) for r in sorted(rows, key=repr))
        return len(rows), hashlib.sha256(blob.encode()).hexdigest()

    def check(self, out: dict) -> list[str]:
        errors = []
        rows = out["output"]
        cols = out["columns"]
        ids = [r[cols.index("doc_id")] for r in rows]
        if len(set(ids)) != len(ids):
            errors.append(f"{len(ids) - len(set(ids))} duplicate doc_id values")
        low = [r for r in rows if not (r[cols.index("p_quality")] is not None and r[cols.index("p_quality")] >= 0.5)]
        if low:
            errors.append(f"{len(low)} rows with p_quality < 0.5 or null")
        got = self.fingerprint(rows)
        if got != self.FINGERPRINT[self.fixture]:
            errors.append(f"output fingerprint {got} != pinned {self.FINGERPRINT[self.fixture]}")
        return errors


WORKLOADS = {w.name: w for w in (GpcLaplace, CorpusPrepGpc)}
