"""In-memory spans recorded around calls into spark_gp_spark's modules.

A span is (name, start, end, parent, run id).  When the tracer is given a
SparkContext it also tags every Spark job launched inside a span with that
span's id as the job group, so the event log can be folded back onto spans
(see ``eventlog.py``).  Nothing here is imported by the package itself: the
layer boundaries are wrapped from outside by ``install_boundaries`` and
restored by the function it returns.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = "op"  # the span around one benchmark operation


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    run: str
    start: float  # perf_counter seconds
    end: float = float("nan")

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``sc`` set, also sets the Spark job group."""

    def __init__(self, run: str, sc=None) -> None:
        self.run = run
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, str], float] = {}  # (root sid, name) -> n
        self._stack: list[Span] = []
        # perf_counter + offset = epoch seconds, to line spans up with the
        # millisecond epoch timestamps of Spark's event log
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` for driver-only code that launches no Spark job:
        the job group is left alone, which saves two JVM calls per span."""
        # a boundary re-entered from inside itself (sum_over_experts calling
        # sum_over_experts_stateful) stays one span
        if self._stack and self._stack[-1].name == name:
            yield self._stack[-1]
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=f"{self.run}/{len(self.spans)}",
            name=name,
            parent=parent.sid if parent else None,
            run=self.run,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if jobs:
            self._set_group(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._set_group(parent.sid if parent else None)

    def count(self, name: str, n: float) -> None:
        """Add ``n`` to counter ``name`` of the current operation."""
        root = self._stack[0].sid if self._stack else ""
        self.counts[(root, name)] = self.counts.get((root, name), 0) + n

    def wrap(self, fn, name: str, jobs: bool = True):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name, jobs):
                return fn(*args, **kwargs)

        return wrapped

    def _set_group(self, sid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", sid)
            self.sc.setLocalProperty("spark.job.description", sid)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.duration - measure(covered)


def union(intervals) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def measure(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def intersect(xs, ys) -> list[tuple[float, float]]:
    out = []
    for a, b in union(xs):
        for c, d in union(ys):
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                out.append((lo, hi))
    return out


def subtract(xs, ys) -> list[tuple[float, float]]:
    out = []
    ys = union(ys)
    for a, b in union(xs):
        cur = a
        for c, d in ys:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


# ---------------------------------------------------------------- boundaries

# (module path, attribute owner, attribute, span name).  Owner "" means the
# module itself.  Each entry is a public function or method the package's
# own code calls through that attribute, so replacing it reaches every call.
LAYER_BOUNDARIES = [
    ("spark_gp_spark.estimator_base", "", "build_experts", "experts.pack"),
    ("spark_gp_spark.experts", "DistributedExperts", "sum_over_experts", "experts.reduce"),
    ("spark_gp_spark.experts", "DistributedExperts", "sum_over_experts_stateful", "experts.reduce"),
    ("spark_gp_spark.experts", "DistributedExperts", "max_over_experts", "experts.reduce"),
    ("spark_gp_spark.experts", "DistributedExperts", "topk_over_experts", "experts.reduce"),
    ("spark_gp_spark.experts", "DistributedExperts", "update_states", "experts.state"),
    ("spark_gp_spark.experts", "DistributedExperts", "eval_and_update_states", "experts.state"),
    ("spark_gp_spark.estimator_base", "", "ppa_solve", "gp_math.ppa_solve"),
    ("spark_gp_spark.regression", "GaussianProcessRegressionModel", "transform", "predict"),
    ("spark_gp_spark.classification", "GaussianProcessClassificationModel", "transform", "predict"),
    ("spark_gp_spark.operators.dedup", "", "neardup_components", "operators.dedup.neardup_components"),
    ("spark_gp_spark.operators.prep", "", "contamination_check", "operators.prep.contamination_check"),
    ("spark_gp_spark.operators.text", "", "text_stats", "operators.text.text_stats"),
    ("spark_gp_spark.operators.prep", "", "pack_batches", "operators.prep.pack_batches"),
    ("spark_gp_spark.scaling", "", "scale_features", "scaling.scale_features"),
]
FIT_BOUNDARIES = [
    ("spark_gp_spark.regression", "GaussianProcessRegression", "fit", "fit"),
    ("spark_gp_spark.classification", "GaussianProcessClassifier", "fit", "fit"),
]
LOCAL_REDUCTIONS = [
    "sum_over_experts", "sum_over_experts_stateful", "update_states",
    "max_over_experts", "topk_over_experts",
]


def install_boundaries(tracer: Tracer, layers: bool):
    """Wrap the fit boundary (always: ``fit_s`` is read from its span) and,
    with ``layers``, every layer boundary.  Returns a function that puts
    the originals back."""
    import importlib

    saved: list[tuple[object, str, bool, object]] = []

    def replace(owner, attr, new) -> None:
        saved.append((owner, attr, attr in vars(owner), getattr(owner, attr)))
        setattr(owner, attr, new)

    def resolve(module, owner):
        mod = importlib.import_module(module)
        return getattr(mod, owner) if owner else mod

    for module, owner, attr, name in FIT_BOUNDARIES + (LAYER_BOUNDARIES if layers else []):
        obj = resolve(module, owner)
        replace(obj, attr, tracer.wrap(getattr(obj, attr), name))

    if layers:
        eb = importlib.import_module("spark_gp_spark.estimator_base")
        replace(eb, "minimize_lbfgsb", _lbfgsb_boundary(tracer, eb.minimize_lbfgsb))
        replace(eb, "resolve_provider", _provider_boundary(tracer, eb.resolve_provider))
        local = resolve("spark_gp_spark.experts", "LocalExperts")
        cls_mod = importlib.import_module("spark_gp_spark.classification")
        for attr in LOCAL_REDUCTIONS:
            replace(local, attr, _local_boundary(tracer, getattr(local, attr), cls_mod))

    def restore() -> None:
        for owner, attr, own, original in reversed(saved):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    return restore


def _lbfgsb_boundary(tracer: Tracer, minimize):
    """Span the optimizer and count the points it asks the objective for."""

    @functools.wraps(minimize)
    def wrapped(fun, x0, *args, fun_batch=None, **kwargs):
        def counted(x):
            tracer.count("lbfgsb.points_requested", 1)
            return fun(x)

        def counted_batch(xs):
            xs = list(xs)
            tracer.count("lbfgsb.points_requested", len(xs))
            return fun_batch(xs)

        with tracer.span("lbfgsb"):
            return minimize(
                counted, x0, *args,
                fun_batch=counted_batch if fun_batch is not None else None,
                **kwargs,
            )

    return wrapped


def _provider_boundary(tracer: Tracer, resolve_provider):
    @functools.wraps(resolve_provider)
    def wrapped(spec):
        return tracer.wrap(resolve_provider(spec), "active_set")

    return wrapped


def _local_boundary(tracer: Tracer, method, cls_mod):
    """Driver-local reductions.  While one runs, the classifier's Laplace
    solve is spanned too; it is swapped back before any distributed job
    could pickle the objective and ship the wrapper to a worker."""

    @functools.wraps(method)
    def wrapped(*args, **kwargs):
        laplace = cls_mod.gpc_laplace
        cls_mod.gpc_laplace = tracer.wrap(laplace, "gp_math.laplace", jobs=False)
        try:
            with tracer.span("experts.local"):
                return method(*args, **kwargs)
        finally:
            cls_mod.gpc_laplace = laplace

    return wrapped
