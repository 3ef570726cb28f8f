"""Same-machine benchmark for spark_gp_spark: GP fit, GP predict and corpus prep.

    python3 perfbench/run.py --workload gpc_laplace_2k --seed 1 --seconds 15 --trace 0

One closed-loop client runs the workload's operation back to back for
``--seconds`` (each operation starts when the previous one returned) in one
``local[min(nproc, 4)]`` session.  ``--trace 0`` prints the end-to-end
metrics.  ``--trace 1`` first repeats that untraced phase, then restarts the
session with Spark's event log on, wraps each module's public boundaries in
spans, runs the loop again and prints the per-layer metrics.  The last line
of standard output is the result object; the line before it is the full
payload (session, percentiles, sample counts, per-operation detail).  The
traced run also writes its spans to ``perfbench/.work/spans/<run id>.jsonl``.

Run it from the root of a checkout: it imports ``spark_gp_spark`` from there
and exits with code 2, printing no result, when the package is missing.
Everything it writes goes to ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

import eventlog
from spans import ROOT as ROOT_SPAN
from spans import Tracer, install_boundaries, intersect, measure, self_time, subtract
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

CORES = min(os.cpu_count() or 1, 4)
PARTITIONS = 4  # fixed, so outputs do not depend on the core count
# The heap is fixed and touched up front, so the JVM's resident size does
# not swing with when the garbage collector happened to grow it;
# peak_rss_mb counts the heap by what is in use instead (see jvm_heap_mb).
DRIVER_MEMORY = "1g"
OP_TIMEOUT_S = 60.0
# untimed operations before the measured loop: the first pays codegen and
# Python-worker start, the second still ran 10-20 % slower than later ones
WARMUP_OPS = 2

#: (name, unit, better) of the metrics printed with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pipeline_s", "s", "lower"),
    ("fit_s", "s", "lower"),
    ("predict_rows_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

#: span name -> the per-layer metrics read from its spans
LAYER_SPANS = {
    "experts.pack": ["s", "jobs"],
    "experts.reduce": [
        "calls", "s", "s_per_call", "jobs", "tasks", "py_bytes_sent",
        "py_bytes_returned", "py_run_s", "py_start_s", "executor_cpu_s",
    ],
    "experts.state": ["calls", "s", "jobs"],
    "experts.local": ["calls", "s"],
    "lbfgsb": ["s", "self_s"],
    "active_set": ["s", "jobs"],
    "gp_math.ppa_solve": ["s"],
    "gp_math.laplace": ["calls", "s"],
    "fit": ["self_s"],
    "predict": ["s", "jobs", "py_bytes_sent", "py_run_s"],
    "operators.dedup.neardup_components": ["s", "jobs"],
    "operators.prep.contamination_check": ["s"],
    "operators.text.text_stats": ["s"],
    "operators.prep.pack_batches": ["s"],
    "scaling.scale_features": ["s"],
    "sink": ["s"],
}
SPARK_STATS = [
    "jobs", "stages", "tasks", "driver_only_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_fetch_wait_s", "py_start_s",
]
OTHER_LAYER = [
    "lbfgsb.points_requested", "sources.scan_s", "sources.bytes_read",
    "trace.wall_s", "trace.layers_self_s", "trace.unexplained_s",
    "trace.unexplained_job_s", "trace.unexplained_frac", "trace.overhead_frac",
]


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last in ("calls", "jobs", "stages", "tasks", "points_requested"):
        return "count"
    if last.endswith("bytes") or "bytes_" in last:
        return "B"
    if last.endswith("_frac"):
        return "frac"
    return "s"


PER_LAYER = (
    [f"{span}.{m}" for span, ms in LAYER_SPANS.items() for m in ms]
    + [f"spark.{m}" for m in SPARK_STATS]
    + OTHER_LAYER
)


# ------------------------------------------------------------------ helpers


def summarize(values: list[float], better: str = "lower") -> dict:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it on the worse side (None below eleven samples)."""
    vals = sorted(values)
    n = len(vals)
    out = {"median": statistics.median(vals) if vals else None, "n": n, "tail": None}
    if n >= 11:
        k = n - 11
        out["tail"] = {
            "pct": round(100.0 * (k + 1) / n, 1),
            "value": vals[n - 1 - k] if better == "higher" else vals[k],
        }
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every descendant (driver
    JVM, Python workers), read from /proc.  Each sample sums the lifetime
    peak (VmHWM) of every process alive at that moment; the result is the
    largest such sum since ``restart``, so processes that ended before it
    (the launcher JVM, ``git``) do not count."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_by_role: dict[str, int] = {}
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        todo, seen = [os.getpid()], []
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo.extend(children.get(pid, []))
        return seen

    @staticmethod
    def _hwm_kb(pid: int) -> int | None:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return None

    def sample(self) -> None:
        by_role: dict[str, int] = {}
        for pid in self._tree():
            kb = self._hwm_kb(pid)
            if kb is not None:
                role = self._role(pid)
                by_role[role] = by_role.get(role, 0) + kb
        total = sum(by_role.values())
        with self._lock:
            if total >= self.peak_kb:
                self.peak_kb, self.peak_by_role = total, by_role

    @staticmethod
    def _role(pid: int) -> str:
        # not cached: the JVM's pid first runs the spark-class shell script
        if pid == os.getpid():
            return "driver_python"
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            return "other"
        return "jvm" if argv0.endswith(b"java") else "python_workers"

    def restart(self) -> None:
        """Forget the peak so far; later samples start from the processes
        alive now."""
        with self._lock:
            self.peak_kb, self.peak_by_role = 0, {}
        self.sample()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> dict[str, float]:
        """Peak MB per role at the sample with the largest total."""
        self._halt.set()
        self.join(timeout=5)
        self.sample()
        return {role: kb / 1024.0 for role, kb in self.peak_by_role.items()}


def jvm_heap_mb(spark) -> dict[str, float]:
    """The driver JVM's committed heap, and the heap in use after a full
    collection (the live objects: persisted frames, caches), in MB.  The
    heap is committed and touched in full at start (``-Xms`` = ``-Xmx``,
    ``AlwaysPreTouch``), so its resident size never moves; what a change
    can move is how much of it stays in use."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"committed": usage.getCommitted() / 2**20, "live": usage.getUsed() / 2**20}


def make_session(event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(PARTITIONS))
        .config("spark.default.parallelism", str(PARTITIONS))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", str(ROOT))
        .config("spark.local.dir", str(WORK / "local"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={WORK / 'tmp'}",
        )
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
    )
    if event_dir is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: the gateway exits
    when its stdin closes, after the stopped session's shutdown hooks."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Watchdog:
    """Cancels every running Spark job once an operation overruns."""

    def __init__(self, sc, seconds: float) -> None:
        self.fired = False

        def fire() -> None:
            self.fired = True
            sc.cancelAllJobs()

        self._timer = threading.Timer(seconds, fire)

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


def run_op(spark, wl, inputs, tracer) -> dict:
    """One operation under its root span; failures are recorded, not raised."""
    rec: dict = {"errors": []}
    with tracer.span(ROOT_SPAN) as root:
        rec["sid"] = root.sid
        try:
            with Watchdog(spark.sparkContext, OP_TIMEOUT_S) as dog:
                out = wl.run(spark, inputs, tracer)
            rec["errors"] = wl.check(out)
            if dog.fired:
                rec["errors"].append(f"timed out after {OP_TIMEOUT_S:.0f} s")
        except Exception:  # an operation that raises counts as failed
            rec["errors"] = [traceback.format_exc(limit=3)]
            out = {}
    spans = _subtree(tracer.spans, root.sid)
    rec["pipeline_s"] = root.duration
    rec["fit_s"] = sum(s.duration for s in spans if s.name == "fit")
    scoring = [s for s in spans if s.name == wl.scoring_span]
    rec["scoring_s"] = sum(s.duration for s in scoring) if scoring else None
    rec["rows"] = out.get("rows")
    if "test_accuracy" in out:
        rec["test_accuracy"] = out["test_accuracy"]
    for err in rec["errors"]:
        print(f"[perfbench] {wl.name} operation failed: {err}", file=sys.stderr)
    return rec


def _subtree(spans, root_sid: str):
    kids: dict[str | None, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [s for s in spans if s.sid == root_sid]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def loop(spark, wl, inputs, tracer, seconds: float) -> list[dict]:
    """The closed loop: operations back to back until ``seconds`` elapsed."""
    ops: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not ops or time.perf_counter() < t_end:
        ops.append(run_op(spark, wl, inputs, tracer))
    return ops


def peak_memory_mb(rss_mb: dict[str, float], heap_mb: dict[str, float]) -> float:
    """Peak resident memory of the driver Python process, the Python workers
    and the driver JVM, with the JVM's pre-touched heap replaced by its live
    objects at the end of the loop.  Young-generation garbage is left out:
    how much of it piles up before a collection is the collector's choice
    and swung by hundreds of MB between runs of the same code."""
    return sum(rss_mb.values()) - heap_mb["committed"] + heap_mb["live"]


def end_to_end(ops: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
    good = [o for o in ops if not o["errors"]] or ops
    per_op = {
        "pipeline_s": [o["pipeline_s"] for o in good],
        "fit_s": [o["fit_s"] for o in good],
        "predict_rows_per_s": [
            o["rows"] / o["scoring_s"] for o in good if o["rows"] and o["scoring_s"]
        ],
    }
    out = {"setup_s": summarize([setup_s]), "peak_rss_mb": summarize([peak_rss_mb])}
    for name, unit, better in END_TO_END:
        if name in per_op:
            out[name] = summarize(per_op[name], better)
    for name, unit, _ in END_TO_END:
        out[name]["unit"] = unit
    return out


def layer_metrics(tracer, root_sid: str, log) -> dict[str, float]:
    """Per-layer numbers of one traced operation."""
    spans = _subtree(tracer.spans, root_sid)
    root = next(s for s in spans if s.sid == root_sid)
    kids: dict[str, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    off = tracer.epoch_offset
    m: dict[str, float] = {}
    for name, wanted in LAYER_SPANS.items():
        mine = [s for s in spans if s.name == name]
        st = log.stats(s.sid for s in mine)
        total = sum(s.duration for s in mine)
        vals = {
            "calls": len(mine),
            "s": total,
            "self_s": sum(self_time(s, kids.get(s.sid, [])) for s in mine),
            "s_per_call": total / len(mine) if mine else 0.0,
            "jobs": st.jobs,
            "tasks": st.tasks,
            "py_bytes_sent": st.py_bytes_sent,
            "py_bytes_returned": st.py_bytes_returned,
            "py_run_s": st.py_run_s,
            "py_start_s": st.py_start_s,
            "executor_cpu_s": st.executor_cpu_s,
        }
        for k in wanted:
            m[f"{name}.{k}"] = vals[k]
    sids = {s.sid for s in spans}
    st = log.stats(sids)
    window = [(root.start + off, root.end + off)]
    job_iv = [(a, b) for g, a, b in log.jobs if g in sids]
    m.update({
        "spark.jobs": st.jobs,
        "spark.stages": st.stages,
        "spark.tasks": st.tasks,
        "spark.driver_only_s": measure(subtract(window, job_iv)),
        "spark.executor_run_s": st.executor_run_s,
        "spark.executor_cpu_s": st.executor_cpu_s,
        "spark.gc_s": st.gc_s,
        "spark.shuffle_write_bytes": st.shuffle_write_bytes,
        "spark.shuffle_fetch_wait_s": st.shuffle_fetch_wait_s,
        "spark.py_start_s": st.py_start_s,
        "sources.scan_s": st.scan_s,
        "sources.bytes_read": st.scan_bytes_read,
        "lbfgsb.points_requested": tracer.counts.get((root_sid, "lbfgsb.points_requested"), 0),
    })
    # reconcile: the layers' self times plus the root's own self time make up
    # the wall time; the root's self time is what no wrapped layer explains,
    # split into Spark jobs launched outside any layer and driver-only time
    children = kids.get(root.sid, [])
    unexplained = self_time(root, children)
    root_self_iv = subtract(window, [(c.start + off, c.end + off) for c in children])
    root_jobs = [(a, b) for g, a, b in log.jobs if g == root.sid]
    m.update({
        "trace.wall_s": root.duration,
        "trace.layers_self_s": sum(
            self_time(s, kids.get(s.sid, [])) for s in spans if s is not root
        ),
        "trace.unexplained_s": unexplained,
        "trace.unexplained_job_s": measure(intersect(root_self_iv, root_jobs)),
        "trace.unexplained_frac": unexplained / root.duration if root.duration else 0.0,
    })
    return m


def git_rev() -> str | None:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def session_info(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = [
        "spark.master", "spark.sql.shuffle.partitions", "spark.default.parallelism",
        "spark.driver.memory", "spark.ui.enabled", "spark.executorEnv.PYTHONPATH",
    ]
    return {
        "conf": {k: conf.get(k) for k in keys},
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_rev": git_rev(),
        "blas_env": {k: os.environ.get(k) for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")},
    }


# --------------------------------------------------------------------- main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test inputs, not for measurement")
    return p.parse_args(argv)


def import_package() -> bool:
    sys.path.insert(0, str(ROOT))
    try:
        import spark_gp_spark
    except ImportError as exc:
        print(f"[perfbench] cannot import spark_gp_spark from {ROOT}: {exc}", file=sys.stderr)
        return False
    where = Path(spark_gp_spark.__file__).resolve().parent.parent
    if where != ROOT:
        print(f"[perfbench] spark_gp_spark imported from {where}, not {ROOT}", file=sys.stderr)
        return False
    return True


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    for d in ("tmp", "local", "events", "spans"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")  # PySpark's and the workers' temp files
    if not import_package():
        return 2

    wl = WORKLOADS[args.workload](tiny=args.size == "tiny")
    run_id = f"{wl.name}-s{args.seed}-{os.getpid()}"
    rss = RssSampler()
    rss.start()

    # phase 1: untraced — set-up, the warm-up operations, the measured loop
    spark = make_session()
    info = session_info(spark)
    inputs = wl.inputs(spark, args.seed)
    tracer = Tracer(f"{run_id}-e2e")
    restore = install_boundaries(tracer, layers=False)
    try:
        warm = [run_op(spark, wl, inputs, tracer) for _ in range(WARMUP_OPS)]
        setup_s = time.perf_counter() - t_start
        rss.restart()
        ops = loop(spark, wl, inputs, tracer, args.seconds)
        heap_mb = jvm_heap_mb(spark)
    finally:
        restore()
    rss_mb = rss.stop()
    e2e = end_to_end(ops, setup_s, peak_memory_mb(rss_mb, heap_mb))
    attempted = warm + ops
    payload = {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "seed_changes_inputs": not wl.fixed_inputs,
        "size": args.size,
        "seconds": args.seconds,
        "client": "closed loop, 1 client",
        "session": info,
        "end_to_end": e2e,
        "peak_rss_mb_by_role": rss_mb,
        "jvm_heap_mb": heap_mb,
    }
    if wl.fixed_inputs:
        payload["fixture"] = f"perfbench/fixtures/{wl.fixture}/documents.parquet (fixed; --seed does not change it)"
    accuracy = [o["test_accuracy"] for o in ops if "test_accuracy" in o]
    if accuracy:
        payload["test_accuracy"] = summarize(accuracy, better="higher")

    metrics = {n: {"value": e2e[n]["median"], "unit": u} for n, u, _ in END_TO_END}
    if args.trace:
        spark.stop()
        layer, traced_ops = traced_phase(wl, args, run_id)
        attempted += traced_ops
        untraced = e2e["pipeline_s"]["median"]
        traced = statistics.median(o["pipeline_s"] for o in traced_ops)
        layer["trace.overhead_frac"] = {"median": traced / untraced - 1.0, "n": len(traced_ops), "tail": None}
        payload["per_layer"] = layer
        payload["traced_operations"] = [
            {k: v for k, v in o.items() if k not in ("errors", "sid")} for o in traced_ops
        ]
        metrics = {n: {"value": layer[n]["median"], "unit": unit_of(n)} for n in PER_LAYER}
    else:
        spark.stop()

    failed = sum(1 for o in attempted if o["errors"])
    payload["attempted"] = len(attempted)
    payload["failed"] = failed
    payload["failed_frac"] = failed / len(attempted)
    payload["errors"] = [e for o in attempted for e in o["errors"]][:5]
    payload["operations"] = [
        {"warmup": i < WARMUP_OPS, **{k: v for k, v in o.items() if k not in ("errors", "sid")}}
        for i, o in enumerate(warm + ops)
    ]
    print(json.dumps(payload, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    stop_jvm()
    return 0


def traced_phase(wl, args, run_id):
    """A fresh session with the event log on; every layer boundary wrapped.
    The event log is deleted once folded; the spans are kept."""
    event_dir = WORK / "events" / run_id
    event_dir.mkdir(parents=True, exist_ok=True)
    spark = make_session(event_dir)
    try:
        inputs = wl.inputs(spark, args.seed)
        # warm-up as in the untraced phase; its jobs carry no span group, so
        # the fold ignores them
        warm = Tracer(f"{run_id}-warm")
        for _ in range(WARMUP_OPS):
            run_op(spark, wl, inputs, warm)
        tracer = Tracer(f"{run_id}-trace", sc=spark.sparkContext)
        restore = install_boundaries(tracer, layers=True)
        try:
            ops = loop(spark, wl, inputs, tracer, args.seconds)
        finally:
            restore()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    log = eventlog.fold(str(event_dir / app_id))
    shutil.rmtree(event_dir)
    with open(WORK / "spans" / f"{run_id}.jsonl", "w", encoding="utf-8") as fh:
        for s in tracer.spans:
            fh.write(json.dumps({
                "name": s.name, "sid": s.sid, "parent": s.parent, "run": s.run,
                "start": s.start + tracer.epoch_offset, "end": s.end + tracer.epoch_offset,
            }) + "\n")
    per_op = [layer_metrics(tracer, o["sid"], log) for o in ops]
    layer = {
        name: summarize([m[name] for m in per_op])
        for name in PER_LAYER if name != "trace.overhead_frac"
    }
    return layer, ops


if __name__ == "__main__":
    sys.exit(main())
