"""Unit tests for numeric utilities (integrator / logdet+inv / L-BFGS-B).

Mirrors IntegratorTest.scala:11-26 with a fixed MC seed (the reference is
seedless and flaky-by-design; we pin the seed per FIXTURES.md F2).
"""

import numpy as np

from spark_gp_spark.util import expected_of_function_of_normal, logdet_and_inv
from spark_gp_spark.util.linalg import solve_posdef


def test_integrator_matches_monte_carlo():
    mean, variance = 0.5, 3.0

    def sigmoid(x):
        return 1.0 / (1.0 + np.exp(-x))

    quad = expected_of_function_of_normal(mean, variance, sigmoid, n=100)

    rng = np.random.default_rng(7)
    samples = sigmoid(rng.normal(mean, np.sqrt(variance), size=100_000))
    mc = samples.mean()
    mc_sd = samples.std() / np.sqrt(len(samples))
    assert abs(mc - quad) < 3 * mc_sd


def test_logdet_and_inv_posdef():
    rng = np.random.default_rng(0)
    A = rng.normal(size=(20, 20))
    K = A @ A.T + 20 * np.eye(20)
    sign, logdet, inv = logdet_and_inv(K)
    assert sign == 1.0
    expected_sign, expected_logdet = np.linalg.slogdet(K)
    assert abs(logdet - expected_logdet) < 1e-8
    assert np.allclose(inv @ K, np.eye(20), atol=1e-8)


def test_logdet_and_inv_general_matrix():
    rng = np.random.default_rng(1)
    A = rng.normal(size=(10, 10))  # not symmetric
    sign, logdet, inv = logdet_and_inv(A, assume_posdef=False)
    expected_sign, expected_logdet = np.linalg.slogdet(A)
    assert sign == expected_sign
    assert abs(logdet - expected_logdet) < 1e-8
    assert np.allclose(inv @ A, np.eye(10), atol=1e-6)


def test_solve_posdef_raises_actionable_error():
    import pytest

    from spark_gp_spark.util.linalg import NotPositiveDefiniteException

    bad = np.array([[1.0, 2.0], [2.0, 1.0]])  # eigenvalues 3, -1
    with pytest.raises(NotPositiveDefiniteException, match="sigma2"):
        solve_posdef(bad, np.ones(2))


def test_lbfgsb_bounded_quadratic():
    from spark_gp_spark.util.lbfgsb import minimize_lbfgsb

    # min (x-3)^2 + (y+2)^2 s.t. 0<=x<=2, 0<=y<=5 → (2, 0)
    def f(v):
        return float((v[0] - 3) ** 2 + (v[1] + 2) ** 2), np.array(
            [2 * (v[0] - 3), 2 * (v[1] + 2)]
        )

    x = minimize_lbfgsb(f, np.array([1.0, 1.0]), np.array([0.0, 0.0]), np.array([2.0, 5.0]))
    assert np.allclose(x, [2.0, 0.0], atol=1e-5)


def test_lbfgsb_rosenbrock():
    from spark_gp_spark.util.lbfgsb import minimize_lbfgsb

    def rosen(v):
        x, y = v
        f = (1 - x) ** 2 + 100 * (y - x * x) ** 2
        g = np.array([-2 * (1 - x) - 400 * x * (y - x * x), 200 * (y - x * x)])
        return float(f), g

    x = minimize_lbfgsb(
        rosen,
        np.array([-1.2, 1.0]),
        np.array([-2.0, -2.0]),
        np.array([2.0, 2.0]),
        max_iter=500,
        tol=1e-10,
    )
    assert np.allclose(x, [1.0, 1.0], atol=1e-4)


def test_bench_compact_line_ladder():
    """The driver tails 2000 chars of bench stdout: the compact line must
    always fit the budget, preferring coarser rounding, then shedding the
    cheapest per-query entries (with an omitted count) before going
    mapless — and the real r8-sized suite must keep its full map."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import compact_stdout_line

    def mk(n):
        t = {f"query_name_number_{i:03d}": 0.01 * i + 0.37 for i in range(n)}
        return {"metric": "m", "value": 1.0, "unit": "sec",
                "queries": {k: round(v, 2) for k, v in t.items()},
                "sf": 0.1, "value_normalized": 1.0,
                "normalization": {"jvm_factor": 1.5219, "pandas_factor": 0.9632},
                "full": "BENCH_local_r8.json"}, t

    # the REAL current suite (names + magnitudes from the latest committed
    # payload): as of r10's 84-entry list the full map no longer fits the
    # driver's 2000-char stdout tail, and shedding the cheapest entries is
    # the designed behavior — the official full per-query map still lands
    # in the committed BENCH_local file (the driver's own run overwrites
    # it).  Invariants: the line fits and parses, the expensive entries
    # all survive, only a cheap tail is shed, and the omitted count is
    # stated.
    import glob
    import re

    latest = max(
        (
            p
            for p in glob.glob("/root/repo/BENCH_local_r*.json")
            if re.search(r"_r(\d+)\.json$", p)  # skip e.g. _r13_baseline.json
        ),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )
    real = json.load(open(latest))["queries"]
    compact = mk(0)[0]
    compact["queries"] = {k: round(v, 2) for k, v in real.items()}
    line = compact_stdout_line(compact, real)
    parsed = json.loads(line)
    assert len(line) <= 1985
    kept = parsed["queries"]
    n_omitted = parsed.get("queries_omitted", 0)
    assert len(kept) + n_omitted == len(real)
    assert len(kept) >= min(len(real), 50)  # never sheds into the meat
    top10 = sorted(real, key=real.get, reverse=True)[:10]
    assert all(k in kept for k in top10)
    if n_omitted:  # shed entries are cheaper than kept ones, up to the
        # rounding grain the ladder sorts at (ties can cross within 0.1)
        assert max(v for k, v in real.items() if k not in kept) <= 0.1 + min(
            real[k] for k in kept
        )

    # a much larger suite sheds cheapest-first but keeps the expensive tail
    compact, t = mk(300)
    line = compact_stdout_line(compact, t)
    parsed = json.loads(line)
    assert len(line) <= 1985
    kept = parsed["queries"]
    assert kept and parsed["queries_omitted"] == 300 - len(kept)
    assert max(t, key=t.get) in kept  # most expensive survives
    assert min(t, key=t.get) not in kept  # cheapest shed first

    # pathological budget: sheds down to a handful of expensive entries
    # (or mapless at the limit) but always fits and parses
    compact, t = mk(73)
    line = compact_stdout_line(compact, t, budget=300)
    parsed = json.loads(line)
    assert len(line) <= 300
    assert len(parsed.get("queries", {})) < 10
    if parsed.get("queries"):
        assert max(t, key=t.get) in parsed["queries"]


def test_staged_inventory_is_consistent():
    """STAGED_QUERIES is the single source of truth for what the next
    round registers: disjoint from the live registry, every entry a
    (callable, NON-None oracle SQL) pair (ADVICE r10).  Also pins the
    r13 rotation outcome: the twenty-three r12-staged entries are
    registered at the top of the window with oracles, the full r9 class
    rotated through, and the 8 sweep-value-changed entries re-windowed."""
    import sys

    sys.path.insert(0, "/root/repo")
    from spark_gp_spark.queries import ORACLE_SQL, QUERIES, STAGED_QUERIES

    assert not set(STAGED_QUERIES) & set(QUERIES)
    for name, (fn, sql) in STAGED_QUERIES.items():
        assert callable(fn), name
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
    window = list(QUERIES)[:50]
    # r13 rotation outcome: the 23 r12-staged entries lead the window,
    # each oracle-backed
    registered_r13 = [
        "asof_nearest_view", "paragraph_dedup_stats", "source_ks_drift",
        "pii_scan_report", "stratified_split", "embedding_norm_outliers",
        "leakage_safe_split", "event_anomaly_screen", "rule_cofail_matrix",
        "referential_integrity_report", "streaming_quality_gate",
        "heavy_hitter_grams", "event_volume_trend",
        "user_concentration_report", "order_reconciliation_report",
        "benford_screen", "lang_mislabel_report", "dedup_survivor_bias",
        "storage_layout_report", "split_balance_report",
        "csv_ingest_quality", "jsonl_ingest_quality",
        "multimodal_resize_audit",
    ]
    assert window[:23] == registered_r13
    for name in registered_r13:
        assert isinstance(ORACLE_SQL.get(name), str), name
    # the full r9 class rotated in — nothing in the registry is older
    # than r10-green after r13
    r9_class = [
        "event_pair_interval_join", "user_status_history",
        "event_rolling_24h", "session_stats", "event_window_agg",
        "event_props_stats", "event_value_percentiles",
        "event_distinct_users", "doc_repetition", "dup_ngram_fraction",
        "embedding_label_centroids", "embedding_quantize",
        "top_docs_per_lang",
    ]
    for name in r9_class:
        assert name in window, name
    # the 8 entries whose outputs MOVED in the r13 fold-order sweep
    # (arbitrary-double means quantized to exact integer units) carry a
    # fresh official row
    value_changed = [
        "doc_logprob", "perplexity_buckets", "embedding_dim_stats",
        "embedding_whiten", "embedding_drift", "dsir_select",
        "streaming_embedding_drift", "embedding_label_centroids",
    ]
    for name in value_changed:
        assert name in window, name
    # earlier rounds' registrations remain REGISTERED (rotated below the
    # divider on age, never removed)
    for name in ("ann_recall_report_auto", "hard_negatives_planted",
                 "vocab_coverage_report", "exact_dedup_planted",
                 "redact_pii_planted", "ann_recall_report",
                 "streaming_neardup_join_bounded", "lsh_topk_multiprobe",
                 "event_zorder_key", "orders_dq_report"):
        assert name in QUERIES, name
    # vacuous originals replaced by planted twins stay gone
    for gone in ("exact_dedup", "dedup_keep_first", "redact_pii",
                 "hard_negatives"):
        assert gone not in QUERIES and gone not in ORACLE_SQL
