"""Unit tests for the round-7 calibration/feature-screening additions:
Platt scaling (classify.platt_scale_train / platt_score_expr) and
weight-of-evidence / information value (classify.woe_iv)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.classify import (
    platt_scale_train,
    platt_score_expr,
    woe_iv,
)


# ---------------------------------------------------------------- platt


def _sep_frame(spark):
    # scores 0..9; labels 1 for score >= 5 — cleanly separable
    rows = [(float(s), 1.0 if s >= 5 else 0.0) for s in range(10)] * 10
    return spark.createDataFrame(rows, "s double, y double")


def test_platt_learns_positive_slope(spark):
    df = _sep_frame(spark)
    a, b = platt_scale_train(df, "s", "y", iterations=20, lr=0.5)
    assert a > 0  # higher score -> higher probability
    # calibrated probability is monotone in the score
    p_lo = 1.0 / (1.0 + math.exp(-(a * 0.0 + b)))
    p_hi = 1.0 / (1.0 + math.exp(-(a * 9.0 + b)))
    assert p_hi > p_lo
    assert 0.0 <= p_lo <= 1.0 and 0.0 <= p_hi <= 1.0


def test_platt_replays_in_driver_arithmetic(spark):
    """The trainer's contract: prior-logit init then per-step round-9
    updates — a pure-Python replay over the collected rows must land on
    the identical parameters."""
    from rdsa_utils_spark.operators.classify import _round_half_up

    df = _sep_frame(spark)
    a, b = platt_scale_train(df, "s", "y", iterations=4, lr=1.0)
    rows = [(r["s"], r["y"]) for r in df.collect()]
    n = len(rows)
    n_pos = sum(y for _, y in rows)
    ra = 0.0
    rb = _round_half_up(math.log(n_pos / (n - n_pos)), 9)
    for _ in range(4):
        ga = sum((1.0 / (1.0 + math.exp(-(ra * s + rb))) - y) * s for s, y in rows)
        gb = sum(1.0 / (1.0 + math.exp(-(ra * s + rb))) - y for s, y in rows)
        ra = _round_half_up(ra - 1.0 * (ga / n), 9)
        rb = _round_half_up(rb - 1.0 * (gb / n), 9)
    assert abs(a - ra) < 1e-12 and abs(b - rb) < 1e-12


def test_round_half_up_matches_sql_round_on_midpoints():
    """2^-10 is a representable 9-dp midpoint: Python round goes to
    even (…562), SQL ROUND away from zero (…563) — the helper must
    follow SQL, symmetrically for negatives."""
    from rdsa_utils_spark.operators.classify import _round_half_up

    assert _round_half_up(0.0009765625, 9) == 0.000976563
    assert _round_half_up(-0.0009765625, 9) == -0.000976563
    assert round(0.0009765625, 9) == 0.000976562  # the divergence


def test_platt_excludes_nulls_and_validates(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (None, 1.0), (0.0, None), (0.0, 0.0)],
        "s double, y double",
    )
    a, b = platt_scale_train(df, "s", "y", iterations=1, lr=1.0)
    assert isinstance(a, float) and isinstance(b, float)
    with pytest.raises(ValueError, match="iterations"):
        platt_scale_train(df, "s", "y", iterations=0)
    with pytest.raises(ValueError, match="lr"):
        platt_scale_train(df, "s", "y", lr=0.0)
    empty = spark.createDataFrame([], "s double, y double")
    with pytest.raises(ValueError, match="empty"):
        platt_scale_train(empty, "s", "y")


def test_platt_single_class_starts_at_zero_bias(spark):
    df = spark.createDataFrame([(1.0, 1.0), (2.0, 1.0)], "s double, y double")
    a, b = platt_scale_train(df, "s", "y", iterations=1, lr=1.0)
    # degenerate all-positive frame: init (0, 0), one finite step
    assert math.isfinite(a) and math.isfinite(b)


def _platt_loss(rows, a, b):
    """Mean log-loss of sigmoid(a*s + b) over (s, y) rows."""
    total = 0.0
    for s, y in rows:
        p = 1.0 / (1.0 + math.exp(-(a * s + b)))
        total -= y * math.log(p) + (1.0 - y) * math.log(1.0 - p)
    return total / len(rows)


def test_platt_spark_loop_matches_driver_path(spark, monkeypatch):
    """The two fits run the same weighted sums over the grouped
    (score, label) counts: a cap of 0 forces every iteration into a
    Spark aggregation and must land on the identical parameters."""
    from rdsa_utils_spark.operators import classify

    df = _sep_frame(spark)
    driver = platt_scale_train(df, "s", "y", iterations=20, lr=0.5)
    monkeypatch.setattr(classify, "_PLATT_DRIVER_GROUPS", 0)
    assert platt_scale_train(df, "s", "y", iterations=20, lr=0.5) == driver


def test_platt_continuous_scores_over_cap_converge(spark, monkeypatch):
    """More distinct scores than the cap take the Spark loop (the one
    path that pins), and gradient descent still converges."""
    from rdsa_utils_spark.operators import classify

    # 400 distinct scores; the positive rate rises with the score
    rows = [(i / 100.0, 1.0 if i % 10 < i // 40 else 0.0) for i in range(400)]
    df = spark.createDataFrame(rows, "s double, y double")
    pins = []
    real = type(df).localCheckpoint
    monkeypatch.setattr(
        type(df), "localCheckpoint",
        lambda self, *a, **k: pins.append(1) or real(self, *a, **k),
    )
    monkeypatch.setattr(classify, "_PLATT_DRIVER_GROUPS", 16)
    a, b = platt_scale_train(df, "s", "y", iterations=40, lr=1.0)
    assert pins == [1]
    n_pos = sum(y for _, y in rows)
    b0 = math.log(n_pos / (len(rows) - n_pos))
    assert a > 0
    assert _platt_loss(rows, a, b) < _platt_loss(rows, 0.0, b0) - 0.05
    # the driver path over the same counts agrees
    monkeypatch.setattr(classify, "_PLATT_DRIVER_GROUPS", 65536)
    da, db = platt_scale_train(df, "s", "y", iterations=40, lr=1.0)
    assert abs(a - da) < 1e-6 and abs(b - db) < 1e-6


def test_platt_driver_path_jobs_do_not_grow_with_iterations(
    spark, monkeypatch,
):
    """Under the cap the fit is one capped collect: the same Spark jobs
    for 1 or 20 iterations, and no pin."""
    df = _sep_frame(spark)
    monkeypatch.setattr(
        type(df), "localCheckpoint",
        lambda self, *a, **k: pytest.fail("driver path pinned a frame"),
    )
    sc = spark.sparkContext
    jobs = {}
    try:
        for iters in (1, 20):
            group = f"platt-jobs-{iters}"
            sc.setJobGroup(group, group)
            platt_scale_train(df, "s", "y", iterations=iters, lr=0.5)
            jobs[iters] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[1] == jobs[20] > 0


def test_platt_score_expr_matches_formula(spark):
    df = spark.createDataFrame([(2.0,), (0.0,)], "s double")
    got = df.select(platt_score_expr("s", 1.5, -1.0).alias("p")).collect()
    want = [round(1.0 / (1.0 + math.exp(-(1.5 * 2.0 - 1.0))), 6),
            round(1.0 / (1.0 + math.exp(-(1.5 * 0.0 - 1.0))), 6)]
    assert [r["p"] for r in got] == want


# ---------------------------------------------------------------- woe_iv


def test_woe_iv_hand_computed(spark):
    # category A: 3 pos, 1 neg; category B: 1 pos, 3 neg
    rows = [("A", 1)] * 3 + [("A", 0)] + [("B", 1)] + [("B", 0)] * 3
    df = spark.createDataFrame(rows, "cat string, y int")
    out = {r["cat"]: r for r in woe_iv(df, "cat", "y").collect()}
    tp, tn, k, lap = 4, 4, 2, 0.5
    for cat, pos, neg in [("A", 3, 1), ("B", 1, 3)]:
        dp = (pos + lap) / (tp + lap * k)
        dn = (neg + lap) / (tn + lap * k)
        assert out[cat]["n_pos"] == pos and out[cat]["n_neg"] == neg
        assert out[cat]["woe"] == pytest.approx(round(math.log(dp / dn), 6))
        assert out[cat]["iv_term"] == pytest.approx(
            round((dp - dn) * math.log(dp / dn), 6),
        )
    # antisymmetric mirror categories -> opposite-sign WOE
    assert out["A"]["woe"] == pytest.approx(-out["B"]["woe"])


def test_woe_iv_null_handling_and_validation(spark):
    rows = [("A", 1), ("A", None), (None, 0), (None, 1)]
    df = spark.createDataFrame(rows, "cat string, y int")
    out = woe_iv(df, "cat", "y").collect()
    by_cat = {r["cat"]: r for r in out}
    # NULL label excluded entirely; NULL category is its own row
    assert by_cat["A"]["n_pos"] == 1 and by_cat["A"]["n_neg"] == 0
    assert by_cat[None]["n_pos"] == 1 and by_cat[None]["n_neg"] == 1
    with pytest.raises(ValueError, match="laplace"):
        woe_iv(df, "cat", "y", laplace=-1.0)


def test_woe_iv_zero_count_cell_stays_finite(spark):
    # category C has zero positives: Laplace smoothing keeps WOE finite
    rows = [("C", 0)] * 5 + [("D", 1)] * 5
    df = spark.createDataFrame(rows, "cat string, y int")
    out = {r["cat"]: r for r in woe_iv(df, "cat", "y").collect()}
    assert math.isfinite(out["C"]["woe"]) and out["C"]["woe"] < 0
    assert math.isfinite(out["D"]["woe"]) and out["D"]["woe"] > 0
