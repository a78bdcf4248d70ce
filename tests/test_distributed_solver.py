"""Distributed penalized fixed-effect solver (OWLQN / prior / box)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from photon_ml_spark.ml import glm
from photon_ml_spark.ml.distributed_solver import solve_penalized, solve_tron
from photon_ml_spark.ml.local_glm import fit_local_glm
from photon_ml_spark.sources import datasets


@pytest.fixture(scope="module")
def uni(spark, sf_dir):
    """Univariate frame: x = quantity, y = quantity + partkey%7 (small
    residual keeps the quadratic objective well-scaled)."""
    return (
        datasets.load_table(spark, sf_dir, "lineitem")
        .select(
            F.array(F.lit(0).cast("long")).alias("features_indices"),
            F.array(F.col("l_quantity").cast("double")).alias("features_values"),
            (F.col("l_quantity") + F.col("l_partkey") % 7)
            .cast("double").alias("response"),
        )
        .cache()
    )


def _np_data(df):
    rows = df.collect()
    X = np.array([[r.features_values[0]] for r in rows])
    y = np.array([r.response for r in rows])
    return X, y


def _suff(X, y):
    n = len(y)
    sx, sy = X[:, 0].sum(), y.sum()
    sxx, sxy = (X[:, 0] ** 2).sum(), (X[:, 0] * y).sum()
    return n, sx, sy, sxx, sxy


def test_l2_matches_local_solver(uni):
    res = solve_penalized(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=10.0, tol=1e-10,
    )
    X, y = _np_data(uni)
    loc = fit_local_glm(X, y, family="gaussian", l2=10.0, tol=1e-12)
    assert np.allclose(res["coefficients"], loc["coefficients"], atol=1e-7)
    assert res["intercept"] == pytest.approx(loc["intercept"], abs=1e-7)


def test_binomial_l2_matches_local_solver(uni):
    b = uni.withColumn("response", (F.col("response") > 30).cast("double"))
    res = solve_penalized(
        b, dim=1, family="binomial", weight_col=None, offset_col=None,
        reg_param=2.0, tol=1e-9,
    )
    X, y = _np_data(b)
    loc = fit_local_glm(X, y, family="binomial", l2=2.0, tol=1e-12)
    assert np.allclose(res["coefficients"], loc["coefficients"], atol=1e-6)
    assert res["intercept"] == pytest.approx(loc["intercept"], abs=1e-6)


def test_tron_matches_local_solver_gaussian(uni):
    res = solve_tron(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=10.0, tol=1e-10,
    )
    X, y = _np_data(uni)
    loc = fit_local_glm(X, y, family="gaussian", l2=10.0, tol=1e-12)
    assert res["converged"]
    assert np.allclose(res["coefficients"], loc["coefficients"], atol=1e-7)
    assert res["intercept"] == pytest.approx(loc["intercept"], abs=1e-7)


def test_tron_matches_local_solver_binomial_with_prior(uni):
    """A2 Hessian·vector CG path: binomial + Gaussian prior, checked
    against the local Newton solver on the same data."""
    b = uni.withColumn("response", (F.col("response") > 30).cast("double"))
    prior_mean = np.array([0.02, -0.5])
    prior_prec = np.array([50.0, 10.0])
    res = solve_tron(
        b, dim=1, family="binomial", weight_col=None, offset_col=None,
        reg_param=1.0, prior_mean=prior_mean, prior_precision=prior_prec,
        tol=1e-9,
    )
    X, y = _np_data(b)
    loc = fit_local_glm(
        X, y, family="binomial", l2=1.0, prior_mean=prior_mean,
        prior_precision=prior_prec, tol=1e-12,
    )
    assert res["converged"]
    assert np.allclose(res["coefficients"], loc["coefficients"], atol=1e-6)
    assert res["intercept"] == pytest.approx(loc["intercept"], abs=1e-6)
    # quadratic convergence: far fewer outer rounds than first-order
    assert res["n_iter"] <= 15


def test_tron_via_fit_fixed_effect_and_validation(uni):
    model = glm.fit_fixed_effect(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=10.0, solver="tron",
    )
    res = solve_penalized(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=10.0, tol=1e-10,
    )
    assert model.meta["optimizer"] == "tron"
    assert np.allclose(model.coefficients, res["coefficients"], atol=1e-6)
    with pytest.raises(ValueError, match="smooth"):
        glm.fit_fixed_effect(
            uni, dim=1, family="gaussian", solver="tron",
            elastic_net_param=0.5, reg_param=1.0,
        )


def test_lasso_univariate_closed_form(uni):
    lam, alpha = 40000.0, 0.5
    l1, l2 = lam * alpha, lam * (1 - alpha)
    res = solve_penalized(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=lam, elastic_net_param=alpha, tol=1e-10, max_iter=200,
    )
    X, y = _np_data(uni)
    n, sx, sy, sxx, sxy = _suff(X, y)
    sxy_c, sxx_c = sxy - sx * sy / n, sxx - sx * sx / n
    beta = np.sign(sxy_c) * max(abs(sxy_c) - l1, 0.0) / (sxx_c + l2)
    b0 = (sy - beta * sx) / n
    assert res["coefficients"][0] == pytest.approx(beta, abs=1e-6)
    assert res["intercept"] == pytest.approx(b0, abs=1e-5)


def test_l1_kills_coefficients_not_intercept(uni):
    """OWLQN.scala:39: L1 applies to features only — with crushing L1
    the coefficient hits exactly 0 and the intercept is the mean."""
    res = solve_penalized(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=1e12, elastic_net_param=1.0, tol=1e-8,
    )
    X, y = _np_data(uni)
    assert res["coefficients"][0] == 0.0
    assert res["intercept"] == pytest.approx(y.mean(), rel=1e-6)


def test_fixed_effect_prior_closed_form(uni):
    """PriorDistribution.scala:23-120 on the fixed coordinate: posterior
    of a univariate gaussian fit with prior on (coef, intercept)."""
    pc, pi, muc, mui = 1000.0, 10.0, 1.0, 0.0
    res = solve_penalized(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        prior_mean=np.array([muc, mui]), prior_precision=np.array([pc, pi]),
        tol=1e-10, max_iter=200,
    )
    X, y = _np_data(uni)
    n, sx, sy, sxx, sxy = _suff(X, y)
    A = np.array([[sxx + pc, sx], [sx, n + pi]])
    b = np.array([sxy + pc * muc, sy + pi * mui])
    beta, b0 = np.linalg.solve(A, b)
    assert res["coefficients"][0] == pytest.approx(beta, abs=1e-7)
    assert res["intercept"] == pytest.approx(b0, abs=1e-6)


def test_box_constrained_fixed_effect(uni):
    """LBFGSB.scala:39 capability: binding upper bound clips the
    coefficient; the free intercept re-solves given the clipped coef."""
    X, y = _np_data(uni)
    n, sx, sy, sxx, sxy = _suff(X, y)
    beta_unc = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    hi = 0.5 * beta_unc  # guaranteed to bind
    res = solve_penalized(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        lower_bounds=np.array([-1e9]), upper_bounds=np.array([hi]),
        tol=1e-10, max_iter=200,
    )
    assert res["coefficients"][0] == pytest.approx(hi, abs=1e-9)
    assert res["intercept"] == pytest.approx((sy - hi * sx) / n, abs=1e-6)


def test_l1_and_box_mutually_exclusive(uni):
    with pytest.raises(ValueError, match="mutually exclusive"):
        solve_penalized(
            uni, dim=1, weight_col=None, offset_col=None,
            reg_param=1.0, elastic_net_param=0.5,
            lower_bounds=np.array([0.0]),
        )


def test_smoothed_hinge_distributed_matches_local(uni):
    b = uni.withColumn("response", (F.col("response") > 30).cast("double"))
    res = solve_penalized(
        b, dim=1, family="smoothed_hinge", weight_col=None, offset_col=None,
        reg_param=5.0, tol=1e-9, max_iter=200,
    )
    X, y = _np_data(b)
    loc = fit_local_glm(X, y, family="smoothed_hinge", l2=5.0, tol=1e-12)
    assert np.allclose(res["coefficients"], loc["coefficients"], atol=1e-5)
    assert res["intercept"] == pytest.approx(loc["intercept"], abs=1e-5)


def test_fit_fixed_effect_routes_and_validates(uni):
    with pytest.raises(ValueError, match="not supported"):
        glm.fit_fixed_effect(uni, dim=1, family="tweedie")
    m = glm.fit_fixed_effect(
        uni, dim=1, family="gaussian", weight_col=None, offset_col=None,
        reg_param=100.0, elastic_net_param=0.5,
    )
    assert m.meta["optimizer"] == "owlqn"
    assert m.meta["converged"]


def test_offset_plus_l1(uni):
    """The combination GLR can't express: offset-bearing elastic net.
    Against the local solver on the same data."""
    o = uni.withColumn("offset", (F.col("response") / 2).cast("double"))
    res = solve_penalized(
        o, dim=1, family="gaussian", weight_col=None, offset_col="offset",
        reg_param=1000.0, elastic_net_param=1.0, tol=1e-10, max_iter=200,
    )
    X, y = _np_data(o)
    off = y / 2
    # local solver has no L1 — closed form instead (centered, offset folded)
    r = y - off
    n, sx, sr = len(y), X[:, 0].sum(), r.sum()
    sxx, sxr = (X[:, 0] ** 2).sum(), (X[:, 0] * r).sum()
    sxr_c, sxx_c = sxr - sx * sr / n, sxx - sx * sx / n
    beta = np.sign(sxr_c) * max(abs(sxr_c) - 1000.0, 0.0) / sxx_c
    b0 = (sr - beta * sx) / n
    assert res["coefficients"][0] == pytest.approx(beta, abs=1e-6)
    assert res["intercept"] == pytest.approx(b0, abs=1e-5)


def test_x0_warm_start_accelerates_and_matches(uni):
    """M7 warm start through fit_fixed_effect(x0=...): starting from
    the converged model, the refit converges (almost) immediately to
    the same optimum; a FixedEffectGLM is accepted directly and a
    wrong-shaped vector is rejected."""
    cold = glm.fit_fixed_effect(
        uni, dim=1, family="gaussian", reg_param=1.0,
        weight_col=None, offset_col=None, solver="tron",
    )
    warm = glm.fit_fixed_effect(
        uni, dim=1, family="gaussian", reg_param=1.0,
        weight_col=None, offset_col=None, solver="tron", x0=cold,
    )
    assert warm.coefficients[0] == pytest.approx(cold.coefficients[0], rel=1e-6)
    assert warm.intercept == pytest.approx(cold.intercept, rel=1e-6)
    assert warm.meta["iterations"] <= cold.meta["iterations"]
    assert warm.meta["iterations"] <= 2  # already at the optimum

    import numpy as np

    vec = np.append(cold.coefficients, cold.intercept)
    warm2 = glm.fit_fixed_effect(
        uni, dim=1, family="gaussian", reg_param=1.0,
        weight_col=None, offset_col=None, solver="tron", x0=vec,
    )
    assert warm2.coefficients[0] == pytest.approx(cold.coefficients[0], rel=1e-6)

    with pytest.raises(ValueError, match="shape"):
        glm.fit_fixed_effect(
            uni, dim=1, family="gaussian", solver="tron",
            weight_col=None, offset_col=None, x0=np.zeros(5),
        )


def test_glr_lbfgs_routing_boundary(spark, monkeypatch):
    """The wide-fit auto-route (VERDICT r11 Next #8): fit_fixed_effect
    runs IRLS up to exactly GLR_MAX_FEATURES and the
    distributed LBFGS solver one feature past it — pinned at a
    monkeypatched boundary so the test stays cheap — and the two
    engines agree on the same well-conditioned problem."""
    import random

    rng = random.Random(7)
    rows = []
    for _ in range(400):
        x = [rng.uniform(-1, 1) for _ in range(3)]
        y = 1.0 * x[0] + 2.0 * x[1] - 1.0 * x[2] + 0.5
        rows.append(([0, 1, 2], x, y + rng.gauss(0, 0.01)))
    df = spark.createDataFrame(
        rows,
        "features_indices array<long>, features_values array<double>, "
        "response double",
    )
    monkeypatch.setattr(glm, "GLR_MAX_FEATURES", 3)
    at_boundary = glm.fit_fixed_effect(
        df, dim=3, family="gaussian", reg_param=0.0,
        weight_col=None, offset_col=None,
    )
    # 400 rows × 4 cells are under the local bound: driver-side IRLS
    assert at_boundary.meta["route"] == "local_irls"

    monkeypatch.setattr(glm, "GLR_MAX_FEATURES", 2)
    past_boundary = glm.fit_fixed_effect(
        df, dim=3, family="gaussian", reg_param=0.0,
        weight_col=None, offset_col=None,
    )
    assert past_boundary.meta["optimizer"] == "lbfgs"
    assert np.allclose(
        at_boundary.coefficients, past_boundary.coefficients, atol=1e-4
    )
    assert past_boundary.intercept == pytest.approx(
        at_boundary.intercept, abs=1e-4
    )


def _irls_frame(spark, family, cols=(0, 1, 2), n=2000, seed=5):
    """Weighted, offset-bearing frame on scaled, non-centred features;
    column j of the design is feature ``cols[j]``."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 3)) * [1.0, 3.0, 10.0] + [0.5, -2.0, 30.0]
    offset = 0.3 * rng.normal(size=n)
    eta = X @ [0.4, -0.2, 0.05] - 1.2 + offset
    y = {
        "binomial": (rng.uniform(size=n) < 1 / (1 + np.exp(-eta))).astype(float),
        "poisson": rng.poisson(np.exp(0.3 * eta)).astype(float),
        "gaussian": eta + rng.normal(size=n),
    }[family]
    return spark.createDataFrame(pd.DataFrame({
        "features_indices": [list(range(len(cols)))] * n,
        "features_values": list(X[:, list(cols)]),
        "response": y,
        "weight": rng.uniform(0.5, 2.0, size=n),
        "offset": offset,
    }))


def _glr_fit(monkeypatch, df, **kw):
    """The same fit down the JVM GLR route (local bound forced to 0)."""
    with monkeypatch.context() as m:
        m.setattr(glm, "LOCAL_FIT_MAX_CELLS", 0)
        fit = glm.fit_fixed_effect(df, **kw)
    assert fit.meta["route"] == "glr"
    return fit


@pytest.mark.parametrize("family", ["binomial", "gaussian", "poisson"])
@pytest.mark.parametrize("reg_param", [0.0, 0.05])
def test_local_irls_matches_glr(spark, monkeypatch, family, reg_param):
    """The driver-side IRLS computes spark.ml GLR's model: the same
    coefficients to 1e-9 after the same number of iterations."""
    df = _irls_frame(spark, family)
    kw = dict(dim=3, family=family, reg_param=reg_param, tol=1e-8)
    local = glm.fit_fixed_effect(df, **kw)
    ref = _glr_fit(monkeypatch, df, **kw)
    assert local.meta["route"] == "local_irls"
    assert local.meta["iterations"] == ref.meta["iterations"]
    assert np.allclose(local.coefficients, ref.coefficients, rtol=0, atol=1e-9)
    assert local.intercept == pytest.approx(ref.intercept, abs=1e-9)


def test_local_irls_never_set_column_is_zero(spark, monkeypatch):
    """A column no row sets (the intercept slot of the CLI's feature
    dictionaries) gets exactly 0 and leaves the solve: the other
    coefficients are GLR's fit without that column."""
    df = _irls_frame(spark, "binomial", cols=(0, 1))
    local = glm.fit_fixed_effect(df, dim=3, family="binomial", reg_param=0.05)
    ref = _glr_fit(monkeypatch, df, dim=2, family="binomial", reg_param=0.05)
    assert local.meta["route"] == "local_irls"
    assert local.coefficients[2] == 0.0
    assert np.allclose(local.coefficients[:2], ref.coefficients, rtol=0, atol=1e-9)
    assert local.intercept == pytest.approx(ref.intercept, abs=1e-9)


@pytest.mark.parametrize("jitter", [0.0, 1e-6], ids=["exact", "near"])
def test_local_irls_collinear_columns_run_glr(spark, jitter):
    """A copied column fails the local Cholesky; a copy off by 1e-6
    noise factors with a pivot below ``_PIVOT_RTOL``, where the local
    and GLR solutions part by O(1). Either way GLR, which retries a
    singular system with its quasi-Newton solver, fits instead."""
    v = F.col("features_values")
    df = _irls_frame(spark, "binomial", cols=(0, 1, 1)).withColumn(
        "features_values",
        F.array(v[0], v[1], v[2] + jitter * F.randn(seed=1)),
    )
    fit = glm.fit_fixed_effect(df, dim=3, family="binomial")
    assert fit.meta["route"] == "glr"


def test_local_irls_bound(spark, monkeypatch):
    """Up to LOCAL_FIT_MAX_CELLS cells (rows × (dim + 1) + dim²) the
    fit runs on the driver; one cell less and GLR runs."""
    df = _irls_frame(spark, "binomial", n=200)
    monkeypatch.setattr(glm, "LOCAL_FIT_MAX_CELLS", 200 * 4 + 3 * 3)
    at = glm.fit_fixed_effect(df, dim=3, family="binomial")
    monkeypatch.setattr(glm, "LOCAL_FIT_MAX_CELLS", 200 * 4 + 3 * 3 - 1)
    past = glm.fit_fixed_effect(df, dim=3, family="binomial")
    assert (at.meta["route"], past.meta["route"]) == ("local_irls", "glr")
    assert np.allclose(at.coefficients, past.coefficients, rtol=0, atol=1e-9)


def test_local_irls_row_count_skips_collect(spark, monkeypatch, spark_jobs):
    """A caller's row count above the bound sends the fit to GLR with
    the jobs of GLR alone: no collect reads the input first."""
    df = _irls_frame(spark, "binomial", n=200)
    kw = dict(dim=3, family="binomial")
    forced = spark_jobs(lambda: _glr_fit(monkeypatch, df, **kw))
    monkeypatch.setattr(glm, "LOCAL_FIT_MAX_CELLS", 199 * 4 + 3 * 3)
    fits = []
    jobs = spark_jobs(
        lambda: fits.append(glm.fit_fixed_effect(df, num_rows=200, **kw))
    )
    assert fits[0].meta["route"] == "glr"
    assert jobs == forced


@pytest.mark.parametrize(
    "family,column,value",
    [
        ("binomial", "response", 2.0),  # initial mean 1.25
        ("binomial", "weight", -1.0),
        ("poisson", "response", -1.0),
        ("gaussian", "response", None),
    ],
    ids=["binomial_mean", "negative_weight", "negative_poisson", "null_label"],
)
def test_local_irls_rejects_what_glr_rejects(
    spark, monkeypatch, family, column, value
):
    df = _irls_frame(spark, family, n=50)
    bad = df.withColumn(
        column,
        F.when(F.monotonically_increasing_id() == 0, F.lit(value).cast("double"))
        .otherwise(F.col(column)),
    )
    with pytest.raises(ValueError):
        glm.fit_fixed_effect(bad, dim=3, family=family)
    with pytest.raises(Exception):
        _glr_fit(monkeypatch, bad, dim=3, family=family)


def test_local_irls_runs_at_most_two_jobs(spark, spark_jobs):
    df = _irls_frame(spark, "binomial")
    fits = []
    assert spark_jobs(
        lambda: fits.append(glm.fit_fixed_effect(df, dim=3, family="binomial"))
    ) <= 2
    assert fits[0].meta["route"] == "local_irls"
