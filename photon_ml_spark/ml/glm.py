"""Fixed-effect GLM solve (SURVEY §2.10 M1/M4/M6) on spark.ml.

The reference hand-rolls distributed LBFGS/OWLQN/TRON over
treeAggregate gradient rounds (photon-api/.../optimization/
DistributedOptimizationProblem.scala:112-157, photon-lib/.../
optimization/Optimizer.scala:162-244). Spark-first, the same
capability — weighted, offset-bearing GLM with L2 — is
``GeneralizedLinearRegression`` (IRLS over WeightedLeastSquares
treeAggregates). The optimizer menu (LBFGS vs TRON etc.) is an
implementation detail, not a capability; families and offset/weight
semantics are the contract.

``fit_fixed_effect`` has three routes:

- **local IRLS** — a pure-L2 binomial/gaussian/poisson fit of at most
  ``LOCAL_FIT_MAX_CELLS`` cells (rows × (dim + 1) + dim²) is fetched
  with one bounded Arrow collect and solved on the driver by spark.ml
  GLR's own IRLS arithmetic in numpy (``_irls``): the model GLR
  computes, without the densified cache and one treeAggregate job per
  IRLS step;
- **GLR** — the same fits above that bound (or where the local
  Cholesky fails) run ``GeneralizedLinearRegression`` JVM-side; a
  caller that passes the row count (``num_rows``, as coordinate descent
  does) skips the bounded collect when the count is above the bound;
- **custom solvers** — L1/elastic net, priors, box constraints, the
  smoothed hinge, TRON and fits wider than ``GLR_MAX_FEATURES`` run the
  distributed solvers of ml/distributed_solver.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from photon_ml_spark.materialize import persist, release

_GLR_FAMILY = {"binomial": "binomial", "logistic": "binomial",
               "gaussian": "gaussian", "linear": "gaussian",
               "poisson": "poisson"}


def densify(
    df: DataFrame,
    indices_col: str,
    values_col: str,
    dim: int,
    out_col: str = "features_vec",
) -> DataFrame:
    """(indices, values) sparse pairs → ml.linalg dense vector column.

    JVM-only path: map_from_arrays + sequence-transform + array_to_vector
    (no Python UDF). Null feature arrays become all-zero vectors.
    GLR materializes dense coefficient vectors anyway, so dense input
    costs nothing extra at fit time; at scoring time we keep the sparse
    pairs (ml/scoring.py) and never densify. The column carries its
    size as ML attribute metadata, so spark.ml reads the feature count
    from the schema instead of running a ``head()`` job for it.
    """
    m = F.map_from_arrays(
        F.coalesce(F.col(indices_col), F.array()),
        F.coalesce(F.col(values_col), F.array()),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(m, i.cast("long")), F.lit(0.0)),
    )
    return df.withColumn(
        out_col,
        array_to_vector(dense).alias(
            out_col, metadata={"ml_attr": {"num_attrs": dim}}
        ),
    )


@dataclass
class FixedEffectGLM:
    """A single fixed-effect GLM (FixedEffectModel.scala:33): dense
    coefficients + intercept, broadcast to executors at score time."""

    family: str
    coefficients: np.ndarray
    intercept: float
    dim: int
    reg_param: float = 0.0
    meta: dict = field(default_factory=dict)

    def as_table(self, spark: SparkSession) -> DataFrame:
        """Model as DataFrame(feature_index long, coefficient double) —
        the scalable representation (join-able, never driver-bound).
        Built from a pandas frame so it crosses to the JVM as Arrow: a
        list of tuples would start Python workers to unpickle it."""
        import pandas as pd

        coef = np.asarray(self.coefficients, dtype=np.float64)
        pdf = pd.DataFrame(
            {"feature_index": np.arange(len(coef), dtype=np.int64), "coefficient": coef}
        )
        return spark.createDataFrame(pdf, "feature_index long, coefficient double")


#: spark.ml GeneralizedLinearRegression raises past this feature
#: count (IRLS materializes dim x dim normal equations)
GLR_MAX_FEATURES = 4096

#: cells of the largest fit ``fit_fixed_effect`` solves on the driver,
#: counted as rows × (dim + 1) + dim². The collected Arrow rows (about
#: twice the dense design for dense rows) are dropped once the design
#: is built; the IRLS then holds the design, its weighted copy and up
#: to four dim × dim arrays: at most 4 · 2^22 doubles (128 MB).
#: Measured on dense binomial fits at the bound (dim 16 and 1500): at
#: most 67 MB of numpy arrays beside 68 MB of Arrow rows while the
#: design is built, at most 81 MB in the IRLS.
LOCAL_FIT_MAX_CELLS = 1 << 22


def fit_fixed_effect(
    df: DataFrame,
    dim: int,
    family: str = "binomial",
    indices_col: str = "features_indices",
    values_col: str = "features_values",
    label_col: str = "response",
    weight_col: str | None = "weight",
    offset_col: str | None = "offset",
    reg_param: float = 0.0,
    elastic_net_param: float = 0.0,
    prior_mean=None,
    prior_precision=None,
    lower_bounds=None,
    upper_bounds=None,
    max_iter: int = 25,
    tol: float = 1e-6,
    solver: str = "auto",
    x0=None,
    num_rows: int | None = None,
) -> FixedEffectGLM:
    """Fit one fixed-effect GLM (M1) with offset (M6), weight, L2 (M4).

    Pure-L2 fits on a GLR family (binomial, gaussian, poisson) compute
    spark.ml GLR's IRLS model. Up to ``LOCAL_FIT_MAX_CELLS`` cells
    (rows × (dim + 1) + dim²) one bounded Arrow collect fetches the
    design and the IRLS runs on the driver (``meta["route"] ==
    "local_irls"``); above the bound, or where the local Cholesky finds
    collinear columns, GLR runs JVM-side (``"glr"``). ``num_rows`` is
    the row count of ``df`` where the caller knows it: a count above
    the bound goes straight to GLR, without a collect that would read
    the input once more only to find it too large. Inputs GLR rejects
    (a NULL, NaN or infinite label or offset, a negative weight, a
    binomial label whose initial mean leaves (0, 1), a negative
    poisson label) raise ``ValueError`` on the local route. Anything GLR can't express
    — L1/elastic net (``elastic_net_param`` > 0, OWLQN semantics: L1
    never touches the intercept), a Gaussian prior on the fixed
    coordinate (``prior_mean``/``prior_precision``, length dim+1, M9),
    box constraints (``lower_bounds``/``upper_bounds``, LBFGSB), or the
    smoothed-hinge family — routes to the distributed custom solver
    (ml/distributed_solver.py), which handles offsets in every mode.

    ``solver='tron'`` forces the trust-region truncated-Newton path
    (A2: distributed Hessian·vector CG, TRON.scala) — smooth
    objectives only (no L1, no bounds); ``'auto'`` picks as above.
    Fits wider than GLR's 4096-feature IRLS ceiling also route to the
    custom solver automatically (O(dim) LBFGS iterations instead of
    O(dim²) normal equations).
    """
    from pyspark.ml.regression import GeneralizedLinearRegression

    from photon_ml_spark.ml.distributed_solver import (
        SUPPORTED_FAMILIES,
        solve_penalized,
        solve_tron,
    )

    if family not in SUPPORTED_FAMILIES:
        raise ValueError(
            f"family {family!r} not supported for fixed-effect training; "
            f"choose one of {SUPPORTED_FAMILIES}"
        )
    # M7 warm start (ModelTraining.scala:178-224 optimizationProblem.
    # run(trainingData, previousModel)): accept a previous model (or a
    # raw beta vector, intercept LAST) as the optimizer start point.
    # Convergence accelerator only — the solution is unchanged at
    # convergence. The IRLS routes below start from GLR's own initial
    # fit and ignore it (IRLS converges in few iterations regardless).
    if isinstance(x0, FixedEffectGLM):
        prev = np.asarray(x0.coefficients, dtype=np.float64)
        if prev.shape != (dim,):
            # a dim mismatch means the feature dictionary drifted
            # between the warm-start model and this problem — slicing
            # or padding would silently misalign coefficient mass with
            # the wrong features, so fail loudly (matches the raw-beta
            # shape check below)
            raise ValueError(
                f"warm-start model has {prev.shape[0]} coefficients but "
                f"this problem has dim={dim}; re-index the warm-start "
                f"model onto the current feature dictionary first"
            )
        x0 = np.append(prev, float(x0.intercept))
    if x0 is not None:
        x0 = np.asarray(x0, dtype=np.float64)
        if x0.shape != (dim + 1,):
            raise ValueError(
                f"x0 must have shape ({dim + 1},) [coefficients + "
                f"intercept], got {x0.shape}"
            )
    if solver == "tron":
        if elastic_net_param > 0 or lower_bounds is not None or upper_bounds is not None:
            raise ValueError(
                "solver='tron' handles smooth objectives only; use the "
                "default solver for L1/elastic net or box constraints"
            )
        res = solve_tron(
            df, dim, family=family,
            indices_col=indices_col, values_col=values_col,
            label_col=label_col, weight_col=weight_col,
            offset_col=offset_col, reg_param=reg_param,
            prior_mean=prior_mean, prior_precision=prior_precision,
            max_iter=max_iter, tol=min(tol, 1e-7), x0=x0,
        )
        return FixedEffectGLM(
            family=family,
            coefficients=np.asarray(res["coefficients"], dtype=np.float64),
            intercept=res["intercept"],
            dim=dim,
            reg_param=reg_param,
            meta={
                "iterations": res["n_iter"],
                "converged": res["converged"],
                "objective": res["objective"],
                "optimizer": "tron",
            },
        )
    needs_custom = (
        elastic_net_param > 0
        or prior_precision is not None
        or lower_bounds is not None
        or upper_bounds is not None
        or family == "smoothed_hinge"
        # spark.ml GLR solves IRLS normal equations and hard-caps at
        # 4096 features (SparkException beyond); wide models — e.g.
        # hashing-trick spaces — go through the distributed LBFGS
        # solver, whose per-iteration cost is O(dim) not O(dim²)
        or dim > GLR_MAX_FEATURES
    )
    if needs_custom:
        res = solve_penalized(
            df, dim, family=family,
            indices_col=indices_col, values_col=values_col,
            label_col=label_col, weight_col=weight_col,
            offset_col=offset_col,
            reg_param=reg_param, elastic_net_param=elastic_net_param,
            prior_mean=prior_mean, prior_precision=prior_precision,
            lower_bounds=lower_bounds, upper_bounds=upper_bounds,
            max_iter=max(max_iter, 100), tol=min(tol, 1e-7), x0=x0,
        )
        return FixedEffectGLM(
            family=family,
            coefficients=np.asarray(res["coefficients"], dtype=np.float64),
            intercept=res["intercept"],
            dim=dim,
            reg_param=reg_param,
            meta={
                "iterations": res["n_iter"],
                "converged": res["converged"],
                "objective": res["objective"],
                "optimizer": "owlqn" if elastic_net_param > 0 else (
                    "lbfgsb" if (lower_bounds is not None or upper_bounds is not None)
                    else "lbfgs"
                ),
            },
        )

    local = _fit_local(
        df, dim, family, indices_col, values_col, label_col, weight_col,
        offset_col, reg_param, max_iter, tol, num_rows,
    )
    if local is not None:
        coefficients, intercept, iterations = local
        return FixedEffectGLM(
            family=family,
            coefficients=coefficients,
            intercept=intercept,
            dim=dim,
            reg_param=reg_param,
            meta={"iterations": iterations, "route": "local_irls"},
        )

    # project to the fit's columns and cache: IRLS re-reads the input
    # every iteration, and re-running the densify transform (and
    # everything upstream) per iteration dominates fit time otherwise
    # (deserialized default on purpose — iterative reads, narrow rows;
    # the pipeline-side corpus caches use serialized storage instead)
    fit_cols = [label_col] + [c for c in (weight_col, offset_col) if c]
    vec_df = persist(
        densify(df, indices_col, values_col, dim).select(
            *fit_cols, "features_vec"
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    glr = GeneralizedLinearRegression(
        family=_GLR_FAMILY[family],
        featuresCol="features_vec",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
        tol=tol,
        fitIntercept=True,
    )
    if weight_col:
        glr.setWeightCol(weight_col)
    if offset_col:
        glr.setOffsetCol(offset_col)
    model = glr.fit(vec_df)
    release(vec_df)
    return FixedEffectGLM(
        family=family,
        coefficients=np.asarray(model.coefficients.toArray(), dtype=np.float64),
        intercept=float(model.intercept),
        dim=dim,
        reg_param=reg_param,
        # stored by training: reading it runs no job
        meta={"iterations": model.summary.numIterations, "route": "glr"},
    )


#: GLR's clamp of the fitted mean (Binomial/Poisson ``project``)
_EPS = 1e-16

#: a Cholesky pivot below this share of its diagonal entry marks
#: collinear columns; the fit then runs GLR, which retries such a
#: system with its quasi-Newton solver
_PIVOT_RTOL = 1e-10


def _fit_local(
    df, dim, family, indices_col, values_col, label_col, weight_col,
    offset_col, reg_param, max_iter, tol, num_rows,
):
    """(coefficients, intercept, iterations) of GLR's IRLS on the
    driver, or None: the fit is above ``LOCAL_FIT_MAX_CELLS``, or a
    WLS solve has no usable Cholesky solution."""
    cap = (LOCAL_FIT_MAX_CELLS - dim * dim) // (dim + 1)
    if cap < 1 or (num_rows is not None and num_rows > cap):
        return None
    t = df.select(
        F.col(indices_col).alias("i"),
        F.col(values_col).alias("v"),
        F.col(label_col).cast("double").alias("y"),
        (F.col(weight_col).cast("double") if weight_col else F.lit(1.0)).alias("w"),
        (F.col(offset_col).cast("double") if offset_col else F.lit(0.0)).alias("o"),
    ).limit(cap + 1).toArrow()
    if t.num_rows > cap:
        return None
    X, y, w, o = _design(t, dim)
    del t
    return _irls(X, y, w, o, _GLR_FAMILY[family], reg_param, max_iter, tol)


def _design(t, dim):
    """(X, y, w, o) numpy arrays of the collected rows, checked as GLR
    checks its input; X is ``densify``'s matrix (NULL arrays and NULL
    values read 0, indices outside [0, dim) are dropped)."""
    import pyarrow.compute as pc

    def lists(name):
        c = t.column(name).combine_chunks()
        lengths = pc.fill_null(pc.list_value_length(c), 0).to_numpy()
        return lengths, pc.list_flatten(c)

    n_i, idx = lists("i")
    n_v, val = lists("v")
    if not np.array_equal(n_i, n_v) or idx.null_count:
        raise ValueError(
            "feature indices and values must be arrays of equal length "
            "without NULL indices"
        )
    idx = idx.to_numpy().astype(np.int64, copy=False)
    val = pc.fill_null(val, 0.0).to_numpy().astype(np.float64, copy=False)
    keep = (idx >= 0) & (idx < dim)
    flat = np.repeat(np.arange(t.num_rows) * dim, n_i)
    flat += idx
    if not keep.all():
        flat, val = flat[keep], val[keep]
    del idx, keep
    if not np.isfinite(val).all():
        raise ValueError("feature values must not be NaN or infinite")
    X = np.zeros((t.num_rows, dim))
    X.ravel()[flat] = 1.0
    if np.count_nonzero(X) < flat.size:
        raise ValueError("a feature index repeats within a row")
    X.ravel()[flat] = val

    y, w, o = (
        t.column(c).to_numpy().astype(np.float64) for c in ("y", "w", "o")
    )
    if not np.isfinite(y).all():
        raise ValueError("labels must not be NULL, NaN or infinite")
    if not (np.isfinite(w) & (w >= 0)).all():
        raise ValueError("weights must not be NULL, NaN, negative or infinite")
    if not np.isfinite(o).all():
        raise ValueError("offsets must not be NULL, NaN or infinite")
    if not w.sum() > 0:
        raise ValueError("the sum of weights must be positive")
    return X, y, w, o


def _binomial_mu0(y, w):
    mu = (w * y + 0.5) / (w + 1.0)
    if not ((mu > 0.0) & (mu < 1.0)).all():
        raise ValueError(
            "binomial labels must give an initial mean (w·y + 0.5)/(w + 1) "
            "in (0, 1)"
        )
    return mu


def _poisson_mu0(y, w):
    if (y < 0).any():
        raise ValueError("poisson labels must be non-negative")
    return np.maximum(y, 0.1)


#: GLR's Family/Link pairs: initial mean, link, fitted mean (unlink,
#: then ``project``), link derivative, variance
_IRLS_FAMILY = {
    "binomial": (
        _binomial_mu0,
        lambda mu: np.log(mu / (1.0 - mu)),
        lambda eta: np.clip(1.0 / (1.0 + np.exp(-eta)), _EPS, 1.0 - _EPS),
        lambda mu: 1.0 / (mu * (1.0 - mu)),
        lambda mu: mu * (1.0 - mu),
    ),
    "poisson": (
        _poisson_mu0,
        np.log,
        lambda eta: np.clip(np.exp(eta), _EPS, np.finfo(np.float64).max),
        lambda mu: 1.0 / mu,
        lambda mu: mu,
    ),
}


def _irls(X, y, w, o, family, reg_param, max_iter, tol):
    """spark.ml GLR's fit (GeneralizedLinearRegression.train,
    IterativelyReweightedLeastSquares.fit): (β, β0, iterations), or
    None where a WLS solve fails.

    Gaussian (identity link) is one standardized WLS on y − offset,
    reported as 1 iteration. Otherwise the initial model is a
    standardized WLS on link(μ0) − offset; each step solves an
    unstandardized WLS on the working label and weight at the previous
    model and stops once no coefficient or the intercept moved by tol
    or more, or at ``max_iter``."""
    if family == "gaussian":
        fit = _wls(X, y - o, w, reg_param, standardize=True)
        return None if fit is None else (*fit, 1)
    mu0, link, fitted, deriv, variance = _IRLS_FAMILY[family]
    fit = _wls(X, link(mu0(y, w)) - o, w, reg_param, standardize=True)
    iterations = 0
    with np.errstate(over="ignore"):
        while fit is not None and iterations < max_iter:
            beta, b0 = fit
            eta = X @ beta + b0 + o
            mu = fitted(eta)
            d = deriv(mu)
            fit = _wls(
                X, eta - o + (y - mu) * d, w / (d * d) / variance(mu),
                reg_param, standardize=False,
            )
            iterations += 1
            if fit is None:
                break
            step = beta - fit[0]
            # GLR reduces the coefficient change with max(|a|, |b|),
            # which leaves a single coefficient's change signed
            d_beta = step[0] if step.size == 1 else np.abs(step).max(initial=0.0)
            if max(d_beta, abs(b0 - fit[1])) < tol:
                break
    return None if fit is None else (*fit, iterations)


def _wls(X, b, w, reg_param, standardize):
    """spark.ml ``WeightedLeastSquares`` with an intercept on its
    Cholesky route: (β, β0), or None where that route gives no usable
    solution (a feature variance that rounds below 0, a failed or
    near-singular factorization).

    The normal equations are solved on weighted moments with features
    and label scaled by their standard deviations. The ridge on feature
    j is λ/σ_b when ``standardize`` (GLR's initial fit) and λ/σ_j² when
    not (its IRLS steps). A column with σ_j = 0 has coefficient 0 and
    no part in the solve, as in GLR; a constant label gives β = 0 and
    β0 = its mean."""
    p = w / w.sum()
    pX = X * p[:, None]
    a_bar = pX.sum(axis=0)
    b_bar = p @ b
    b_std = np.sqrt(max(p @ (b * b) - b_bar * b_bar, 0.0))
    beta = np.zeros(X.shape[1])
    if b_std == 0.0:
        return beta, float(b_bar)
    aa = pX.T @ X
    with np.errstate(invalid="ignore"):
        a_std = np.sqrt(np.diag(aa) - a_bar * a_bar)
    if np.isnan(a_std).any():
        return None
    live = a_std != 0.0
    s = a_std[live]
    k = s.size
    lam = reg_param / b_std
    A = np.empty((k + 1, k + 1))
    A[:k, :k] = aa[np.ix_(live, live)]
    del aa
    A[:k, :k] /= s[:, None]
    A[:k, :k] /= s
    A[:k, :k][np.diag_indices(k)] += lam if standardize else lam / (s * s) * b_std
    A[:k, k] = A[k, :k] = a_bar[live] / s
    A[k, k] = 1.0
    rhs = np.append((pX.T @ b)[live] / (s * b_std), b_bar / b_std)
    try:
        L = np.linalg.cholesky(A)
    except np.linalg.LinAlgError:
        return None
    if (np.diag(L) ** 2 <= _PIVOT_RTOL * np.diag(A)).any():
        return None
    x = np.linalg.solve(L.T, np.linalg.solve(L, rhs))
    beta[live] = x[:k] * b_std / s
    return beta, float(x[k] * b_std)
