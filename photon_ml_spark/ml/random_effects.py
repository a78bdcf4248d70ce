"""Random-effect (per-entity) GLM training (SURVEY §2.10 M2, §2.2 P7-P9).

The reference co-partitions data by entity and runs thousands-to-
millions of independent local solves inside executors: each task loops
over the entities it owns (RandomEffectCoordinate.scala:234-300,
SingleNodeOptimizationProblem). Spark-first that is one aggregation and
one Arrow map over batches of entities:

- ``groupBy(entity)`` collects each entity's rows into ONE row
  (``collect_list`` of (indices, values, label, weight, offset)
  structs); the prior model joins once per entity, not once per
  training row.
- ``mapInArrow`` hands the Python worker whole Arrow batches of
  entities. Per entity the solver slices the flat list buffers by their
  offsets, fills the design matrix with one vectorized scatter and runs
  the numpy Newton kernel (ml/local_glm.py); the models of a batch go
  back as one Arrow RecordBatch. No per-entity Python call, no pandas.

Memory model: a Python worker holds one input Arrow batch at a time,
which is up to ``spark.sql.execution.arrow.maxRecordsPerBatch``
entities, each with all of its rows. The T2 per-entity cap
(operators/sampling.py ``per_entity_cap``) still bounds each entity
BEFORE this operator — the reference's hard assumption that one
entity's data fits one partition (RandomEffectDataset.scala:38-45).
One solve at a time holds its entity's (rows, width) design matrix and,
with ``compute_variance="full"``, its (width+1)² inverse Hessian; only
owned copies of the fitted vectors outlive it. Those are buffered and
sent as one RecordBatch once they reach ``_FLUSH_DOUBLES`` doubles
(entities × dim, about 8 MB a vector column), so the output side holds
at most that plus one entity's vectors — a whole input batch for narrow
models, a few entities for wide ones.

Scale design:
- AQE skew-join handling + hash partitioning on the entity column
  replace the reference's hand-built bin-packing partitioner
  (RandomEffectDatasetPartitioner.scala:98-170).
- The model is a DataFrame (entity, coefficients, intercept, …), never
  a driver-side map: joins do the scoring (ml/scoring.py
  score_random_effect).
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from photon_ml_spark.ml.local_glm import fit_local_glm

MODEL_SCHEMA = (
    "entity string, coefficients array<double>, intercept double, "
    "n_samples long, n_iter long, converged boolean"
)
MODEL_SCHEMA_VAR = MODEL_SCHEMA + ", variances array<double>, intercept_variance double"

# Fitted doubles (entities × dim) a batch buffers before they go out as
# one RecordBatch; also keeps the output's int32 list offsets in range.
_FLUSH_DOUBLES = 1 << 20


def classify_warm_start(
    data: DataFrame,
    prior_models: DataFrame,
    entity_col: str = "entity",
    model_entity_col: str = "entity",
) -> DataFrame:
    """J3's train|copy|new split: FULL OUTER join data entities with
    prior-model entities (RandomEffectCoordinate.scala:243-292,
    fullOuterJoin at :252).

    Returns (entity, status) with status ∈ {train_warm (data+prior),
    train_cold (data only), copy (prior only — model carried forward
    untrained)}.
    """
    d = (
        data.select(F.col(entity_col).cast("string").alias("entity"))
        .distinct()
        .withColumn("__has_data", F.lit(1))
    )
    m = (
        prior_models.select(F.col(model_entity_col).cast("string").alias("entity"))
        .distinct()
        .withColumn("__has_model", F.lit(1))
    )
    return d.join(m, "entity", "full_outer").select(
        "entity",
        F.when(
            F.col("__has_data").isNotNull() & F.col("__has_model").isNotNull(),
            F.lit("train_warm"),
        )
        .when(F.col("__has_data").isNotNull(), F.lit("train_cold"))
        .otherwise(F.lit("copy"))
        .alias("status"),
    )


def _list_parts(arr: pa.ListArray):
    """(offsets, flat values, null mask) of an Arrow list column: row
    i's list is ``values[offsets[i]:offsets[i + 1]]`` unless null."""
    return (
        arr.offsets.to_numpy(),
        arr.values.to_numpy(zero_copy_only=False),
        arr.is_null().to_numpy(zero_copy_only=False),
    )


def _vectors(vecs: list, list_type: pa.DataType) -> pa.ListArray:
    """Equal-length numpy vectors as one Arrow list column, built from
    a single flat buffer (no per-element Python conversion)."""
    width = len(vecs[0])
    offsets = np.arange(len(vecs) + 1, dtype=np.int64) * width
    if offsets[-1] >= 2**31:
        raise OverflowError(
            f"{len(vecs)} vectors of {width} doubles overflow Arrow's int32 list offsets"
        )
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(np.concatenate(vecs)), type=list_type
    )


def _project(vec: np.ndarray, active: np.ndarray, fill: float) -> np.ndarray:
    """Global-space ``vec`` restricted to the ``active`` indices;
    indices past its end read ``fill``."""
    out = np.full(len(active), fill)
    inside = active < len(vec)
    out[inside] = vec[active[inside]]
    return out


def _scatter(vec: np.ndarray, active: np.ndarray, dim: int) -> np.ndarray:
    full = np.zeros(dim)
    full[active] = vec
    return full


def _fit_entity(rows, cols, vals, y, w, o, prior, dim, project, lower, upper, **kernel):
    """One entity's local solve. ``rows``/``cols``/``vals`` are its
    nonzeros (row within the entity, global feature index, value);
    ``prior`` is None or (coefficients, intercept, variances or None,
    intercept variance). Returns (coefficients, intercept, n_iter,
    converged, variances, intercept variance), the vectors in the full
    ``dim`` space and owned (no view into the kernel's arrays), the
    variance pair None without ``compute_variance``."""
    prior_coef = None if prior is None else prior[0]
    if project:
        # P7: the entity's own active indices ∪ prior support
        active = np.unique(cols)
        if prior_coef is not None:
            active = np.union1d(active, np.flatnonzero(prior_coef))
        cols = np.searchsorted(active, cols)
        width = len(active)
        lower = None if lower is None else np.asarray(lower)[active]
        upper = None if upper is None else np.asarray(upper)[active]
    else:
        width = dim
    X = np.zeros((len(y), width))
    X[rows, cols] = vals

    x0 = prior_mean = prior_prec = None
    if prior is not None:
        coef, intercept, variances, intercept_variance = prior
        if project:
            coef = _project(coef, active, 0.0)
        x0 = np.concatenate([coef, [intercept]])
        if variances is not None:
            if project:
                variances = _project(variances, active, np.inf)
            prior_mean = x0.copy()
            prior_prec = 1.0 / np.clip(
                np.concatenate([variances, [intercept_variance]]), 1e-12, None
            )
    res = fit_local_glm(
        X, y, weight=w, offset=o, x0=x0,
        prior_mean=prior_mean, prior_precision=prior_prec,
        lower_bounds=lower, upper_bounds=upper, **kernel,
    )
    coef, variances = res["coefficients"], res.get("variances")
    if project:
        coef = _scatter(coef, active, dim)
        if variances is not None:
            variances = _scatter(variances, active, dim)
    else:
        # full variances are a view of the whole inverse Hessian, which
        # a buffered fit must not keep alive
        coef = coef.copy()
        variances = None if variances is None else variances.copy()
    return (
        coef, float(res["intercept"]), int(res["n_iter"]), bool(res["converged"]),
        variances, res.get("intercept_variance"),
    )


def _model_batch(batch, kept, n_samples, fits, schema) -> pa.RecordBatch:
    """The models of the input ``batch``'s entities at positions
    ``kept``, fitted as ``fits``, as one RecordBatch of ``schema``."""
    coef, intercept, n_iter, converged, variances, intercept_variance = zip(*fits)
    arrays = [
        batch.column("__entity").take(pa.array(kept, pa.int64())),
        _vectors(coef, schema.field("coefficients").type),
        pa.array(intercept, pa.float64()),
        pa.array(n_samples[kept], pa.int64()),
        pa.array(n_iter, pa.int64()),
        pa.array(converged, pa.bool_()),
    ]
    if "variances" in schema.names:
        arrays += [
            _vectors(variances, schema.field("variances").type),
            pa.array(intercept_variance, pa.float64()),
        ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _solve_batches(batches, dim, min_samples, project, lower, upper, schema, kernel):
    """``mapInArrow`` body. Each input batch holds one row per entity:
    ``__entity``, its ``__rows`` (list of (idx, val, y, w, o) structs)
    and, with a prior model, the ``__prior_*`` columns. Yields the
    models of ``schema``, one RecordBatch per ``_FLUSH_DOUBLES`` of
    fitted doubles."""
    for batch in batches:
        rows = batch.column("__rows")
        ent_off = rows.offsets.to_numpy()
        n_samples = np.diff(ent_off)
        idx, val, y, w, o = rows.values.flatten()
        nnz = pc.fill_null(pc.list_value_length(idx), 0).to_numpy()
        if not np.array_equal(nnz, pc.fill_null(pc.list_value_length(val), 0).to_numpy()):
            raise ValueError("feature indices and values differ in length on some row")
        # the batch's nonzeros: global feature index, value, and the row
        # they sit on; entity e owns rows ent_off[e]:ent_off[e+1] and
        # nonzeros nz_off[row range]
        cols = idx.flatten().to_numpy()
        vals = val.flatten().to_numpy(zero_copy_only=False)
        nz_off = np.concatenate(([0], np.cumsum(nnz)))
        row_of = np.repeat(np.arange(len(nnz)), nnz)
        y, w, o = (a.to_numpy(zero_copy_only=False) for a in (y, w, o))
        has_prior = "__prior_coef" in batch.schema.names
        prior_has_var = "__prior_var" in batch.schema.names
        if has_prior:
            p_off, p_coef, p_null = _list_parts(batch.column("__prior_coef"))
            p_int = batch.column("__prior_int").to_numpy(zero_copy_only=False)
        if prior_has_var:
            v_off, v_vals, v_null = _list_parts(batch.column("__prior_var"))
            v_int = batch.column("__prior_int_var").to_numpy(zero_copy_only=False)

        kept, fits = [], []
        for e in range(batch.num_rows):
            r0, r1 = ent_off[e], ent_off[e + 1]
            prior = None
            if has_prior and not p_null[e]:
                variances = None
                if prior_has_var and not v_null[e]:
                    variances = v_vals[v_off[e]:v_off[e + 1]]
                prior = (
                    p_coef[p_off[e]:p_off[e + 1]], float(p_int[e]),
                    variances, float(v_int[e]) if variances is not None else None,
                )
            if r1 - r0 < min_samples and prior is None:
                continue  # dropped entity (P9)
            k0, k1 = nz_off[r0], nz_off[r1]
            kept.append(e)
            fits.append(_fit_entity(
                row_of[k0:k1] - r0, cols[k0:k1], vals[k0:k1],
                y[r0:r1], w[r0:r1], o[r0:r1], prior,
                dim, project, lower, upper, **kernel,
            ))
            if len(kept) * dim >= _FLUSH_DOUBLES:
                yield _model_batch(batch, kept, n_samples, fits, schema)
                kept, fits = [], []
        if kept:
            yield _model_batch(batch, kept, n_samples, fits, schema)


def fit_random_effects(
    df: DataFrame,
    entity_col: str,
    dim: int,
    family: str = "binomial",
    indices_col: str = "features_indices",
    values_col: str = "features_values",
    label_col: str = "response",
    weight_col: str | None = "weight",
    offset_col: str | None = "offset",
    reg_param: float = 1.0,
    max_iter: int = 50,
    tol: float = 1e-8,
    min_samples: int = 1,
    prior_model: DataFrame | None = None,
    compute_variance: str | None = None,
    project_subspace: bool = False,
    lower_bounds=None,
    upper_bounds=None,
) -> DataFrame:
    """Fit one GLM per entity; returns a model DataFrame.

    ``prior_model`` (entity, coefficients, intercept[, variances,
    intercept_variance]) enables warm start (M7) and, when variances
    are present, the Gaussian-prior incremental penalty (M9). Full J3
    train|copy|new semantics (fullOuterJoin at
    RandomEffectCoordinate.scala:252): entities with data are (re)fit
    warm or cold; entities present only in the prior model are carried
    forward untrained as "copy" rows (n_samples=0, n_iter=0) via an
    anti-join union — incremental retraining never loses a model;
    entities below ``min_samples`` without a prior are dropped (P9).

    ``project_subspace`` is P7 (RandomEffectDataset.scala:390-426,
    LinearSubspaceProjector.scala:37-66): each entity solves in the
    subspace of its OWN active feature indices (∪ prior support) and
    scatters coefficients back to the full ``dim``. The design matrix
    shrinks from (n, dim) to (n, |active|) — essential when the global
    feature space is wide but per-entity support is narrow.

    Rows whose feature arrays are NULL are all-zero design rows.
    """
    sample = F.struct(
        F.col(indices_col).cast("array<long>").alias("idx"),
        F.col(values_col).cast("array<double>").alias("val"),
        F.col(label_col).cast("double").alias("y"),
        (F.col(weight_col).cast("double") if weight_col else F.lit(1.0)).alias("w"),
        (F.col(offset_col).cast("double") if offset_col else F.lit(0.0)).alias("o"),
    )
    data = df.groupBy(F.col(entity_col).cast("string").alias("__entity")).agg(
        F.collect_list(sample).alias("__rows")
    )
    has_prior = prior_model is not None
    prior_has_var = has_prior and "variances" in prior_model.columns
    if has_prior:
        pm = prior_model.select(
            F.col("entity").alias("__entity"),
            F.col("coefficients").alias("__prior_coef"),
            F.col("intercept").alias("__prior_int"),
            *(
                [
                    F.col("variances").alias("__prior_var"),
                    F.col("intercept_variance").alias("__prior_int_var"),
                ]
                if prior_has_var
                else []
            ),
        )
        data = data.join(pm, "__entity", "left")

    schema = MODEL_SCHEMA_VAR if compute_variance else MODEL_SCHEMA
    solve = functools.partial(
        _solve_batches, dim=dim, min_samples=min_samples,
        project=project_subspace, lower=lower_bounds, upper=upper_bounds,
        schema=to_arrow_schema(StructType.fromDDL(schema)),
        kernel=dict(
            family=family, l2=reg_param, max_iter=max_iter, tol=tol,
            compute_variance=compute_variance,
        ),
    )
    fitted = data.mapInArrow(solve, schema=schema)
    if not has_prior:
        return fitted

    # J3 "copy": prior-model entities with no training data pass through
    # untrained (RandomEffectCoordinate.scala:252 fullOuterJoin). One
    # anti-join on entity against the distinct data entities — partial-
    # aggregated distinct, no extra pass over the model side.
    copy_cols = [
        F.col("entity").cast("string").alias("entity"),
        F.col("coefficients"),
        F.col("intercept").cast("double").alias("intercept"),
        F.lit(0).cast("long").alias("n_samples"),
        F.lit(0).cast("long").alias("n_iter"),
        F.lit(True).alias("converged"),
    ]
    if compute_variance:
        copy_cols += [
            (
                F.col("variances") if prior_has_var
                else F.lit(None).cast("array<double>")
            ).alias("variances"),
            (
                F.col("intercept_variance").cast("double") if prior_has_var
                else F.lit(None).cast("double")
            ).alias("intercept_variance"),
        ]
    copied = prior_model.join(
        df.select(F.col(entity_col).cast("string").alias("entity")).distinct(),
        "entity",
        "left_anti",
    ).select(*copy_cols)
    return fitted.unionByName(copied)
