"""Oracle-checked queries for the ML operators (SURVEY §2.10 M*,
§2.4 A3/A12): per-entity solves, normalization back-transform,
Hessian/variance aggregates, full GAME scoring composition, legacy
metric suite.

Exactness conventions (see queries.py docstring):
- moment sums over integer-valued columns are exact in any order;
  closed-form division applied identically on both sides
- data-dependent double summands (Hessian) are quantized to an integer
  grid before summation
- the per-entity ridge fit runs the REAL local solver over Arrow
  batches of entities;
  with integer-valued inputs its normal-equation entries are exact, so
  the solve is reproducible against the SQL closed form
"""

from __future__ import annotations

from pyspark.sql import functions as F

from photon_ml_spark.queries import _t, r6, register

# --------------------------------------------------------------- M2 per-entity


M2_RIDGE_BLOCKS_SQL = """
WITH d AS (
  SELECT l_suppkey AS entity, l_quantity AS x,
         ROUND(l_extendedprice / 1000) AS y
  FROM lineitem
),
m AS (
  SELECT entity, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy
  FROM d GROUP BY entity
),
closed AS (
  SELECT entity,
         ROUND((n*sxy - sx*sy) / ((sxx + 10.0)*n - sx*sx), 6) AS coef,
         ROUND(((sxx + 10.0)*sy - sx*sxy) / ((sxx + 10.0)*n - sx*sx), 6)
           AS intercept,
         CAST(n AS BIGINT) AS n_samples
  FROM m
)
SELECT 'ridge' AS variant, CAST(entity AS VARCHAR) AS entity,
       coef, intercept, n_samples
FROM closed
UNION ALL
SELECT 'subspace', CAST(entity AS VARCHAR), coef, intercept, n_samples
FROM closed
UNION ALL
SELECT 'exempt', CAST(entity AS VARCHAR), coef, intercept, n_samples
FROM closed WHERE entity % 5 = 0
"""


def m2_ridge_blocks(spark, sf_dir):
    """M2/M4/A6 + P7/J10/J12 per-entity solver suite in ONE gate row.
    'ridge': one ridge GLM per entity via the real local Newton solver
    over Arrow batches of entities (gaussian, l2=10, intercept
    unpenalized) — integer-valued inputs make the normal equations
    exact, matched against the SQL closed form
    (RandomEffectCoordinate.scala:234-300,
    SingleNodeOptimizationProblem). 'subspace' (P7): the SAME problem
    embedded in a dim=3 space with each entity active only at index
    suppkey%3, solved with project_subspace=True
    (RandomEffectDataset.scala:390-426,
    LinearSubspaceProjector.scala:37-66); coef is the SUM of the full
    scattered coefficient vector, so it matches the closed form iff the
    subspace solve is right AND the scatter-back leaves exact zeros
    elsewhere. 'exempt' (J12+J10+P9): min_samples=10^9 makes every
    entity under-supported; a prior model for suppkey%5==0 entities
    joins in (J10 left join, RandomEffectDataset.scala:405-421) and
    exempts exactly those from the support filter
    (RandomEffectDataset.scala:586-606) — they are warm-started (M7) and
    refit to the same closed form; everyone else is dropped"""
    from photon_ml_spark.ml.random_effects import fit_random_effects

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("string").alias("entity"),
        F.col("l_suppkey").alias("suppkey"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
    )

    def out(models, variant, coef_col):
        return models.select(
            F.lit(variant).alias("variant"),
            "entity",
            r6(coef_col).alias("coef"),
            r6(F.col("intercept")).alias("intercept"),
            "n_samples",
        )

    ridge = fit_random_effects(
        li,
        entity_col="entity",
        dim=1,
        family="gaussian",
        weight_col=None,
        offset_col=None,
        reg_param=10.0,
        tol=1e-10,
    )

    # P7: same data at index suppkey%3 of a dim=3 space; the solver must
    # solve in the 1-dim active subspace and scatter back exact zeros
    wide = li.withColumn(
        "features_indices", F.array((F.col("suppkey") % 3).cast("long"))
    )
    sub = fit_random_effects(
        wide,
        entity_col="entity",
        dim=3,
        family="gaussian",
        weight_col=None,
        offset_col=None,
        reg_param=10.0,
        tol=1e-10,
        project_subspace=True,
    )
    coef_sum = F.aggregate(
        "coefficients", F.lit(0.0), lambda acc, c: acc + c
    )

    # J12: every entity is below min_samples; only those with a prior
    # model survive (warm-started from zeros, refit to the same optimum)
    prior = (
        li.filter(F.col("suppkey") % 5 == 0)
        .select("entity")
        .distinct()
        .select(
            "entity",
            F.array(F.lit(0.0)).alias("coefficients"),
            F.lit(0.0).alias("intercept"),
        )
    )
    exempt = fit_random_effects(
        li,
        entity_col="entity",
        dim=1,
        family="gaussian",
        weight_col=None,
        offset_col=None,
        reg_param=10.0,
        tol=1e-10,
        min_samples=10**9,
        prior_model=prior,
    )
    return (
        out(ridge, "ridge", F.element_at("coefficients", 1))
        .unionByName(out(sub, "subspace", coef_sum))
        .unionByName(out(exempt, "exempt", F.element_at("coefficients", 1)))
    )


@register(
    "m9_incremental_prior",
    oracle="""
WITH d AS (
  SELECT l_suppkey AS entity, l_quantity AS x,
         ROUND(l_extendedprice / 1000) AS y,
         (l_orderkey + l_linenumber) % 2 AS fold
  FROM lineitem
),
f0 AS (
  SELECT entity, CAST(COUNT(*) AS DOUBLE) AS n0, SUM(x) AS sx0, SUM(y) AS sy0,
         SUM(x*x) AS sxx0, SUM(x*y) AS sxy0
  FROM d WHERE fold = 0 GROUP BY entity
),
prior AS (
  SELECT entity,
         (n0*sxy0 - sx0*sy0) / ((sxx0 + 10.0)*n0 - sx0*sx0) AS muc,
         ((sxx0 + 10.0)*sy0 - sx0*sxy0) / ((sxx0 + 10.0)*n0 - sx0*sx0) AS mui,
         1.0 / (1.0 / (sxx0 + 10.0)) AS pc,
         1.0 / (1.0 / n0) AS pi
  FROM f0
),
f1 AS (
  SELECT entity, CAST(COUNT(*) AS DOUBLE) AS n1, SUM(x) AS sx1, SUM(y) AS sy1,
         SUM(x*x) AS sxx1, SUM(x*y) AS sxy1
  FROM d WHERE fold <> 0 GROUP BY entity
)
SELECT CAST(f1.entity AS VARCHAR) AS entity,
       ROUND(((n1 + pi)*(sxy1 + pc*muc) - sx1*(sy1 + pi*mui))
             / ((sxx1 + pc)*(n1 + pi) - sx1*sx1), 6) AS coef,
       ROUND(((sxx1 + pc)*(sy1 + pi*mui) - sx1*(sxy1 + pc*muc))
             / ((sxx1 + pc)*(n1 + pi) - sx1*sx1), 6) AS intercept,
       CAST(n1 AS BIGINT) AS n_samples
FROM f1 JOIN prior ON f1.entity = prior.entity
""",
)
def m9_incremental_prior(spark, sf_dir):
    """M9 incremental learning through the REAL distributed path: a
    prior model table (ridge fit + SIMPLE variances on fold 0) joins
    into fit_random_effects on fold 1, whose Gaussian-prior penalty
    Σ(β−μ)²/(2σ²) (PriorDistribution.scala:23-120) the oracle reproduces
    as the closed-form posterior"""
    from photon_ml_spark.ml.random_effects import fit_random_effects

    d = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("string").alias("entity"),
        F.col("l_quantity").cast("double").alias("x"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("y"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 2).alias("fold"),
    )
    f0 = d.filter(F.col("fold") == 0).groupBy("entity").agg(
        F.count(F.lit(1)).cast("double").alias("n0"),
        F.sum("x").alias("sx0"), F.sum("y").alias("sy0"),
        F.sum(F.col("x") * F.col("x")).alias("sxx0"),
        F.sum(F.col("x") * F.col("y")).alias("sxy0"),
    )
    det0 = (F.col("sxx0") + 10.0) * F.col("n0") - F.col("sx0") * F.col("sx0")
    prior = f0.select(
        "entity",
        F.array(
            (F.col("n0") * F.col("sxy0") - F.col("sx0") * F.col("sy0")) / det0
        ).alias("coefficients"),
        (
            ((F.col("sxx0") + 10.0) * F.col("sy0") - F.col("sx0") * F.col("sxy0"))
            / det0
        ).alias("intercept"),
        F.array(F.lit(1.0) / (F.col("sxx0") + 10.0)).alias("variances"),
        (F.lit(1.0) / F.col("n0")).alias("intercept_variance"),
    )
    f1 = d.filter(F.col("fold") != 0).select(
        "entity",
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("x")).alias("features_values"),
        F.col("y").alias("response"),
    )
    models = fit_random_effects(
        f1, entity_col="entity", dim=1, family="gaussian",
        weight_col=None, offset_col=None, reg_param=0.0,
        prior_model=prior, tol=1e-10,
    )
    return models.select(
        "entity",
        r6(F.element_at("coefficients", 1)).alias("coef"),
        r6(F.col("intercept")).alias("intercept"),
        "n_samples",
    )


# ------------------------------------------------------------ M5 normalization


@register(
    "m5_normalization_backmap",
    oracle="""
WITH f AS (
  SELECT 'disc' AS feature, ROUND(l_discount * 100) AS x, 0.125 AS coef FROM lineitem
  UNION ALL SELECT 'price_k', ROUND(l_extendedprice / 1000), -0.25 FROM lineitem
  UNION ALL SELECT 'qty', l_quantity, 0.5 FROM lineitem
),
m AS (
  SELECT feature, ANY_VALUE(coef) AS coef, COUNT(*) AS n, SUM(x) AS s1, SUM(x*x) AS s2
  FROM f GROUP BY feature
),
ctx AS (
  SELECT feature, coef,
         s1 / n AS shift,
         1.0 / SQRT((s2 - s1*s1/n) / (n - 1)) AS factor
  FROM m
)
SELECT feature, ROUND(shift, 6) AS shift, ROUND(factor, 6) AS factor,
       ROUND(coef * factor, 6) AS coef_orig
FROM ctx
UNION ALL
SELECT '(INTERCEPT)', 0.0, 1.0,
       ROUND(0.75 - SUM(coef * factor * shift), 6)
FROM ctx
""",
)
def m5_normalization_backmap(spark, sf_dir):
    """M5: standardization contexts from exact moments + the
    transformed→original coefficient algebra: beta=beta'*factor,
    intercept=i' − Σ beta'·factor·shift
    (NormalizationContext.scala:37-128, factors
    GameTrainingDriver.scala:590-656)"""
    from photon_ml_spark.ml.normalization import (
        backmap_coefficients,
        normalization_table,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("qty"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("price_k"),
        F.round(F.col("l_discount") * 100, 0).alias("disc"),
    )
    norm = normalization_table(li, ["qty", "price_k", "disc"], "standardization")
    coefs = spark.createDataFrame(
        [("qty", 0.5), ("price_k", -0.25), ("disc", 0.125)],
        "feature string, coef double",
    )
    out = backmap_coefficients(coefs, norm, intercept_transformed=0.75)
    return out.select(
        "feature", r6(F.col("shift")).alias("shift"),
        r6(F.col("factor")).alias("factor"),
        r6(F.col("coef_orig")).alias("coef_orig"),
    )


# ---------------------------------------------------------- A3/M10 variance


@register(
    "m10_hessian_variance",
    oracle="""
WITH scored AS (
  SELECT l_discount * 5.0 - l_tax * 3.0 + l_quantity / 25.0 - 1.0 AS margin,
         1.0 + l_linenumber / 10.0 AS w,
         l_quantity AS qty,
         ROUND(l_extendedprice / 1000) AS price_k,
         ROUND(l_discount * 100) AS disc
  FROM lineitem
),
t AS (
  SELECT w / ((1.0 + EXP(-margin)) * (1.0 + EXP(margin))) AS wd,
         qty, price_k, disc
  FROM scored
),
u AS (
  SELECT unnest([
    {'feature': 'disc',    'h': ROUND(wd * disc * disc * 1000000)},
    {'feature': 'price_k', 'h': ROUND(wd * price_k * price_k * 1000000)},
    {'feature': 'qty',     'h': ROUND(wd * qty * qty * 1000000)}
  ], recursive := true) AS s
  FROM t
)
SELECT feature,
       ROUND(SUM(h) / 1000000 + 0.5, 6) AS hessian_diag,
       ROUND(1.0 / (SUM(h) / 1000000 + 0.5), 6) AS variance
FROM u GROUP BY feature
""",
)
def m10_hessian_variance(spark, sf_dir):
    """A3/M10: logistic Hessian diagonal Σ w·mu·(1−mu)·x² (+l2) and
    SIMPLE variance 1/H_jj; summands quantized to 1e-6 grid for
    order-independence (HessianDiagonalAggregator.scala,
    DistributedOptimizationProblem.scala:86-96)"""
    from photon_ml_spark.ml.variance import hessian_diagonal, simple_variance

    li = _t(spark, sf_dir, "lineitem").select(
        (
            F.col("l_discount") * 5.0 - F.col("l_tax") * 3.0
            + F.col("l_quantity") / 25.0 - 1.0
        ).alias("margin"),
        (F.lit(1.0) + F.col("l_linenumber") / 10.0).alias("w"),
        F.col("l_quantity").alias("qty"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("price_k"),
        F.round(F.col("l_discount") * 100, 0).alias("disc"),
    )
    h = hessian_diagonal(
        li, ["qty", "price_k", "disc"], margin_col="margin", weight_col="w",
        family="binomial", l2=0.5, quantize_scale=1e6,
    )
    v = simple_variance(h)
    return v.select(
        "feature", r6(F.col("hessian_diag")).alias("hessian_diag"),
        r6(F.col("variance")).alias("variance"),
    )


# ------------------------------------------------------------- M12 GAME score


@register(
    "m12_game_scoring",
    oracle="""
WITH re_model AS (
  SELECT l_suppkey AS entity,
         (SUM(ROUND(l_discount * 100)) / COUNT(*) - 5.0) / 100.0 AS coef
  FROM lineitem WHERE l_suppkey % 4 <> 3
  GROUP BY l_suppkey
),
sparse AS (
  SELECT entity, coef FROM re_model WHERE ABS(coef) >= 0.002
),
rows_in AS (
  SELECT l_orderkey * 8 + l_linenumber AS uid, l_suppkey AS entity,
         l_quantity AS qty, ROUND(l_discount * 100) AS disc100
  FROM lineitem WHERE l_orderkey % 13 = 0
),
scored AS (
  SELECT r.uid,
         0.05 * r.qty + -0.02 * r.disc100 + 0.1 AS fixed_score,
         CASE WHEN s.entity IS NULL THEN 0.0 ELSE r.qty * s.coef + 0.0 END AS re_score
  FROM rows_in r LEFT JOIN sparse s ON r.entity = s.entity
)
SELECT uid, ROUND(fixed_score, 6) AS fixed_score, ROUND(re_score, 6) AS re_score,
       ROUND(fixed_score + re_score, 6) AS total,
       ROUND(1.0 / (1.0 + EXP(-(fixed_score + re_score))), 6) AS prediction
FROM scored
""",
)
def m12_game_scoring(spark, sf_dir):
    """M12/J4/J5/J11/P10 + S8/S9 SINK ROUND-TRIP: full GAME scoring
    composition — broadcast fixed-effect dot product + per-entity
    model-table left join (missing model → 0,
    RandomEffectModel.scala:283-287) after P10 sparsification, score
    sum, sigmoid mean (GameModel.scala:108-112). The GAME model is saved
    and RELOADED through the model sink/scan
    (ModelProcessingUtils.scala:77-265) before scoring; its two
    coordinates carry DIFFERENT feature shards (fx on a 2-dim qty/disc
    shard, re on the 1-dim qty shard) and total/prediction come from the
    shard-aware GameTransformer (GameTransformer.scala:150-283 — each
    coordinate resolves its own featureShardId's columns), so a wrong
    per-coordinate column binding flips the hash. The scored output is
    written and RE-READ through the S8 score sink
    (GameScoringDriver.scala:229-256) — the oracle-compared rows are the
    re-read table, so a green row proves both sinks round-trip"""
    import os

    import numpy as np

    from photon_ml_spark.ml.coordinate_descent import CoordinateConfig, GameModel
    from photon_ml_spark.ml.glm import FixedEffectGLM
    from photon_ml_spark.ml.scoring import score_literal, score_random_effect
    from photon_ml_spark.sources.model_io import (
        load_game_model,
        save_game_model,
        save_scores,
    )

    li = _t(spark, sf_dir, "lineitem")
    # per-entity 1-dim models from exact integer moments (stand-in for a
    # trained RE model table), entities ≡ 3 (mod 4) deliberately missing
    re_model = (
        li.filter(F.col("l_suppkey") % 4 != 3)
        .groupBy(F.col("l_suppkey").alias("entity"))
        .agg(
            (
                (F.sum(F.round(F.col("l_discount") * 100, 0)) / F.count(F.lit(1)) - 5.0)
                / 100.0
            ).alias("coef")
        )
    )
    # P10 sparsification at save: drop near-zero models
    sparse = re_model.filter(F.abs(F.col("coef")) >= 0.002).select(
        "entity", F.array(F.col("coef")).alias("coefficients"),
        F.lit(0.0).alias("intercept"),
    )
    rows_in = li.filter(F.col("l_orderkey") % 13 == 0).select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uid"),
        F.col("l_suppkey").alias("entity"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_discount") * 100, 0).alias("disc100"),
        F.col("l_quantity").alias("qty"),
    )
    fixed = FixedEffectGLM(
        family="binomial", coefficients=np.array([0.05, -0.02]),
        intercept=0.1, dim=2,
    )
    # S9 model sink/scan round-trip: persist the GAME model (fixed
    # coefficient table + per-entity model table + metadata) and score
    # with the RELOADED coordinates, not the in-memory ones
    game = GameModel(family="binomial")
    game.configs["fx"] = CoordinateConfig(
        name="fx", kind="fixed", dim=2,
        indices_col="fx_indices", values_col="fx_values",
    )
    game.coordinates["fx"] = fixed
    game.configs["re"] = CoordinateConfig(
        name="re", kind="random", dim=1, entity_col="entity",
    )
    game.coordinates["re"] = sparse
    warehouse = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
    )
    model_path = os.path.join(
        warehouse, f"m12_model_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    save_game_model(game, model_path, spark)
    loaded = load_game_model(model_path, spark)
    fixed = loaded.coordinates["fx"]
    sparse = loaded.coordinates["re"]
    # the scoring frame carries BOTH shards' columns — fx on its own
    # 2-dim (qty, disc100) shard, re on the default 1-dim qty shard
    frame = rows_in.withColumn(
        "fx_indices", F.array(F.lit(0).cast("long"), F.lit(1).cast("long"))
    ).withColumn(
        "fx_values",
        F.array(F.col("qty").cast("double"), F.col("disc100").cast("double")),
    )
    with_fixed = score_literal(
        frame,
        fixed, indices_col="fx_indices", values_col="fx_values",
        out_col="fixed_score",
    )
    with_re = score_random_effect(
        with_fixed, sparse, entity_col="entity", out_col="re_score"
    )
    # total + prediction come from the SHARD-AWARE transformer
    # (GameTransformer.scala:150-283 contract: each coordinate scores
    # through its own featureShardId's columns) over the RELOADED
    # 2-shard model — a wrong per-coordinate column resolution flips
    # the row's value hash. The manual per-part scores ride along so
    # the oracle also pins each coordinate's contribution; the
    # transformer's sum is the same fx+re addition (GameModel.scala:
    # 108-112), so the arithmetic is bit-identical.
    from photon_ml_spark.estimator import GameTransformer

    out = GameTransformer(model=loaded).transform(
        with_re, score_col="total", prediction_col="prediction"
    )
    out = out.select(
        "uid", r6(F.col("fixed_score")).alias("fixed_score"),
        r6(F.col("re_score")).alias("re_score"),
        r6(F.col("total")).alias("total"),
        r6(F.col("prediction")).alias("prediction"),
    )
    # S8 score sink round-trip (+T6 file limit): write, re-read, and
    # return the RE-READ rows — what the oracle compares
    scores_path = os.path.join(
        warehouse, f"m12_scores_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    save_scores(out, scores_path, output_files_limit=2)
    return spark.read.parquet(scores_path)


@register(
    "m3_coordinate_descent",
    oracle="""
WITH d AS (
  SELECT l_orderkey * 100 + l_linenumber AS uid,
         CAST(l_suppkey AS VARCHAR) AS e,
         CAST(l_quantity AS DOUBLE) AS x,
         ROUND(l_discount * 100) AS z,
         ROUND(l_extendedprice / 1000) AS y
  FROM lineitem
),
g1 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy
  FROM d
),
f1 AS (
  SELECT (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b,
         (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a
  FROM g1
),
mm1 AS (
  SELECT e, CAST(COUNT(*) AS DOUBLE) AS n, SUM(z) AS sz,
         SUM(y - (f1.b*x + f1.a)) AS sr, SUM(z*z) AS szz,
         SUM(z*(y - (f1.b*x + f1.a))) AS szr
  FROM d, f1 GROUP BY e
),
re1 AS (
  SELECT e, (n*szr - sz*sr) / ((szz + 10.0)*n - sz*sz) AS c,
         ((szz + 10.0)*sr - sz*szr) / ((szz + 10.0)*n - sz*sz) AS i
  FROM mm1
),
d2 AS (
  SELECT d.*, y - (re1.c*z + re1.i) AS y2
  FROM d JOIN re1 ON d.e = re1.e
),
g2 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y2) AS sy,
         SUM(x*x) AS sxx, SUM(x*y2) AS sxy
  FROM d2
),
f2 AS (
  SELECT (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b,
         (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a
  FROM g2
),
mm2 AS (
  SELECT e, CAST(COUNT(*) AS DOUBLE) AS n, SUM(z) AS sz,
         SUM(y - (f2.b*x + f2.a)) AS sr, SUM(z*z) AS szz,
         SUM(z*(y - (f2.b*x + f2.a))) AS szr
  FROM d, f2 GROUP BY e
),
re2 AS (
  SELECT e, n, (n*szr - sz*sr) / ((szz + 10.0)*n - sz*sz) AS c,
         ((szz + 10.0)*sr - sz*szr) / ((szz + 10.0)*n - sz*sz) AS i
  FROM mm2
)
SELECT e AS entity, ROUND(c, 6) AS coef, ROUND(i, 6) AS intercept,
       CAST(n AS BIGINT) AS n_samples
FROM re2
UNION ALL
SELECT '__fixed__', ROUND(f2.b, 6), ROUND(f2.a, 6),
       (SELECT COUNT(*) FROM d)
FROM f2
UNION ALL
SELECT '__m8_fixed__', ROUND(m8.b, 6), ROUND(m8.a, 6),
       (SELECT COUNT(*) FROM d)
FROM (
  SELECT (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b,
         (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a
  FROM (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx,
           SUM(y - (0.5*z + 0.25)) AS sy, SUM(x*x) AS sxx,
           SUM(x*(y - (0.5*z + 0.25))) AS sxy
    FROM d
  )
) m8
UNION ALL
SELECT '__m8_locked__', 0.5, 0.25,
       (SELECT CAST(COUNT(DISTINCT e) AS BIGINT) FROM d)
""",
)
def m3_coordinate_descent(spark, sf_dir):
    """M3/M7/M8/J1/J11 through the REAL train_game loop, on TWO feature
    shards (CoordinateDataConfiguration.scala:24,37,58 featureShardId —
    the fixed coordinate trains on the qty shard, the random coordinate
    on the disc shard, the reference flagship's
    userFeatures/songFeatures split): 2 backfitting iterations over
    [fixed global, per-supplier ridge] with gaussian family — fixed1 →
    RE1 on residual → fixed2 on (y − RE1 score) via the incremental
    summed-score subtraction → RE2 warm-started from RE1
    (CoordinateDescent.scala:373-463). Every stage is a closed-form
    least-squares solve, so the oracle replays the whole descent in SQL
    (z = ROUND(discount·100) keeps every moment sum integer-valued →
    order-independent). The __m8_* rows run a SECOND train_game with the
    random coordinate LOCKED to a constant pretrained model on the disc
    shard (coef 0.5, intercept 0.25): partial retraining
    scores-but-never-trains the locked coordinate
    (GameEstimator.train:770-775) — the fixed coordinate's closed form
    on the locked residual and the untouched locked model are both
    oracle-checked; the binomial/validation variants stay in
    tests/test_coordinate_descent.py"""
    from photon_ml_spark.ml.coordinate_descent import CoordinateConfig, train_game

    # (orderkey, linenumber, suppkey, partkey) is the unique row key in
    # the synthetic lineitem — orderkey*100+linenumber alone collides.
    # Two single-feature shards: qty (fixed coordinate) and disc
    # (random coordinate) — per-coordinate featureShardId end to end.
    li = _t(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            "|", "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"
        ).alias("uid"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
        F.lit(0.0).alias("offset"),
        F.lit(1.0).alias("weight"),
        F.col("l_suppkey").cast("string").alias("suppkey"),
        F.array(F.lit(0).cast("long")).alias("qty_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("qty_values"),
        F.array(F.lit(0).cast("long")).alias("disc_indices"),
        F.array(F.round(F.col("l_discount") * 100, 0)).alias("disc_values"),
    )
    model, history = train_game(
        li,
        coordinates=[
            CoordinateConfig(
                name="global", kind="fixed", dim=1,
                indices_col="qty_indices", values_col="qty_values",
            ),
            CoordinateConfig(
                name="per_supplier", kind="random", dim=1,
                entity_col="suppkey", reg_param=10.0,
                indices_col="disc_indices", values_col="disc_values",
            ),
        ],
        family="gaussian",
        n_iterations=2,
    )
    fixed = model.coordinates["global"]
    re = model.coordinates["per_supplier"].select(
        F.col("entity"),
        r6(F.element_at("coefficients", 1)).alias("coef"),
        r6(F.col("intercept")).alias("intercept"),
        "n_samples",
    )
    fixed_row = spark.createDataFrame(
        [(
            "__fixed__",
            float(round(float(fixed.coefficients[0]), 6)),
            float(round(float(fixed.intercept), 6)),
        )],
        "entity string, coef double, intercept double",
    ).withColumn("n_samples", F.lit(li.count()).cast("long"))

    # M8 partial retraining: random coordinate LOCKED to a constant
    # pretrained model — scored, never trained; only the fixed
    # coordinate fits (on the locked residual)
    pretrained = li.select(F.col("suppkey").alias("entity")).distinct().select(
        "entity",
        F.array(F.lit(0.5)).alias("coefficients"),
        F.lit(0.25).alias("intercept"),
    )
    m8_model, _ = train_game(
        li,
        coordinates=[
            CoordinateConfig(
                name="per_supplier", kind="random", dim=1,
                entity_col="suppkey", locked=True, pretrained=pretrained,
                indices_col="disc_indices", values_col="disc_values",
            ),
            CoordinateConfig(
                name="global", kind="fixed", dim=1,
                indices_col="qty_indices", values_col="qty_values",
            ),
        ],
        family="gaussian",
        n_iterations=1,
    )
    m8_fixed = m8_model.coordinates["global"]
    locked = m8_model.coordinates["per_supplier"]
    locked_stats = locked.agg(
        F.countDistinct("entity").alias("n"),
        F.min(F.element_at("coefficients", 1)).alias("cmin"),
        F.max(F.element_at("coefficients", 1)).alias("cmax"),
        F.min("intercept").alias("imin"),
        F.max("intercept").alias("imax"),
    ).first()
    assert locked_stats.cmin == locked_stats.cmax == 0.5
    assert locked_stats.imin == locked_stats.imax == 0.25
    m8_rows = spark.createDataFrame(
        [
            (
                "__m8_fixed__",
                float(round(float(m8_fixed.coefficients[0]), 6)),
                float(round(float(m8_fixed.intercept), 6)),
                int(li.count()),
            ),
            ("__m8_locked__", 0.5, 0.25, int(locked_stats.n)),
        ],
        "entity string, coef double, intercept double, n_samples long",
    )
    return re.unionByName(fixed_row).unionByName(m8_rows)


# -------------------------------------------------------------- M11 grid


@register(
    "m11_reg_grid",
    oracle="""
WITH d AS (
  SELECT l_quantity AS x, ROUND(l_extendedprice / 1000) AS y,
         (l_orderkey + l_linenumber) % 2 AS fold
  FROM lineitem
),
tr AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy
  FROM d WHERE fold = 0
),
va AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM d WHERE fold <> 0
),
lam AS (SELECT unnest([0.01, 1.0, 100.0, 10000.0]) AS lam),
fit AS (
  SELECT lam,
         (tr.n*tr.sxy - tr.sx*tr.sy) / ((tr.sxx + lam)*tr.n - tr.sx*tr.sx) AS beta,
         ((tr.sxx + lam)*tr.sy - tr.sx*tr.sxy)
           / ((tr.sxx + lam)*tr.n - tr.sx*tr.sx) AS alpha
  FROM lam, tr
),
dlam AS (SELECT unnest([0.01, 0.03, 0.1, 0.3, 1.0, 3.0, 10.0, 30.0,
                        100.0, 300.0, 1000.0, 3000.0, 10000.0]) AS lam),
dfit AS (
  SELECT lam,
         (tr.n*tr.sxy - tr.sx*tr.sy) / ((tr.sxx + lam)*tr.n - tr.sx*tr.sx) AS beta,
         ((tr.sxx + lam)*tr.sy - tr.sx*tr.sxy)
           / ((tr.sxx + lam)*tr.n - tr.sx*tr.sx) AS alpha
  FROM dlam, tr
),
dmse AS (
  SELECT MIN((va.syy - 2*beta*va.sxy - 2*alpha*va.sy + beta*beta*va.sxx
              + 2*alpha*beta*va.sx + alpha*alpha*va.n) / va.n) AS best
  FROM dfit, va
)
SELECT 'grid' AS variant, lam,
       ROUND(beta, 6) AS beta, ROUND(alpha, 6) AS alpha,
       ROUND((va.syy - 2*beta*va.sxy - 2*alpha*va.sy + beta*beta*va.sxx
              + 2*alpha*beta*va.sx + alpha*alpha*va.n) / va.n, 6) AS val_mse,
       TRUE AS ok
FROM fit, va
UNION ALL
SELECT 'gp' AS variant, CAST(NULL AS DOUBLE) AS lam,
       CAST(NULL AS DOUBLE) AS beta, CAST(NULL AS DOUBLE) AS alpha,
       ROUND(best, 6) AS val_mse, TRUE AS ok
FROM dmse
""",
)
def m11_reg_grid(spark, sf_dir):
    # ONE distributed pass: the train/val moment sums are sufficient
    # statistics for the closed-form ridge fit, so the 4-λ grid rows,
    # the 13-λ dense-grid best, AND the GP's 20 evaluations all derive
    # from the same collected moments row (exact integer-valued sums →
    # Python/SQL IEEE arithmetic matches the in-plan formulas bit-for-
    # bit, same as the oracle convention).
    """M11 suite in ONE distributed scan: the train/val moment sums
    (sufficient statistics for 1-feature ridge) are aggregated once; the
    4-λ grid rows, the 13-λ dense-grid best, and the model-based mode —
    a deterministic slice-sampled GP-EI search
    (GaussianProcessSearch.scala, SliceSampler.scala) over log10 λ ∈
    [-2, 4] — all derive from that row driver-side (driver hook
    GameTrainingDriver.scala:677-726; exact integer sums keep Python/SQL
    IEEE arithmetic bit-equal; the in-plan cross-join strategy survives
    as ridge_grid_eval_1d, parity-tested). The gp row's val_mse is the
    dense-grid best (SQL-replayable); ok is computed Spark-side as
    gp_best ≤ dense_best·1.001 — a wrong GP flips the hash"""
    from photon_ml_spark.ml.hypersearch import (
        gp_ridge_search_1d,
        ridge_closed_form,
        ridge_moments_1d,
    )

    d = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("y"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 2).alias("fold"),
    )
    m = ridge_moments_1d(d, "x", "y", "fold")
    grid_rows = [
        (lam, *ridge_closed_form(m, lam))
        for lam in (0.01, 1.0, 100.0, 10000.0)
    ]
    dense_best = min(
        ridge_closed_form(m, lam)[2]
        for lam in (0.01, 0.03, 0.1, 0.3, 1.0, 3.0, 10.0, 30.0,
                    100.0, 300.0, 1000.0, 3000.0, 10000.0)
    )
    gp = gp_ridge_search_1d(
        d, "x", "y", "fold", log10_bounds=(-2.0, 4.0),
        kernel_sampling="slice", moments=m,
    )
    grid = spark.createDataFrame(
        [
            ("grid", lam, beta, alpha, mse, True)
            for lam, beta, alpha, mse in grid_rows
        ],
        "variant string, lam double, beta double, alpha double, "
        "val_mse double, ok boolean",
    ).select(
        "variant", "lam",
        r6(F.col("beta")).alias("beta"),
        r6(F.col("alpha")).alias("alpha"),
        r6(F.col("val_mse")).alias("val_mse"),
        "ok",
    )
    gp_row = spark.createDataFrame(
        [(
            "gp", None, None, None, float(dense_best),
            bool(gp["best_value"] <= dense_best * 1.001),
        )],
        "variant string, lam double, beta double, alpha double, "
        "val_mse double, ok boolean",
    ).select(
        "variant", "lam", "beta", "alpha",
        r6(F.col("val_mse")).alias("val_mse"), "ok",
    )
    return grid.unionByName(gp_row)


# ---------------------------------------------------------- M13 smoothed hinge


@register(
    "m13_smoothed_hinge_svm",
    oracle="""
SELECT CAST(l_suppkey AS VARCHAR) AS entity,
       0.0 AS g_qty, 0.0 AS g_disc, 0.0 AS g_int,
       CAST(COUNT(*) AS BIGINT) AS n_samples
FROM lineitem GROUP BY l_suppkey
""",
)
def m13_smoothed_hinge_svm(spark, sf_dir):
    """M13: per-entity smoothed-hinge SVM (photon-api/.../function/svm,
    Rennie smoothing) via the Newton solver over Arrow batches of
    entities, verified by a FIXED-POINT oracle: the penalized
    subgradient Σ dl/dm·x + λβ (intercept unpenalized) is recomputed
    DISTRIBUTED at the returned coefficients and must round to 0 per
    entity — the optimum itself has no closed form, but its stationarity
    condition is checkable"""
    from photon_ml_spark.ml.random_effects import fit_random_effects

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("string").alias("entity"),
        F.array(F.lit(0).cast("long"), F.lit(1).cast("long")).alias("features_indices"),
        F.array(
            (F.col("l_quantity") / 25.0).cast("double"),
            (F.col("l_discount") * 10.0).cast("double"),
        ).alias("features_values"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
    )
    models = fit_random_effects(
        li, entity_col="entity", dim=2, family="smoothed_hinge",
        weight_col=None, offset_col=None, reg_param=0.1, tol=1e-9,
    )
    # stationarity residual, evaluated as a fresh distributed pass:
    # margin from the fitted model, Rennie dl/dm, grouped gradient + l2
    j = li.join(models.select("entity", "coefficients", "intercept"), "entity")
    x1 = F.element_at("features_values", 1)
    x2 = F.element_at("features_values", 2)
    margin = (
        F.element_at("coefficients", 1) * x1
        + F.element_at("coefficients", 2) * x2
        + F.col("intercept")
    )
    s = F.col("response") * 2 - 1
    z = s * margin
    dldm = (
        F.when(z >= 1.0, F.lit(0.0))
        .when(z <= 0.0, -s)
        .otherwise(-s * (1 - z))
    )
    grad = j.groupBy("entity").agg(
        (F.sum(dldm * x1) + 0.1 * F.first(F.element_at("coefficients", 1))).alias("g1"),
        (F.sum(dldm * x2) + 0.1 * F.first(F.element_at("coefficients", 2))).alias("g2"),
        F.sum(dldm).alias("g0"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    # +0.0 folds IEEE −0.0 into +0.0 so the hash matches the SQL literal
    return grad.select(
        "entity",
        (F.round(F.col("g1"), 3) + 0.0).alias("g_qty"),
        (F.round(F.col("g2"), 3) + 0.0).alias("g_disc"),
        (F.round(F.col("g0"), 3) + 0.0).alias("g_int"),
        "n_samples",
    )


# ------------------------------------- M4/M9/M1 distributed penalized solver


@register(
    "m4_elastic_net_fixed",
    oracle="""
WITH d AS (
  SELECT l_quantity AS x,
         ROUND(l_extendedprice / 1000) AS y,
         ROUND(l_extendedprice / 1000) / 2 AS o
  FROM lineitem
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y - o) AS sr,
         SUM(x*x) AS sxx, SUM(x*(y - o)) AS sxr
  FROM d
),
lam AS (SELECT unnest([20000.0, 60000.0, 120000.0]) AS lam),
fit AS (
  SELECT lam,
         sxr - sx*sr/n AS sxr_c, sxx - sx*sx/n AS sxx_c,
         lam * 0.5 AS l1, lam * 0.5 AS l2, m.*
  FROM lam, m
),
sol AS (
  SELECT lam,
         SIGN(sxr_c) * GREATEST(ABS(sxr_c) - l1, 0.0) / (sxx_c + l2) AS beta,
         n, sx, sr
  FROM fit
)
SELECT lam, ROUND(beta, 6) AS coef,
       ROUND((sr - beta * sx) / n, 6) AS intercept,
       CAST(beta = 0.0 AS BOOLEAN) AS zeroed,
       'owlqn' AS optimizer
FROM sol
""",
)
def m4_elastic_net_fixed(spark, sf_dir):
    """M4 (fixed-effect L1/elastic net) through the REAL distributed
    OWLQN path (ml/distributed_solver.py, OWLQN.scala:39,
    RegularizationContext.scala:38-132) WITH an offset — the combination
    spark.ml GLR cannot express. Univariate gaussian: the oracle is the
    exact soft-threshold solution on centered moments (intercept
    unpenalized; L1 never touches it); λ=120000 drives the coefficient
    to an exact orthant-projected 0"""
    from photon_ml_spark.ml.glm import fit_fixed_effect

    d = _t(spark, sf_dir, "lineitem").select(
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
        (F.round(F.col("l_extendedprice") / 1000, 0) / 2).alias("offset"),
    )
    rows = []
    for lam in [20000.0, 60000.0, 120000.0]:
        m = fit_fixed_effect(
            d, dim=1, family="gaussian", weight_col=None, offset_col="offset",
            reg_param=lam, elastic_net_param=0.5, tol=1e-10, max_iter=200,
        )
        rows.append((
            lam,
            float(round(float(m.coefficients[0]), 6)),
            float(round(float(m.intercept), 6)),
            bool(m.coefficients[0] == 0.0),
            m.meta["optimizer"],
        ))
    return spark.createDataFrame(
        rows,
        "lam double, coef double, intercept double, zeroed boolean, "
        "optimizer string",
    )


M9B_FIXED_EFFECT_PRIOR_SQL = """
WITH d AS (
  SELECT l_quantity AS x, ROUND(l_extendedprice / 1000) AS y FROM lineitem
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy
  FROM d
),
sol AS (
  SELECT (sxx + 1000.0) * (n + 10.0) - sx * sx AS det,
         (sxy + 1000.0 * 1.0) AS b1, (sy + 10.0 * 0.0) AS b2, m.*
  FROM m
)
SELECT ROUND((b1 * (n + 10.0) - sx * b2) / det, 6) AS coef,
       ROUND(((sxx + 1000.0) * b2 - sx * b1) / det, 6) AS intercept,
       'lbfgs' AS optimizer
FROM sol
"""


def m9b_fixed_effect_prior(spark, sf_dir):
    """M9 on the FIXED coordinate (PriorDistribution.scala:23-120):
    Gaussian prior (μ=[1,0], precision=[1000,10] over coef+intercept)
    folded into the distributed solve; oracle is the exact 2×2 posterior
    normal-equation solution via Cramer's rule"""
    import numpy as np

    from photon_ml_spark.ml.glm import fit_fixed_effect

    d = _t(spark, sf_dir, "lineitem").select(
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
    )
    m = fit_fixed_effect(
        d, dim=1, family="gaussian", weight_col=None, offset_col=None,
        prior_mean=np.array([1.0, 0.0]),
        prior_precision=np.array([1000.0, 10.0]),
        tol=1e-10, max_iter=200,
    )
    return spark.createDataFrame(
        [(
            float(round(float(m.coefficients[0]), 6)),
            float(round(float(m.intercept), 6)),
            m.meta["optimizer"],
        )],
        "coef double, intercept double, optimizer string",
    )


@register(
    "m1_glr_fixed_effect",
    oracle="""
SELECT 0.0 AS g_coef, 0.0 AS g_int, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
""",
)
def m1_glr_fixed_effect(spark, sf_dir):
    """M1/A1/M6 MAIN path — spark.ml GLR's IRLS (binomial, offset +
    weight), the solver the flagship uses: at sf0.01 the design fits
    ``LOCAL_FIT_MAX_CELLS``, so it runs on the driver over one bounded
    Arrow collect; above the bound GLR runs it JVM-side
    (DistributedOptimizationProblem.scala:112-157,
    GeneralizedLinearModel training loop). Verified by the m13/m2b
    FIXED-POINT pattern: the weighted logistic gradient Σ
    w·(σ(margin)−y)·x is recomputed DISTRIBUTED at the returned
    coefficients and must round to 0 (no closed form exists for the MLE
    itself)"""
    from photon_ml_spark.ml.glm import fit_fixed_effect

    # single-row-group synthetic parquet yields ~3 splits; spread to
    # core count so each IRLS pass parallelizes (no-op to remove on
    # real block-sized files — same note as bench.py flagship)
    li = _t(spark, sf_dir, "lineitem").select(
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array((F.col("l_quantity") / 10.0)).alias("features_values"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
        (F.lit(1.0) + F.col("l_linenumber") / 10.0).alias("weight"),
        (F.col("l_discount") * 2.0).alias("offset"),
    ).repartition(spark.sparkContext.defaultParallelism)
    m = fit_fixed_effect(
        li, dim=1, family="binomial", weight_col="weight", offset_col="offset",
        reg_param=0.0, tol=1e-10, max_iter=100,
    )
    assert m.meta.get("iterations", 0) > 0  # really went through IRLS
    x = F.element_at("features_values", 1)
    margin = (
        x * float(m.coefficients[0]) + F.col("offset") + float(m.intercept)
    )
    resid = (
        F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col("response")
    ) * F.col("weight")
    g = li.agg(
        F.sum(resid * x).alias("gc"),
        F.sum(resid).alias("gi"),
        F.count(F.lit(1)).alias("n"),
    )
    # +0.0 folds IEEE −0.0 into +0.0 so the hash matches the SQL literal
    return g.select(
        (F.round(F.col("gc"), 3) + 0.0).alias("g_coef"),
        (F.round(F.col("gi"), 3) + 0.0).alias("g_int"),
        "n",
    )


M1B_BOX_FIXED_EFFECT_SQL = """
WITH d AS (
  SELECT l_quantity AS x, ROUND(l_extendedprice / 1000) AS y FROM lineitem
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy
  FROM d
),
sol AS (
  SELECT LEAST(GREATEST((sxy - sx*sy/n) / (sxx - sx*sx/n), -1.0), 0.001)
           AS beta, m.*
  FROM m
)
SELECT ROUND(beta, 6) AS coef,
       ROUND((sy - beta * sx) / n, 6) AS intercept,
       'lbfgsb' AS optimizer
FROM sol
"""


def m1b_box_fixed_effect(spark, sf_dir):
    """M1/LBFGSB.scala:39 on the fixed coordinate: box [−1, 0.001] on
    the feature (intercept free) through the distributed active-set
    projected L-BFGS; oracle profiles out the intercept and clips the
    centered univariate optimum — exact whether or not the bound binds"""
    import numpy as np

    from photon_ml_spark.ml.glm import fit_fixed_effect

    d = _t(spark, sf_dir, "lineitem").select(
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
    )
    m = fit_fixed_effect(
        d, dim=1, family="gaussian", weight_col=None, offset_col=None,
        lower_bounds=np.array([-1.0]), upper_bounds=np.array([0.001]),
        tol=1e-10, max_iter=200,
    )
    return spark.createDataFrame(
        [(
            float(round(float(m.coefficients[0]), 6)),
            float(round(float(m.intercept), 6)),
            m.meta["optimizer"],
        )],
        "coef double, intercept double, optimizer string",
    )


J7_BYJOIN_SCORING_SQL = """
WITH s AS (
  SELECT 3.0 * p_size + -2.0 * (p_partkey % 7) + 1.0 AS score FROM part
)
SELECT CAST(SUM(score) AS DOUBLE) AS bcast_sum,
       CAST(SUM(score) AS DOUBLE) AS shuffle_sum,
       CAST(COUNT(*) AS BIGINT) AS n
FROM s
"""


def j7_byjoin_scoring(spark, sf_dir):
    """J4/J7 wide-model scoring paths
    (FixedEffectCoordinate.scala:144-155;
    RandomEffectCoordinate.scala:346-366 broadcast set): the SAME
    (feature_index → coefficient) model table scores the part relation
    twice through score_by_join — once with the broadcast hint (J7's
    broadcast-the-small-set physical strategy), once with
    broadcast_model=False (the shuffle join for models past broadcast
    size) — and both exact integer score sums must equal the SQL closed
    form. Gates the model-as-table scoring path the literal plan (J4,
    m12) cannot exercise"""
    from photon_ml_spark.ml.scoring import score_by_join

    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("uid"),
        F.array(F.lit(0).cast("long"), F.lit(1).cast("long")).alias(
            "features_indices"
        ),
        F.array(
            F.col("p_size").cast("double"),
            (F.col("p_partkey") % 7).cast("double"),
        ).alias("features_values"),
    )
    model = spark.createDataFrame(
        [(0, 3.0), (1, -2.0)], "feature_index long, coefficient double"
    )
    sums = []
    for bcast in (True, False):
        scored = score_by_join(
            part, model, intercept=1.0, broadcast_model=bcast
        )
        sums.append(scored.agg(F.sum("score"), F.count(F.lit(1))).first())
    assert sums[0][1] == sums[1][1]
    return spark.createDataFrame(
        [(float(sums[0][0]), float(sums[1][0]), int(sums[0][1]))],
        "bcast_sum double, shuffle_sum double, n long",
    )


M2B_PER_ENTITY_POISSON_SQL = """
SELECT CAST(l_suppkey AS VARCHAR) AS entity,
       0.0 AS g_x, 0.0 AS g_int,
       CAST(COUNT(*) AS BIGINT) AS n_samples
FROM lineitem WHERE l_suppkey < 40 GROUP BY l_suppkey
"""


def m2b_per_entity_poisson(spark, sf_dir):
    """M2 poisson family (count response) through the per-entity Newton
    solver over Arrow batches of entities, verified by a FIXED-POINT
    oracle like m13: the penalized gradient Σ(exp(m) − y)·x + λβ
    (intercept unpenalized) is recomputed DISTRIBUTED at the returned
    coefficients and must round to 0 per entity
    (PoissonLossFunction.scala; no closed form exists for the optimum
    itself)"""
    from photon_ml_spark.ml.random_effects import fit_random_effects

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 40).select(
        F.col("l_suppkey").cast("string").alias("entity"),
        F.col("l_linenumber").cast("double").alias("response"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array((F.col("l_quantity") / 50.0).cast("double")).alias(
            "features_values"
        ),
    )
    models = fit_random_effects(
        li, entity_col="entity", dim=1, family="poisson",
        weight_col=None, offset_col=None, reg_param=0.5, tol=1e-10,
    )
    j = li.join(models.select("entity", "coefficients", "intercept"), "entity")
    x = F.element_at("features_values", 1)
    mu = F.exp(F.element_at("coefficients", 1) * x + F.col("intercept"))
    resid = mu - F.col("response")
    grad = j.groupBy("entity").agg(
        (F.sum(resid * x) + 0.5 * F.first(F.element_at("coefficients", 1)))
        .alias("g1"),
        F.sum(resid).alias("g0"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    # +0.0 folds IEEE −0.0 into +0.0 so the hash matches the SQL literal
    return grad.select(
        "entity",
        (F.round(F.col("g1"), 3) + 0.0).alias("g_x"),
        (F.round(F.col("g0"), 3) + 0.0).alias("g_int"),
        "n_samples",
    )


M1C_TRON_FIXED_EFFECT_SQL = """
WITH d AS (
  SELECT l_quantity AS x,
         ROUND(l_extendedprice / 1000) AS y,
         ROUND(l_extendedprice / 1000) / 2 AS o
  FROM lineitem
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y - o) AS sr,
         SUM(x*x) AS sxx, SUM(x*(y - o)) AS sxr
  FROM d
),
sol AS (
  SELECT (sxx + 500.0) * n - sx * sx AS det, m.* FROM m
)
SELECT ROUND((sxr * n - sx * sr) / det, 6) AS coef,
       ROUND(((sxx + 500.0) * sr - sx * sxr) / det, 6) AS intercept,
       'tron' AS optimizer, CAST(TRUE AS BOOLEAN) AS converged
FROM sol
"""


def m1c_tron_fixed_effect(spark, sf_dir):
    """A2/M1: trust-region truncated Newton (TRON.scala:78-233) with
    distributed Hessian·vector CG rounds (HessianVectorAggregator.scala)
    — ridge with an OFFSET through the real solve_tron path; oracle is
    the exact 2×2 ridge normal-equation solution on offset-adjusted
    moments via Cramer's rule (intercept unpenalized)"""
    from photon_ml_spark.ml.glm import fit_fixed_effect

    d = _t(spark, sf_dir, "lineitem").select(
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("l_quantity").cast("double")).alias("features_values"),
        F.round(F.col("l_extendedprice") / 1000, 0).alias("response"),
        (F.round(F.col("l_extendedprice") / 1000, 0) / 2).alias("offset"),
    )
    m = fit_fixed_effect(
        d, dim=1, family="gaussian", weight_col=None, offset_col="offset",
        reg_param=500.0, solver="tron", tol=1e-10, max_iter=100,
    )
    return spark.createDataFrame(
        [(
            float(round(float(m.coefficients[0]), 6)),
            float(round(float(m.intercept), 6)),
            m.meta["optimizer"],
            bool(m.meta["converged"]),
        )],
        "coef double, intercept double, optimizer string, converged boolean",
    )


# ------------------------------------------------------------ A12 legacy suite


A12_PEAK_F1_AIC_SQL = """
WITH scored AS (
  SELECT l_discount * 5.0 - l_tax * 3.0 + l_quantity / 25.0 - 1.0 AS score,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
         1.0 + l_linenumber / 10.0 AS weight
  FROM lineitem
),
g AS (
  SELECT score AS s, SUM(weight * label) AS pos, SUM(weight * (1.0 - label)) AS neg
  FROM scored GROUP BY score
),
c AS (
  SELECT s, pos, neg,
         SUM(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS ctp,
         SUM(neg) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cfp,
         SUM(pos) OVER () AS p
  FROM g
),
f1 AS (SELECT MAX(2.0 * ctp / (ctp + cfp + p)) AS peak_f1 FROM c),
ll AS (
  SELECT -SUM(weight * (GREATEST(score, 0) + LN(1 + EXP(-ABS(score))) - label * score))
           AS loglik,
         COUNT(*) AS n
  FROM scored
),
pscored AS (
  SELECT l_discount - l_tax + l_quantity / 50.0 AS score,
         CAST(l_linenumber AS DOUBLE) AS label
  FROM lineitem
),
pll AS (
  SELECT SUM(label * score - EXP(score) - LGAMMA(1.0 + label)) AS loglik,
         COUNT(*) AS n
  FROM pscored
)
SELECT ROUND(f1.peak_f1, 5) AS peak_f1,
       ROUND(ll.loglik, 4) AS loglik,
       ROUND(2.0 * 6 - 2.0 * ll.loglik, 4) AS aic,
       ROUND(2.0 * 6 - 2.0 * ll.loglik + 2.0 * 6 * 7 / (ll.n - 7), 4) AS aicc,
       ROUND(pll.loglik, 4) AS p_loglik,
       ROUND(2.0 * 4 - 2.0 * pll.loglik, 4) AS p_aic,
       ROUND(2.0 * 4 - 2.0 * pll.loglik + 2.0 * 4 * 5 / (pll.n - 5), 4) AS p_aicc
FROM f1, ll, pll
"""


def a12_peak_f1_aic(spark, sf_dir):
    """A12: legacy metric suite extras — peak F1 over all thresholds
    (window sweep) + logistic AND Poisson data log-likelihood +
    small-sample-corrected AIC (Evaluation.scala:40-165, logistic
    :148-161, poisson :131-145, AIC :105-125); lnΓ(1+y) exact via JVM Σ
    ln i, DuckDB LGAMMA on the oracle side"""
    from photon_ml_spark.functions.metrics import (
        logistic_data_loglik_and_aic,
        peak_f1,
        poisson_data_loglik_and_aic,
    )

    s = _t(spark, sf_dir, "lineitem").select(
        (
            F.col("l_discount") * 5.0 - F.col("l_tax") * 3.0
            + F.col("l_quantity") / 25.0 - 1.0
        ).alias("score"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        (F.lit(1.0) + F.col("l_linenumber") / 10.0).alias("weight"),
    )
    f1 = peak_f1(s, weight="weight").select(
        F.round(F.col("peak_f1"), 5).alias("peak_f1")
    )
    lla = logistic_data_loglik_and_aic(s, k=6, weight="weight").select(
        F.round(F.col("loglik"), 4).alias("loglik"),
        F.round(F.col("aic"), 4).alias("aic"),
        F.round(F.col("aicc"), 4).alias("aicc"),
    )
    p = _t(spark, sf_dir, "lineitem").select(
        (
            F.col("l_discount") - F.col("l_tax") + F.col("l_quantity") / 50.0
        ).alias("score"),
        F.col("l_linenumber").cast("double").alias("label"),
    )
    pla = poisson_data_loglik_and_aic(p, k=4).select(
        F.round(F.col("loglik"), 4).alias("p_loglik"),
        F.round(F.col("aic"), 4).alias("p_aic"),
        F.round(F.col("aicc"), 4).alias("p_aicc"),
    )
    return f1.crossJoin(lla).crossJoin(pla)
