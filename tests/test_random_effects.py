"""Random-effect training tests: per-entity solves over Arrow batches of
entities (``mapInArrow``), checked against a driver-side loop."""

import functools
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from photon_ml_spark.datamodel import FeatureShardConfig
from photon_ml_spark.ml import glm, random_effects, scoring
from photon_ml_spark.ml.local_glm import fit_local_glm
from photon_ml_spark.sources import datasets, featurize


@pytest.fixture(scope="module")
def assembled(spark, sf_dir):
    training = datasets.lineitem_training_frame(spark, sf_dir)
    dictionary = featurize.build_feature_dictionary(
        training, ["features"], has_intercept=True
    )
    shard = FeatureShardConfig("features", ["features"])
    out = featurize.assemble_shard(training, dictionary, shard).cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def re_model(assembled):
    m = random_effects.fit_random_effects(
        assembled, entity_col="suppkey", dim=5, family="binomial",
        reg_param=1.0, min_samples=5,
    ).cache()
    m.count()
    return m


def test_model_per_entity(assembled, re_model, spark):
    n_entities = assembled.select("suppkey").distinct().count()
    rows = re_model.collect()
    assert len(rows) == n_entities  # all suppliers have >= 5 lines at sf0.001
    for r in rows[:5]:
        assert len(r.coefficients) == 5
        assert r.converged


def test_matches_single_entity_glr(spark, assembled):
    """Per-entity solve must agree with spark.ml GLR run on that
    entity's rows alone (same objective: binomial IRLS, L2=0)."""
    ent = assembled.groupBy("suppkey").count().orderBy(F.desc("count")).first()[0]
    sub = assembled.filter(F.col("suppkey") == ent)
    m_re = (
        random_effects.fit_random_effects(
            sub, entity_col="suppkey", dim=5, family="binomial", reg_param=0.0,
            tol=1e-10,
        )
        .first()
    )
    m_glr = glm.fit_fixed_effect(sub, dim=5, family="binomial", reg_param=0.0)
    assert np.allclose(m_re.coefficients, m_glr.coefficients, atol=2e-3)
    assert abs(m_re.intercept - m_glr.intercept) < 2e-3


def test_min_samples_drops(assembled):
    big = random_effects.fit_random_effects(
        assembled, entity_col="suppkey", dim=5, min_samples=10**9
    )
    assert big.count() == 0


def test_warm_start_prior(assembled, re_model):
    warm = random_effects.fit_random_effects(
        assembled, entity_col="suppkey", dim=5, family="binomial",
        reg_param=1.0, prior_model=re_model,
    )
    r = warm.orderBy("entity").first()
    assert r.n_iter <= 2  # warm start: already at optimum

    strong = re_model.select(
        "entity", "coefficients", "intercept",
        F.expr("transform(coefficients, c -> 1e-9d)").alias("variances"),
        F.lit(1e-9).alias("intercept_variance"),
    )
    pinned = random_effects.fit_random_effects(
        assembled, entity_col="suppkey", dim=5, family="binomial",
        reg_param=0.0, prior_model=strong,
    )
    j = (
        re_model.select("entity", F.col("coefficients").alias("c0"))
        .join(pinned.select("entity", F.col("coefficients").alias("c1")), "entity")
        .collect()
    )
    for r in j:
        assert np.allclose(r.c0, r.c1, atol=1e-3)  # tight prior pins coefficients


def test_prior_only_entities_copied_forward(assembled, re_model):
    """J3 copy semantics (RandomEffectCoordinate.scala:252): entities
    present only in the prior model must pass through untrained, not be
    silently dropped from the incremental-retrain output."""
    half = assembled.filter(F.col("suppkey") <= 5)
    kept = {r.entity for r in half.select(
        F.col("suppkey").cast("string").alias("entity")).distinct().collect()}
    out = random_effects.fit_random_effects(
        half, entity_col="suppkey", dim=5, family="binomial",
        reg_param=1.0, prior_model=re_model,
    ).cache()
    prior_rows = {r.entity: r for r in re_model.collect()}
    out_rows = {r.entity: r for r in out.collect()}
    # nothing lost: output covers every prior entity plus all data entities
    assert set(out_rows) == set(prior_rows) | kept
    copied = set(prior_rows) - kept
    assert copied, "test needs at least one prior-only entity"
    for e in copied:
        r = out_rows[e]
        assert r.n_samples == 0 and r.n_iter == 0
        assert np.allclose(r.coefficients, prior_rows[e].coefficients)
        assert r.intercept == pytest.approx(prior_rows[e].intercept)
    out.unpersist()


def test_score_random_effect(assembled, re_model):
    data = assembled.withColumnRenamed("suppkey", "entity")
    scored = scoring.score_random_effect(
        data, re_model.select("entity", "coefficients", "intercept"),
        entity_col="entity",
    ).cache()
    assert scored.count() == assembled.count()
    # a modeled entity scores nonzero somewhere; missing-model rows score 0
    stats = scored.agg(
        F.sum(F.when(F.col("score") != 0.0, 1).otherwise(0)).alias("nz")
    ).first()
    assert stats.nz > 0
    scored.unpersist()


def test_variance_output(assembled):
    m = random_effects.fit_random_effects(
        assembled, entity_col="suppkey", dim=5, compute_variance="full",
    )
    r = m.first()
    assert len(r.variances) == 5
    assert all(v > 0 for v in r.variances)


def test_subspace_projection_matches_full_solve(spark, sf_dir):
    """P7: per-entity subspace fit scatters back to identical
    coefficients (inactive dims are exactly 0 in both paths)."""
    import numpy as np
    from pyspark.sql import functions as F

    from photon_ml_spark.ml.random_effects import fit_random_effects

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_suppkey").cast("string").alias("entity"),
        # entity-dependent support: odd suppliers never see feature 2
        F.when(
            F.col("l_suppkey") % 2 == 0,
            F.array(F.lit(0).cast("long"), F.lit(2).cast("long")),
        ).otherwise(F.array(F.lit(0).cast("long"), F.lit(1).cast("long")))
        .alias("features_indices"),
        F.array(
            (F.col("l_quantity") / 25.0).cast("double"),
            (F.col("l_discount") * 10.0).cast("double"),
        ).alias("features_values"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
    )
    kw = dict(
        entity_col="entity", dim=4, family="binomial",
        weight_col=None, offset_col=None, reg_param=0.5,
    )
    full = {r.entity: (r.coefficients, r.intercept)
            for r in fit_random_effects(li, **kw).collect()}
    proj = {r.entity: (r.coefficients, r.intercept)
            for r in fit_random_effects(li, project_subspace=True, **kw).collect()}
    assert full.keys() == proj.keys()
    for e in full:
        assert np.allclose(full[e][0], proj[e][0], atol=1e-6), e
        assert abs(full[e][1] - proj[e][1]) < 1e-6
        # dim 3 never active anywhere -> exactly zero
        assert proj[e][0][3] == 0.0


def test_skewed_entity_capped_before_fit(spark, sf_dir):
    """The 100 TB skew discipline: one entity 50x heavier than the rest
    is bounded by the T2 reservoir cap BEFORE the per-entity solve, so
    no entity's collected rows exceed the cap (the reference's
    one-entity-fits-one-partition invariant, RandomEffectDataset.scala:
    38-45) — and the capped fit still produces a usable model with
    rescaled weights compensating the sample loss."""
    from pyspark.sql import functions as F

    from photon_ml_spark.ml.random_effects import fit_random_effects
    from photon_ml_spark.operators.sampling import per_entity_cap

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # entity '0' absorbs half the table -> heavy key; others stay small
    skewed = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, "hot")
        .otherwise(F.col("l_suppkey").cast("string")).alias("entity"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("uid"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array((F.col("l_quantity") / 25.0).cast("double")).alias("features_values"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
        F.lit(1.0).alias("weight"),
    )
    cap = 150
    capped = per_entity_cap(
        skewed, entity_col="entity", cap=cap, weight_col="weight",
        order_cols=["uid"],
    )
    sizes = capped.groupBy("entity").count()
    assert sizes.agg(F.max("count")).first()[0] <= cap
    # weight rescale preserves each entity's total weight
    hot_w = capped.filter(F.col("entity") == "hot").agg(F.sum("weight")).first()[0]
    hot_n = skewed.filter(F.col("entity") == "hot").count()
    assert abs(hot_w - hot_n) / hot_n < 1e-9

    models = fit_random_effects(
        capped, entity_col="entity", dim=1, family="binomial",
        weight_col="weight", offset_col=None, reg_param=1.0,
    )
    rows = {r.entity: r for r in models.collect()}
    assert rows["hot"].n_samples == cap
    assert rows["hot"].converged


# --- reference loop: every entity fit on the driver, one at a time ------

REF_DIM = 5
#: fixed before comparing: the two paths may only differ by the order of
#: an entity's rows, which moves coefficients by ~1e-13
REF_TOL = 1e-9


def _reference_frame(spark, sf_dir, null_features=False):
    """60 entities of ~100 rows; entity-dependent support (index
    1 + entity % 3, never index 4), optionally NULL feature arrays on
    every second line of an order."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ent = F.col("l_orderkey") % 60
    idx = F.array(F.lit(0).cast("long"), (F.lit(1) + ent % 3).cast("long"))
    val = F.array(
        (F.col("l_quantity") / 25.0).cast("double"),
        (F.col("l_discount") * 10.0 - 0.5).cast("double"),
    )
    if null_features:
        null = F.col("l_linenumber") == 2
        idx = F.when(~null, idx)
        val = F.when(~null, val)
    return li.select(
        ent.cast("string").alias("entity"),
        idx.alias("features_indices"),
        val.alias("features_values"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("response"),
        (F.lit(0.5) + (F.col("l_linenumber") % 3) * 0.25).alias("weight"),
        ((F.col("l_tax") - 0.04) * 5.0).alias("offset"),
    )


def _reference_fit(rows, prior, dim=REF_DIM, min_samples=1, reg_param=1.0,
                   compute_variance=None, project_subspace=False,
                   lower_bounds=None, upper_bounds=None):
    """The per-entity semantics of fit_random_effects, one
    ``fit_local_glm`` call per entity over its collected rows."""
    by_entity = defaultdict(list)
    for r in rows:
        by_entity[r.entity].append(r)
    out = {}
    for e, rs in by_entity.items():
        p = prior.get(e)
        if len(rs) < min_samples and p is None:
            continue
        support = set(range(dim))
        if project_subspace:
            support = {i for r in rs for i in (r.features_indices or [])}
            if p is not None:
                support |= {int(i) for i in np.flatnonzero(p.coefficients)}
        support = sorted(support)
        pos = {g: k for k, g in enumerate(support)}
        X = np.zeros((len(rs), len(support)))
        for k, r in enumerate(rs):
            for i, v in zip(r.features_indices or [], r.features_values or []):
                X[k, pos[i]] = v
        x0 = prior_mean = prior_prec = None
        if p is not None:
            x0 = np.array([p.coefficients[g] for g in support] + [p.intercept])
            if getattr(p, "variances", None) is not None:
                var = [p.variances[g] for g in support] + [p.intercept_variance]
                prior_mean = x0.copy()
                prior_prec = 1.0 / np.clip(var, 1e-12, None)
        res = fit_local_glm(
            X, np.array([r.response for r in rs]),
            weight=np.array([r.weight for r in rs]),
            offset=np.array([r.offset for r in rs]),
            family="binomial", l2=reg_param, x0=x0, prior_mean=prior_mean,
            prior_precision=prior_prec, max_iter=50, tol=1e-8,
            compute_variance=compute_variance,
            lower_bounds=None if lower_bounds is None else [lower_bounds[g] for g in support],
            upper_bounds=None if upper_bounds is None else [upper_bounds[g] for g in support],
        )
        coef = np.zeros(dim)
        coef[support] = res["coefficients"]
        fit = dict(coefficients=coef, intercept=res["intercept"],
                   n_samples=len(rs), n_iter=res["n_iter"],
                   converged=res["converged"])
        if compute_variance:
            var = np.zeros(dim)
            var[support] = res["variances"]
            fit.update(variances=var, intercept_variance=res["intercept_variance"])
        out[e] = fit
    for e, p in prior.items():
        if e not in by_entity:  # J3 copy: carried forward untrained
            fit = dict(coefficients=np.array(p.coefficients), intercept=p.intercept,
                       n_samples=0, n_iter=0, converged=True)
            if compute_variance:
                fit.update(variances=np.array(p.variances),
                           intercept_variance=p.intercept_variance)
            out[e] = fit
    return out


@pytest.mark.parametrize(
    "case",
    ["plain", "min_samples", "prior", "full_variance", "subspace", "bounds",
     "null_features"],
)
def test_matches_reference_loop(spark, sf_dir, case):
    frame = _reference_frame(spark, sf_dir, null_features=case == "null_features")
    kw = {}
    prior_model = None
    if case == "min_samples":
        sizes = sorted(r[1] for r in frame.groupBy("entity").count().collect())
        kw["min_samples"] = sizes[len(sizes) // 2]
    elif case == "prior":
        prior_model = random_effects.fit_random_effects(
            frame, entity_col="entity", dim=REF_DIM, reg_param=1.0,
            compute_variance="simple",
        ).cache()
        # entities 50-59 have no training rows: carried forward
        frame = frame.filter(F.col("entity").cast("int") < 50)
        kw["compute_variance"] = "simple"
    elif case == "full_variance":
        kw["compute_variance"] = "full"
    elif case == "subspace":
        kw["project_subspace"] = True
    elif case == "bounds":
        kw.update(lower_bounds=[-0.2] * REF_DIM, upper_bounds=[0.3] * REF_DIM)

    got = {
        r.entity: r.asDict()
        for r in random_effects.fit_random_effects(
            frame, entity_col="entity", dim=REF_DIM, reg_param=1.0,
            prior_model=prior_model, **kw,
        ).collect()
    }
    prior = {} if prior_model is None else {
        r.entity: r for r in prior_model.collect()
    }
    want = _reference_fit(frame.collect(), prior, **kw)

    assert got.keys() == want.keys()
    if case == "min_samples":
        assert 0 < len(want) < frame.select("entity").distinct().count()
    if case == "prior":
        assert sum(w["n_samples"] == 0 for w in want.values()) == 10
    if case == "bounds":
        assert any(np.isclose(w["coefficients"], 0.3).any() or
                   np.isclose(w["coefficients"], -0.2).any()
                   for w in want.values())
    for e, w in want.items():
        g = got[e]
        for k in ("n_samples", "n_iter", "converged"):
            assert g[k] == w[k], (e, k)
        np.testing.assert_allclose(g["coefficients"], w["coefficients"],
                                   rtol=0, atol=REF_TOL)
        assert abs(g["intercept"] - w["intercept"]) <= REF_TOL
        if "variances" in w:
            np.testing.assert_allclose(g["variances"], w["variances"],
                                       rtol=0, atol=REF_TOL)
            assert abs(g["intercept_variance"] - w["intercept_variance"]) <= REF_TOL
    if prior_model is not None:
        prior_model.unpersist()


# --- output side of one Arrow batch --------------------------------------

SAMPLE = pa.struct([
    ("idx", pa.list_(pa.int64())), ("val", pa.list_(pa.float64())),
    ("y", pa.float64()), ("w", pa.float64()), ("o", pa.float64()),
])


def _entity_batch(n_entities, dim, seed=0):
    """One mapInArrow input batch: entity e has 3 + e % 4 rows with two
    nonzeros each."""
    rng = np.random.default_rng(seed)
    rows = [
        [
            {"idx": sorted(rng.choice(dim, 2, replace=False).tolist()),
             "val": rng.normal(size=2).tolist(), "y": float(rng.random() < 0.5),
             "w": 1.0, "o": 0.0}
            for _ in range(3 + e % 4)
        ]
        for e in range(n_entities)
    ]
    return pa.RecordBatch.from_pydict(
        {"__entity": [f"e{e}" for e in range(n_entities)], "__rows": rows},
        schema=pa.schema([("__entity", pa.string()), ("__rows", pa.list_(SAMPLE))]),
    )


def test_wide_batch_output_is_flushed(spark, monkeypatch):
    """A batch's fitted vectors go out once entities × dim reaches
    _FLUSH_DOUBLES: several RecordBatches that together equal the
    unsplit output (entities dropped by min_samples included). The
    session is only needed to parse the DDL schema."""
    dim = 8
    batch = _entity_batch(12, dim)
    solve = functools.partial(
        random_effects._solve_batches, dim=dim, min_samples=4, project=False,
        lower=None, upper=None,
        schema=to_arrow_schema(StructType.fromDDL(random_effects.MODEL_SCHEMA_VAR)),
        kernel=dict(family="binomial", l2=1.0, max_iter=50, tol=1e-8,
                    compute_variance="full"),
    )
    whole = list(solve([batch]))
    assert [b.num_rows for b in whole] == [9]  # e % 4 == 0 has 3 rows
    monkeypatch.setattr(random_effects, "_FLUSH_DOUBLES", 3 * dim)
    split = list(solve([batch]))
    assert [b.num_rows for b in split] == [3, 3, 3]
    assert pa.Table.from_batches(split).equals(pa.Table.from_batches(whole))


def test_vectors_refuse_int32_offset_overflow():
    half = np.broadcast_to(0.0, (2**30,))  # no memory behind it
    with pytest.raises(OverflowError):
        random_effects._vectors([half, half], pa.list_(pa.float64()))
