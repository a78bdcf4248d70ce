"""Lifetime of persisted and checkpointed frames (``materialize``): a
scope releases what it owns on exit, a CacheManager entry shared by
several owners survives until the last one lets go, ``release`` frees
either kind early, and the CD loop leaves only the RE model tables it
returns."""

import threading

import pytest
from pyspark.sql import functions as F

from photon_ml_spark import materialize
from photon_ml_spark.functions import metrics


def _scored(spark, n, mult, mod):
    return spark.range(n).select(
        (F.col("id") * mult % mod).cast("double").alias("score"),
        (F.col("id") % 2).cast("double").alias("label"),
    )


def _rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_metric_trio_shares_one_entry(spark):
    """AUC, AUPR and peak-F1 over one scored frame persist plan-
    identical tie-group relations: they share ONE cached entry, which
    stays hot for repeated calls and is gone once the scope exits."""
    df = _scored(spark, 500, 13, 89)
    before = _rdd_ids(spark)
    with materialize.scope():
        a = metrics.auroc(df).first().auroc
        metrics.aupr(df).first()
        metrics.peak_f1(df).first()
        assert len(_rdd_ids(spark) - before) == 1
        assert metrics.auroc(df).first().auroc == a
        assert len(_rdd_ids(spark) - before) == 1
    assert not (_rdd_ids(spark) - before)
    with materialize.scope():
        assert metrics.auroc(df).first().auroc == a


def test_scope_releases_on_exception(spark):
    """A scope left by an exception releases what it owns like a clean
    exit, and a later evaluation reproduces the value exactly."""
    df = _scored(spark, 300, 7, 101)
    before = _rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with materialize.scope():
            value = metrics.auroc(df).first().auroc
            assert _rdd_ids(spark) - before
            raise RuntimeError("boom")
    assert not (_rdd_ids(spark) - before)
    with materialize.scope():
        assert metrics.auroc(df).first().auroc == value


def test_shared_entry_survives_first_owner_exit(spark):
    """Two scopes (on two driver threads) persisting a plan-identical
    frame share one CacheManager entry: the first scope to exit must
    not drop data the other still reads."""
    df = _scored(spark, 300, 11, 103)
    before = _rdd_ids(spark)
    with materialize.scope():
        metrics.auroc(df).first()
        shared = _rdd_ids(spark) - before
        assert len(shared) == 1

        errors = []

        def other_owner():
            try:
                with materialize.scope():
                    metrics.aupr(df).first()
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        t = threading.Thread(target=other_owner)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive() and not errors, errors
        assert shared <= _rdd_ids(spark)
    assert not (_rdd_ids(spark) - before)


def test_owner_count_survives_thread_races(spark):
    """Eight threads persist and release one plan-identical frame in
    their own scopes with a tiny switch interval. Every owner must find the entry cached while it holds
    it (a lost increment would let another owner drop it early), and
    the entry must be gone once the last owner exits (a lost decrement
    would keep it forever)."""
    import sys

    def plan():
        return spark.range(100).selectExpr("id * 19 AS x")

    errors = []

    def owner():
        try:
            for _ in range(5):
                with materialize.scope():
                    held = materialize.persist(plan())
                    assert held.storageLevel.useDisk, "dropped while held"
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=owner) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert not plan().storageLevel.useDisk


def test_nested_scope_releases_only_its_own(spark):
    """An inner scope releases its frames on exit and leaves the outer
    scope's entries registered and hot."""
    outer_df = _scored(spark, 400, 11, 103)
    inner_df = _scored(spark, 250, 17, 107)
    before = _rdd_ids(spark)
    with materialize.scope():
        metrics.auroc(outer_df).first()
        outer = _rdd_ids(spark) - before
        with materialize.scope():
            metrics.auroc(inner_df).first()
            assert len(_rdd_ids(spark) - before) == 2
        assert _rdd_ids(spark) - before == outer
    assert not (_rdd_ids(spark) - before)


def test_release_frees_either_kind(spark):
    """``release`` unpersists a persisted frame and drops the RDD
    blocks of a checkpointed one (on which ``unpersist()`` is a no-op);
    a frame the module did not materialize is left alone."""
    before = _rdd_ids(spark)
    with materialize.scope():
        cached = materialize.persist(spark.range(50).selectExpr("id*3 AS x"))
        cached.count()
        ckpt = materialize.checkpoint(spark.range(60).selectExpr("id*5 AS x"))
        assert len(_rdd_ids(spark) - before) == 2
        materialize.release(ckpt)
        assert len(_rdd_ids(spark) - before) == 1
        materialize.release(cached)
        assert not cached.storageLevel.useMemory
        assert not (_rdd_ids(spark) - before)
        materialize.release(spark.range(5))  # lazy: nothing to free


def test_train_game_leaves_only_re_model_tables(spark):
    """After train_game returns, the only new pinned frames are the
    returned RE model tables — score generations, summed generations
    and the training cache are released inside the call. The tables
    belong to the caller's scope and go with it."""
    from photon_ml_spark.ml import coordinate_descent as cd

    df = spark.range(600).select(
        F.col("id").alias("uid"),
        (F.col("id") % 3).cast("double").alias("response"),
        F.lit(0.0).alias("offset"),
        F.lit(1.0).alias("weight"),
        (F.col("id") % 7).cast("string").alias("ent"),
        F.array(F.lit(0).cast("long")).alias("fi"),
        F.array((F.col("id") % 5).cast("double")).alias("fv"),
    )
    before = _rdd_ids(spark)
    with materialize.scope():
        model, _ = cd.train_game(
            df,
            coordinates=[
                cd.CoordinateConfig(name="g", kind="fixed", dim=1,
                                    indices_col="fi", values_col="fv"),
                cd.CoordinateConfig(name="r", kind="random", dim=1,
                                    entity_col="ent", reg_param=1.0,
                                    indices_col="fi", values_col="fv"),
            ],
            family="gaussian", n_iterations=2,
        )
        re_table = model.coordinates["r"]
        re_rdd = re_table._jdf.queryExecution().analyzed().rdd().id()
        assert _rdd_ids(spark) - before == {re_rdd}
        assert re_table.count() == 7
    assert not (_rdd_ids(spark) - before)
