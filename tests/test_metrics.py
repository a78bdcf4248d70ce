"""The drivers' AUROC/AUPR (``metrics.roc_areas``): one bounded collect
of the tie groups and a numpy integration, equal to the DataFrame
``auroc``/``aupr`` on every input shape, and the DataFrame metrics
above the bound."""

import math

import numpy as np
import pytest

from photon_ml_spark import cli
from photon_ml_spark.functions import metrics
from photon_ml_spark.materialize import scope

NAN, INF = float("nan"), float("inf")


def _frame(spark, case, n=300, seed=0):
    """(score, label, w) rows with score ties (one decimal); ``case``
    adds NULL, NaN and infinite scores and non-unit weights."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        s = float(np.round(rng.normal(), 1))
        if "null" in case and i % 17 == 0:
            s = None
        if "nan" in case and i % 23 == 0:
            s = NAN
        if "inf" in case and i % 29 == 0:
            s = INF if i % 2 else -INF
        w = float(rng.integers(1, 5)) if "weights" in case else 1.0
        rows.append((s, float(rng.random() < 0.4), w))
    return spark.createDataFrame(rows, "score double, label double, w double")


def _dataframe_areas(df):
    with scope():
        return {
            "auroc": metrics.auroc(df, weight="w").first()[0],
            "aupr": metrics.aupr(df, weight="w").first()[0],
        }


@pytest.mark.parametrize(
    "case", ["ties", "weights", "null", "nan", "null_nan_inf_weights"]
)
def test_local_areas_match_dataframe_metrics(spark, case):
    """NULL scores sweep last and NaN first, as ``ORDER BY score DESC``
    orders them, in both implementations (a NULL-only case spans many
    score buckets of the DataFrame plan)."""
    df = _frame(spark, case)
    want = _dataframe_areas(df)
    got = metrics.roc_areas(df, weight="w")
    for name in ("auroc", "aupr"):
        assert got[name] == pytest.approx(want[name], abs=1e-12), name


def test_over_the_cap_runs_the_dataframe_metrics(spark, monkeypatch):
    df = _frame(spark, "weights")
    local = metrics.roc_areas(df, weight="w")
    called = []
    monkeypatch.setattr(metrics, "LOCAL_ROC_MAX_GROUPS", 2)
    monkeypatch.setattr(
        metrics, "_local_areas", lambda g: called.append(g) or {}
    )
    fallback = metrics.roc_areas(df, weight="w")
    assert not called
    for name in ("auroc", "aupr"):
        assert fallback[name] == pytest.approx(local[name], abs=1e-12)


def test_over_the_cap_scans_the_input_once(spark, monkeypatch):
    """The fallback reads the tie groups the bounded collect cached: each
    input row is evaluated once, not once more by the DataFrame plans."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    def tick(s):
        seen.add(1)
        return s

    traced = F.udf(tick, "double").asNondeterministic()
    df = _frame(spark, "weights")
    df = df.withColumn("score", traced("score"))
    monkeypatch.setattr(metrics, "LOCAL_ROC_MAX_GROUPS", 2)
    metrics.roc_areas(df, weight="w")
    assert seen.value == 300


def test_undefined_areas_are_none(spark):
    one_class = spark.createDataFrame(
        [(0.3, 1.0), (0.7, 1.0)], "score double, label double"
    )
    assert metrics.roc_areas(one_class) == {"auroc": None, "aupr": 1.0}
    no_positives = spark.createDataFrame(
        [(0.3, 0.0)], "score double, label double"
    )
    assert metrics.roc_areas(no_positives) == {"auroc": None, "aupr": None}
    empty = no_positives.limit(0)
    assert metrics.roc_areas(empty) == {"auroc": None, "aupr": None}
    # the drivers turn an undefined area into their documented error
    with pytest.raises(ValueError, match="undefined on this data"):
        cli._evaluate_scores(
            one_class.withColumnRenamed("label", "response"), ["AUC"]
        )


def test_dataframe_metrics_are_null_on_one_class(spark, monkeypatch):
    """Under ANSI a plain divide by a zero class total raises
    DIVIDE_BY_ZERO; the DataFrame metrics return NULL instead, as
    ``roc_areas`` does below and above its bound."""
    one_class = spark.createDataFrame(
        [(0.3, 1.0), (0.7, 1.0)], "score double, label double"
    )
    with scope():
        assert metrics.auroc(one_class).first()[0] is None
        assert metrics.aupr(one_class).first()[0] == 1.0
        assert metrics.peak_f1(one_class).first()[0] == 1.0
        no_positives = one_class.withColumn("label", one_class.label * 0)
        assert metrics.auroc(no_positives).first()[0] is None
        assert metrics.aupr(no_positives).first()[0] is None
    monkeypatch.setattr(metrics, "LOCAL_ROC_MAX_GROUPS", 1)
    assert metrics.roc_areas(one_class) == {"auroc": None, "aupr": 1.0}


def test_perfect_ranking(spark):
    df = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 1.0), (0.2, 0.0), (0.1, 0.0)],
        "score double, label double",
    )
    got = metrics.roc_areas(df)
    assert math.isclose(got["auroc"], 1.0) and math.isclose(got["aupr"], 1.0)


def test_local_auc_job_count(spark, spark_jobs):
    """One bounded collect: the tie-group shuffle, the cache of its
    result and the collect (the DataFrame ``auroc`` runs ~20 jobs on the
    same frame)."""
    df = _frame(spark, "weights").cache()
    df.count()
    assert spark_jobs(lambda: metrics.roc_areas(df, weight="w")) <= 3
    df.unpersist()
