"""Source/scoring odds and ends: LibSVM scan (S6), score subtraction
(J11 '-'), daily path resolution edge cases (S7/F4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from photon_ml_spark.ml.scoring import add_scores
from photon_ml_spark.sources.datasets import daily_paths, read_libsvm


def test_read_libsvm(spark, tmp_path):
    p = tmp_path / "data.libsvm"
    p.write_text("1 1:0.5 3:1.25\n0 2:2.0\n1 1:-1.0 2:0.25 3:3.0\n")
    df = read_libsvm(spark, str(p), num_features=3)
    rows = df.orderBy(F.desc("label")).collect()
    assert [r.label for r in rows] == [1.0, 1.0, 0.0]
    dense = [r.features.toArray().tolist() for r in rows]
    assert [0.5, 0.0, 1.25] in dense and [0.0, 2.0, 0.0] in dense


def test_add_scores_subtract_sign(spark):
    a = spark.createDataFrame([(1, 5.0), (2, 3.0)], "uid long, score double")
    b = spark.createDataFrame([(2, 1.0), (3, 4.0)], "uid long, score double")
    out = {
        r.uid: r.score
        for r in add_scores(a, b, sign=-1).collect()
    }
    # full outer: missing side counts 0 (DataScores.scala '-')
    assert out == {1: 5.0, 2: 2.0, 3: -4.0}


def test_daily_paths_single_day_and_span(spark):
    one = daily_paths(spark, "2024-02-29", "2024-02-29").collect()
    assert [r.path for r in one] == ["daily/2024/02/29"]
    span = daily_paths(spark, "1999-12-30", "2000-01-02").collect()
    assert [r.path for r in span] == [
        "daily/1999/12/30", "daily/1999/12/31",
        "daily/2000/01/01", "daily/2000/01/02",
    ]


# ------------------------------------------------- hashing-trick path


def test_assemble_shard_hashed_collision_sum_and_fit(spark):
    """The hashing trick must (a) map features to hash(key) mod dim,
    (b) SUM colliding features' values, and (c) feed the fixed-effect
    fit without a dictionary. dim=1 forces EVERY feature into index 0,
    so the assembled value must be the row's total feature mass."""
    from photon_ml_spark.datamodel import FeatureShardConfig
    from photon_ml_spark.ml import glm
    from photon_ml_spark.sources.featurize import (
        assemble_shard_hashed,
        hashed_feature_index,
        portable_feature_hash,
    )

    rows = [
        (1, 1.0, [("a", "x", 1.0), ("b", "y", 2.0), ("c", "z", 4.0)]),
        (2, 0.0, [("a", "x", 8.0)]),
    ]
    df = spark.createDataFrame(
        [
            (uid, resp, [{"name": n, "term": t, "value": v} for n, t, v in bag])
            for uid, resp, bag in rows
        ],
        "uid long, response double, "
        "features array<struct<name string, term string, value double>>",
    )
    shard = FeatureShardConfig("features", ["features"])
    out = assemble_shard_hashed(df, shard, dim=1)
    got = {r.uid: (list(r.features_indices), list(r.features_values))
           for r in out.collect()}
    assert got[1] == ([0], [7.0])  # 1+2+4 summed into the single bucket
    assert got[2] == ([0], [8.0])

    # wide dim: distinct keys land on distinct buckets here, and the
    # indices match the portable hash mod dim
    wide = assemble_shard_hashed(df, shard, dim=1 << 20)
    keys = ["a\x01x", "b\x01y", "c\x01z"]
    hexp = {
        r.feature_key: r.idx
        for r in spark.createDataFrame([(k,) for k in keys], "feature_key string")
        .select("feature_key",
                hashed_feature_index(F.col("feature_key"), 1 << 20).alias("idx"))
        .collect()
    }
    r1 = {r.uid: r for r in wide.collect()}[1]
    assert sorted(r1.features_indices) == sorted(hexp[k] for k in keys)

    # end-to-end: a hashed frame fits a GLM with no dictionary state
    # (dim 4096 = spark.ml GLR's feature ceiling; wider hashed spaces
    # go through the custom distributed solvers, same as any wide fit)
    hashed4k = assemble_shard_hashed(df, shard, dim=4096)
    m = glm.fit_fixed_effect(
        hashed4k.withColumn("offset", F.lit(0.0)).withColumn(
            "weight", F.lit(1.0)
        ),
        dim=4096, family="gaussian", reg_param=1.0,
    )
    assert m.dim == 4096


def test_portable_feature_hash_reference_values(spark):
    """Pin the hash function itself: h('ab') = (0*31+97)*31+98 mod p."""
    from photon_ml_spark.sources.featurize import portable_feature_hash

    got = {
        r.k: r.h
        for r in spark.createDataFrame(
            [("ab",), ("a\x01b",)], "k string"
        ).select("k", portable_feature_hash(F.col("k")).alias("h")).collect()
    }
    assert got["ab"] == (97 * 31 + 98) % 1_000_000_007
    assert got["a\x01b"] == ((97 * 31 + 1) * 31 + 98) % 1_000_000_007


def test_wide_fit_routes_past_glr_ceiling(spark):
    """dim > 4096 with a pure-L2 objective must route to the custom
    distributed solver instead of crashing on GLR's feature cap."""
    from photon_ml_spark.ml import glm

    dim = 5000
    df = spark.range(400).selectExpr(
        "id AS uid",
        f"array(CAST(id % {dim} AS LONG)) AS features_indices",
        "array(CAST(1.0 + id % 7 AS DOUBLE)) AS features_values",
        "CAST(2.0 * (1.0 + id % 7) AS DOUBLE) AS response",
        "CAST(0.0 AS DOUBLE) AS offset",
        "CAST(1.0 AS DOUBLE) AS weight",
    )
    m = glm.fit_fixed_effect(
        df, dim=dim, family="gaussian", reg_param=0.0, tol=1e-9
    )
    assert m.meta["optimizer"] == "lbfgs"
    assert m.dim == dim
    # each active index saw one (x, 2x) pair: coef ~2 (with intercept
    # soaking up nothing since data is exactly linear through origin
    # ... up to the unpenalized intercept's freedom; check prediction)
    import numpy as np

    active = df.limit(5).collect()
    for r in active:
        pred = m.coefficients[r.features_indices[0]] * r.features_values[0] + m.intercept
        assert abs(pred - r.response) < 1e-3


def test_build_feature_dictionary_selected_features(spark):
    """GLMSuite selected-features allowlist parity: only allowlisted
    keys enter the dictionary; assembly then drops the rest."""
    from photon_ml_spark.datamodel import (
        FEATURE_KEY_SEP as S,
        FeatureShardConfig,
        INTERCEPT_KEY,
    )
    from photon_ml_spark.sources.featurize import (
        assemble_shard,
        build_feature_dictionary,
    )

    df = spark.createDataFrame(
        [
            (1, [{"name": "a", "term": "x", "value": 1.0},
                 {"name": "b", "term": "y", "value": 2.0},
                 {"name": "c", "term": "z", "value": 3.0}]),
        ],
        "uid long, features array<struct<name string, term string, value double>>",
    )
    allow = spark.createDataFrame(
        [(f"a{S}x",), (f"c{S}z",)], "feature_key string"
    )
    d = build_feature_dictionary(df, ["features"], selected_features=allow)
    keys = {r.feature_key for r in d.collect()}
    assert keys == {f"a{S}x", f"c{S}z", INTERCEPT_KEY}
    out = assemble_shard(
        df, d, FeatureShardConfig("features", ["features"]), strategy="map"
    ).first()
    assert len(out.features_indices) == 2  # b:y dropped
    assert sorted(out.features_values) == [1.0, 3.0]


def test_spread_scan_guard_and_validation(spark):
    """spread_scan: no-op at/above target; an explicit 0 (or negative)
    is an error, not a silent fall-through to defaultParallelism."""
    import pytest

    from photon_ml_spark.sources.datasets import spread_scan

    df = spark.range(100).repartition(2)
    assert spread_scan(df, min_partitions=8).rdd.getNumPartitions() == 8
    # already at target → untouched (same partition count, no shuffle)
    assert spread_scan(df, min_partitions=2).rdd.getNumPartitions() == 2
    for bad in (0, -3):
        with pytest.raises(ValueError):
            spread_scan(df, min_partitions=bad)


def _bag_frame(spark, rows):
    return spark.createDataFrame(
        rows,
        "uid long, a array<struct<name string, term string, value double>>, "
        "b array<struct<name string, term string, value double>>",
    )


def _dictionary_rows(d):
    return [tuple(r) for r in d.orderBy("feature_index").collect()]


# keys whose order differs between code points, UTF-16 units and
# case-folding: 'B' < 'a', 'z' < 'é' < '｡' (U+FF61) < '😀' (U+1F600, a
# surrogate pair in UTF-16, so before U+FF61 there), plus NULL terms
_KEY_ROWS = [
    (1, [{"name": "a", "term": "x", "value": 1.0},
         {"name": "B", "term": "x", "value": 1.0},
         {"name": "é", "term": None, "value": 1.0}],
        [{"name": "😀", "term": "t", "value": 2.0}]),
    (2, [{"name": "A", "term": "x", "value": 1.0},
         {"name": "｡", "term": "", "value": 1.0}],
        [{"name": "z", "term": "Z", "value": 2.0},
         {"name": "a", "term": "x", "value": 3.0}]),
    (3, [], None),
]


@pytest.mark.parametrize("has_intercept", [True, False])
@pytest.mark.parametrize("selected", [False, True])
def test_local_dictionary_equals_zip_with_index(
    spark, monkeypatch, has_intercept, selected
):
    """The driver-side build (sort in Python) and the over-the-cap JVM
    zipWithIndex build give the same dictionary row for row."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP as S
    from photon_ml_spark.sources import featurize

    df = _bag_frame(spark, _KEY_ROWS)
    allow = (
        spark.createDataFrame(
            [(f"a{S}x",), (f"😀{S}t",), (f"｡{S}",), ("absent",)],
            "feature_key string",
        )
        if selected else None
    )

    def build():
        return featurize.build_feature_dictionary(
            df, ["a", "b"], has_intercept=has_intercept,
            selected_features=allow,
        )

    local = build()
    assert local._jdf.queryExecution().analyzed().toString().startswith(
        "LocalRelation"
    )
    monkeypatch.setattr(featurize, "MAP_STRATEGY_MAX_KEYS", 2)
    distributed = build()
    assert "LocalRelation" not in (
        distributed._jdf.queryExecution().analyzed().toString()
    )
    rows = _dictionary_rows(local)
    assert rows == _dictionary_rows(distributed)
    keys = [k for k, _ in rows if k != "(INTERCEPT)"]
    assert keys == sorted(keys)
    assert len(rows) == (3 if selected else 7) + has_intercept


@pytest.mark.parametrize("has_intercept", [True, False])
def test_empty_dictionary_both_paths(spark, monkeypatch, has_intercept):
    from photon_ml_spark.sources import featurize

    df = _bag_frame(spark, _KEY_ROWS).limit(0)
    local = _dictionary_rows(
        featurize.build_feature_dictionary(df, ["a", "b"], has_intercept)
    )
    # a bound of -1 real keys sends even an empty key set to zipWithIndex
    monkeypatch.setattr(
        featurize, "MAP_STRATEGY_MAX_KEYS", int(has_intercept) - 1
    )
    zipped = []
    zip_with_index = featurize.zip_with_index
    monkeypatch.setattr(
        featurize, "zip_with_index",
        lambda *a, **k: zipped.append(1) or zip_with_index(*a, **k),
    )
    distributed = _dictionary_rows(
        featurize.build_feature_dictionary(df, ["a", "b"], has_intercept)
    )
    assert zipped
    assert local == distributed == (
        [("(INTERCEPT)", 0)] if has_intercept else []
    )


def test_local_dictionary_job_count(spark, spark_jobs):
    """One bounded collect builds a small dictionary (the zipWithIndex
    build ran a range checkpoint and a stats collect besides), and
    re-reading it runs no job at all."""
    from photon_ml_spark.sources import featurize

    df = _bag_frame(spark, _KEY_ROWS)
    built = []
    n = spark_jobs(
        lambda: built.append(
            featurize.build_feature_dictionary(df, ["a", "b"])
        )
    )
    assert n <= 2
    d = built[0]
    assert spark_jobs(d.collect) == 0
    assert spark_jobs(lambda: d.limit(10).collect()) == 0
