"""Model save/load round-trip (S9/P10) + scored sink (S8/T6)."""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from photon_ml_spark.datamodel import FeatureShardConfig
from photon_ml_spark.ml.coordinate_descent import CoordinateConfig, train_game
from photon_ml_spark.sources import datasets, featurize, model_io


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    training = datasets.lineitem_training_frame(spark, sf_dir)
    dictionary = featurize.build_feature_dictionary(
        training, ["features"], has_intercept=True
    )
    shard = FeatureShardConfig("features", ["features"])
    assembled = featurize.assemble_shard(training, dictionary, shard).cache()
    coords = [
        CoordinateConfig(name="global", kind="fixed", dim=5),
        CoordinateConfig(
            name="per-supplier", kind="random", dim=5, entity_col="suppkey",
            reg_param=10.0, min_samples=5,
        ),
    ]
    model, _ = train_game(assembled, coords, family="binomial", n_iterations=1)
    return model, assembled, dictionary


def test_round_trip(spark, trained, tmp_path_factory):
    model, assembled, dictionary = trained
    path = str(tmp_path_factory.mktemp("game_model"))
    model_io.save_game_model(model, path, spark, dictionary=dictionary)
    assert os.path.exists(f"{path}/metadata.json")

    loaded = model_io.load_game_model(path, spark)
    assert set(loaded.coordinates) == set(model.coordinates)
    np.testing.assert_allclose(
        loaded.coordinates["global"].coefficients,
        model.coordinates["global"].coefficients,
        rtol=1e-12,
    )
    # scores from loaded model match original bit-for-bit
    a = model.score(assembled).select("uid", "score")
    b = loaded.score(assembled).select("uid", F.col("score").alias("score2"))
    d = (
        a.join(b, "uid")
        .agg(F.max(F.abs(F.col("score") - F.col("score2"))).alias("d"))
        .first()
        .d
    )
    assert d < 1e-12


def test_sparsification(spark, trained, tmp_path_factory):
    model, _, _ = trained
    path = str(tmp_path_factory.mktemp("sparse_model"))
    model_io.save_game_model(model, path, spark, sparsity_threshold=1e9)
    loaded = model_io.load_game_model(path, spark)
    assert np.all(loaded.coordinates["global"].coefficients == 0.0)


def test_save_scores_file_limit(spark, trained, tmp_path_factory):
    model, assembled, _ = trained
    path = str(tmp_path_factory.mktemp("scores")) + "/out"
    scored = model.score(assembled).select("uid", "score")
    model_io.save_scores(scored, path, output_files_limit=1)
    parts = glob.glob(f"{path}/part-*")
    assert len(parts) == 1
    assert spark.read.parquet(path).count() == assembled.count()


def test_legacy_glm_text_round_trip(spark, trained, tmp_path):
    """Legacy text model format (README "Models",
    IOUtils.scala writeModelsInText): name\tterm\tcoef\tlambda lines,
    coefficients sorted desc within each model's partition."""
    model, _, dictionary = trained
    fixed = model.coordinates["global"]
    path = str(tmp_path / "glm_text")
    model_io.save_glm_text(
        [(10.0, fixed), (1.0, fixed)], dictionary, path, spark
    )
    back = model_io.load_glm_text(spark, path)
    rows = back.collect()
    dim = len(fixed.coefficients)
    assert len(rows) == 2 * dim
    assert {r.reg_weight for r in rows} == {10.0, 1.0}
    by_lam = {}
    for r in rows:
        by_lam.setdefault(r.reg_weight, []).append(r.coefficient)
    for lam, coefs in by_lam.items():
        assert sorted(coefs, reverse=True) == sorted(
            (float(c) for c in fixed.coefficients), reverse=True
        )
    # per-model contiguity + desc sort survive in the raw text lines:
    # each λ's lines form one contiguous run, coefficient-desc within it
    for part in glob.glob(f"{path}/part-*"):
        with open(part) as fh:
            lam_coef = [
                (line.split("\t")[3], float(line.split("\t")[2]))
                for line in fh
                if line.strip()
            ]
        lams = [l for l, _ in lam_coef]
        runs = [l for i, l in enumerate(lams) if i == 0 or lams[i - 1] != l]
        assert len(runs) == len(set(runs))  # contiguous per λ
        for lam in set(lams):
            vals = [c for l, c in lam_coef if l == lam]
            assert vals == sorted(vals, reverse=True)
    # name/term split round-trips the dictionary's feature keys
    keys = {
        (r.name, r.term)
        for r in back.filter(F.col("reg_weight") == 10.0).collect()
    }
    assert len(keys) == dim


def test_save_scores_model_id_tag(spark, tmp_path):
    """model_id tags every scored row (GameScoringDriver modelId)."""
    from photon_ml_spark.sources.model_io import save_scores

    df = spark.range(10).selectExpr("id AS uid", "CAST(id AS DOUBLE) AS score")
    out = str(tmp_path / "scores")
    save_scores(df, out, model_id="m-2026-08-15")
    back = spark.read.parquet(out)
    assert back.filter("model_id = 'm-2026-08-15'").count() == 10
    # untagged path keeps the slim schema
    out2 = str(tmp_path / "scores2")
    save_scores(df, out2)
    assert "model_id" not in spark.read.parquet(out2).columns


def test_export_random_effects_reference_layout_roundtrip(spark, tmp_path):
    """save_photon_game_model → load_photon_game_model round-trips a
    mixed model (fixed + random) through the reference's Avro layout:
    per-entity vectors and intercepts survive exactly (small synthetic
    model — the golden-scale export is exercised implicitly by the
    same code paths)."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from photon_ml_spark.datamodel import FEATURE_KEY_SEP as S
    from photon_ml_spark.ml.coordinate_descent import (
        CoordinateConfig,
        GameModel,
    )
    from photon_ml_spark.ml.glm import FixedEffectGLM
    from photon_ml_spark.sources.model_io import (
        load_photon_game_model,
        save_photon_game_model,
    )

    d = spark.createDataFrame(
        [(f"f{S}t{i}", i) for i in range(4)],
        "feature_key string, feature_index long",
    )
    model = GameModel(family="gaussian")
    model.configs["global"] = CoordinateConfig(
        name="global", kind="fixed", dim=4,
        indices_col="s1_indices", values_col="s1_values",
    )
    model.coordinates["global"] = FixedEffectGLM(
        family="gaussian",
        coefficients=np.array([0.5, 0.0, -1.25, 2.0]),
        intercept=3.5, dim=4,
    )
    model.configs["per_e"] = CoordinateConfig(
        name="per_e", kind="random", dim=4, entity_col="eid",
        indices_col="s1_indices", values_col="s1_values",
    )
    model.coordinates["per_e"] = spark.createDataFrame(
        [("e1", [1.0, 0.0, 0.0, -2.0], 0.25),
         ("e2", [0.0, 0.5, 0.0, 0.0], -1.0)],
        "entity string, coefficients array<double>, intercept double",
    )
    out = str(tmp_path / "ref_export")
    save_photon_game_model(model, {"s1": d}, out, spark)

    back, dicts = load_photon_game_model(spark, out, family="gaussian")
    assert set(back.configs) == {"global", "per_e"}
    assert back.configs["per_e"].entity_col == "eid"
    g = back.coordinates["global"]
    assert g.intercept == pytest.approx(3.5)
    # the reloaded dictionary covers only keys with NONZERO means —
    # map coefficients back through keys for comparison
    got = {
        r.feature_key: float(g.coefficients[r.feature_index])
        for r in dicts["s1"].collect()
    }
    # f\x01t1 enters the shared-shard dictionary through e2's random
    # mean; the fixed vector holds 0.0 there — correct slot, no mass
    assert got == {
        f"f{S}t0": pytest.approx(0.5),
        f"f{S}t1": pytest.approx(0.0),
        f"f{S}t2": pytest.approx(-1.25),
        f"f{S}t3": pytest.approx(2.0),
    }
    re = {
        r.entity: (list(r.coefficients), r.intercept)
        for r in back.coordinates["per_e"].collect()
    }
    assert re["e1"][1] == pytest.approx(0.25)
    assert re["e2"][1] == pytest.approx(-1.0)
    # nonzero mass survives (slots re-indexed by the reloaded space)
    assert sorted(x for x in re["e1"][0] if x != 0) == [-2.0, 1.0]
    assert sorted(x for x in re["e2"][0] if x != 0) == [0.5]


def _layout(root):
    """Directories and non-data files under ``root``, relative to it."""
    out = set()
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        out.add(rel)
        out |= {
            os.path.normpath(os.path.join(rel, f)) for f in files
            if not f.startswith(("part-", ".", "_"))
        }
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.mark.parametrize("multi_shard", [False, True], ids=["flat", "shards"])
def test_feature_space_round_trip(spark, tmp_path, multi_shard):
    """write_feature_space + read_feature_space round-trip either
    layout: the saved tree, the dictionary rows and the shard specs;
    a labeled variance table gains its dictionary's feature keys."""
    dicts = {
        "a": spark.createDataFrame(
            [("x\u0001", 0), ("(INTERCEPT)", 1)],
            "feature_key string, feature_index long",
        ),
        "b": spark.createDataFrame(
            [("y\u0001t", 0)], "feature_key string, feature_index long"
        ),
    }
    variances = {
        "global": spark.createDataFrame(
            [(0, 0.5), (1, 2.0)], "feature_index long, variance double"
        )
    }
    specs = {
        "a": {"bags": ["bag_a"], "has_intercept": True},
        "b": {"bags": ["bag_b", "bag_c"], "has_intercept": False},
    }
    if not multi_shard:
        dicts, specs = {"a": dicts["a"]}, None
    path = str(tmp_path / "model")
    model_io.write_feature_space(
        spark, path, specs, dicts, variances, {"global": dicts["a"]}
    )

    saved = (
        {"feature-dictionaries", "feature-dictionaries/a",
         "feature-dictionaries/b", "feature-shards.json"}
        if multi_shard else {"feature-dictionary"}
    )
    assert _layout(path) == {
        ".", "fixed-effect", "fixed-effect/global",
        "fixed-effect/global/variances",
    } | saved
    got_specs, got = model_io.read_feature_space(spark, path, flat_shard="a")
    assert got_specs == specs
    assert sorted(got) == sorted(dicts)
    for s, d in dicts.items():
        assert _rows(got[s]) == _rows(d)
    got_v = model_io.read_variance_tables(spark, path, ["global", "other"])
    assert sorted(got_v) == ["global"]
    assert _rows(got_v["global"]) == [
        (0, "x\u0001", 0.5), (1, "(INTERCEPT)", 2.0)
    ]


def test_feature_space_missing_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no saved feature dictionary"):
        model_io.read_feature_space(spark, str(tmp_path))
