"""Golden-fixture interop: read the reference toolchain's REAL Avro
artifacts (photon-client/src/integTest/resources — produced by the
reference's own writer stack, never by this engine) through the public
readers, then train/score on them.

Self-round-trips prove our reader can read our writer; these tests
prove the engine reads what the reference's users actually have on
disk: wide-union writer schemas (heart.avro label:
[double,float,int,long,boolean,string]), Pig-generated nullable-
everything schemas (poisson_test.avro), renamed columns
(diff-col-names.avro — InputColumnsNames), and the golden pre-trained
GAME models (GameIntegTest/retrainModels BayesianLinearModelAvro).

Expectations come from the reference's own integ tests
(DriverTest.scala:881-903 HEART_EXPECTED_*; the fixtures are treated
as DATA only).
"""

import json
import os
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from photon_ml_spark.sources.avro_io import read_avro, read_training_examples

RES = "/root/reference/photon-client/src/integTest/resources"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(RES),
    reason=f"reference toolchain resources directory {RES} is absent",
)
DRIVER_IN = f"{RES}/DriverIntegTest/input"
GAME = f"{RES}/GameIntegTest"

# DriverTest.scala:883-884
HEART_ROWS = 250
HEART_FEATURES = 13  # + intercept = the reference's expected 14


def test_heart_avro_reads_canonically(spark):
    """heart.avro (wide-union TrainingExample writer schema) resolves
    against the canonical TrainingExampleAvro reader schema: 250 rows,
    13 distinct feature keys, weight/offset defaults applied."""
    df = read_training_examples(spark, f"{DRIVER_IN}/heart.avro")
    assert df.count() == HEART_ROWS
    nf = (
        df.select(F.explode("features").alias("f"))
        .select("f.name", "f.term")
        .distinct()
        .count()
    )
    assert nf == HEART_FEATURES
    r = df.filter(F.col("response").isin(0.0, 1.0)).count()
    assert r == HEART_ROWS  # labels are the int union branch, coerced
    w = df.select(F.min("weight"), F.max("weight")).first()
    assert w == (1.0, 1.0)  # writer nulls → reader default
    # a known record: first row carries feature "1" = 70.0
    f0 = df.select(F.explode("features").alias("f")).filter(
        (F.col("f.name") == "1") & (F.col("f.value") == 70.0)
    )
    assert f0.count() > 0


def test_heart_avro_inferred_schema_union_rules(spark):
    """Without a reader schema, wide unions resolve by the reference's
    precedence (AvroDataReader.scala:398-427): label (contains string)
    → string, weight/offset (numeric union) → double, uid → string."""
    df = read_avro(spark, f"{DRIVER_IN}/heart.avro")
    dt = dict(df.dtypes)
    assert dt["label"] == "string"
    assert dt["weight"] == "double"
    assert dt["offset"] == "double"
    assert dt["uid"] == "string"
    labels = {r.label for r in df.select("label").distinct().collect()}
    assert labels <= {"0", "1", "-1"}


def test_empty_features_fixture(spark):
    """empty.avro: 250 rows with EMPTY feature arrays (the reference
    trains an intercept-only model on it — DriverTest.scala:212-216
    expectedNumFeatures=1)."""
    df = read_training_examples(spark, f"{DRIVER_IN}/empty.avro")
    assert df.count() == HEART_ROWS
    assert df.filter(F.size("features") > 0).count() == 0


def test_diff_col_names_column_mapping(spark):
    """different-column-names/diff-col-names.avro through the
    InputColumnsNames override: the_label→response, w→weight,
    intercept→offset, metadata→metadataMap."""
    df = read_training_examples(
        spark,
        f"{DRIVER_IN}/different-column-names/diff-col-names.avro",
        column_names={
            "response": "the_label",
            "weight": "w",
            "offset": "intercept",
            "metadataMap": "metadata",
        },
    )
    assert df.columns == [
        "uid", "response", "weight", "offset", "features", "metadataMap"
    ]
    assert df.count() == HEART_ROWS
    assert dict(df.dtypes)["response"] == "double"
    nf = (
        df.select(F.explode("features").alias("f"))
        .select("f.name", "f.term")
        .distinct()
        .count()
    )
    assert nf == HEART_FEATURES


def test_bad_weight_fixtures_fail_validation(spark):
    """bad-weights/{zero,negative}-weights.avro: the reference rejects
    non-positive weights at validation (DataValidators) — our P4
    validation flags the same rows."""
    from photon_ml_spark.operators.validation import (
        standard_training_checks,
        validate_or_raise,
    )

    for name in ("zero-weights", "negative-weights"):
        df = read_training_examples(
            spark, f"{DRIVER_IN}/bad-weights/{name}.avro"
        )
        bad = df.filter(F.col("weight") <= 0).count()
        assert bad > 0, name
        checks = standard_training_checks(task="logistic", features_col=None)
        with pytest.raises(ValueError, match="n_nonpositive_weight"):
            validate_or_raise(df, checks, mode="full")


def test_pig_style_poisson_fixture(spark):
    """poisson_test.avro (Pig-generated: nullable everything, response
    not label) through the response-prediction reader schema — 4521
    rows, floats widened to double."""
    from photon_ml_spark.sources.avro_io import read_response_predictions

    df = read_response_predictions(spark, f"{DRIVER_IN}/poisson_test.avro")
    assert df.count() == 4521
    dt = dict(df.dtypes)
    assert dt["response"] == "double"
    assert dt["weight"] == "double"  # absent from writer → default 1.0
    w = df.select(F.min("weight"), F.max("weight")).first()
    assert w == (1.0, 1.0)
    assert df.filter(F.col("response") < 0).count() == 0  # counts


def test_linear_regression_fixtures(spark):
    """linear_regression_train/val.avro: 1000 rows each, 7 features
    expected by the reference (LINEAR_EXPECTED_NUM_FEATURES=7 incl.
    intercept → 6 on disk)."""
    tr = read_training_examples(
        spark, f"{DRIVER_IN}/linear_regression_train.avro"
    )
    assert tr.count() == 1000
    nf = (
        tr.select(F.explode("features").alias("f"))
        .select("f.name", "f.term")
        .distinct()
        .count()
    )
    assert nf == 6


def test_wide_union_map_and_anon_record(spark):
    """feed.avro: anonymous record, map values that are 8-branch wide
    unions (incl. bytes + java-string props) — values coerce to
    string, floats stay float."""
    df = read_avro(spark, f"{GAME}/input/avroMap/feed.avro")
    assert df.count() == 2
    dt = dict(df.dtypes)
    assert dt["ids"] == "map<string,string>"
    assert dt["response"] == "float"
    rows = df.select("ids", "uid").collect()
    for r in rows:
        assert r.ids is None or all(
            isinstance(v, (str, type(None))) for v in r.ids.values()
        )


def test_duplicate_features_fixture_dup_check(spark):
    """duplicateFeatures/yahoo-music-train.avro: the reference uses it
    to assert duplicate (name, term) detection — our S2 dup check
    flags the same duplicates."""
    df = read_avro(spark, f"{GAME}/input/duplicateFeatures/yahoo-music-train.avro")
    assert df.count() == 6
    dup_rows = (
        df.withColumn("__rid", F.monotonically_increasing_id())
        .select("__rid", F.explode("features").alias("f"))
        .groupBy("__rid", "f.name", "f.term")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_rows > 0


# ------------------------------------------------------ golden GAME models
def test_golden_fixed_effect_model_loads(spark):
    """retrainModels/fixedEffectsOnly: the golden fixed-effect model's
    coefficients land in the right slots (spot-checked against the raw
    record values read independently)."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.sources.model_io import load_photon_game_model

    model, dicts = load_photon_game_model(
        spark, f"{GAME}/retrainModels/fixedEffectsOnly"
    )
    assert model.family == "gaussian"  # LinearRegressionModel
    assert set(model.configs) == {"global"}
    glm = model.coordinates["global"]
    # 15019 means = intercept + 15018 features (read with read_ocf)
    assert glm.dim == 15018
    assert glm.intercept == pytest.approx(3.6586913834396633)
    # spot-check a named coefficient through the shard dictionary
    # (global's id-info names shard1)
    d = dicts["shard1"]
    idx = (
        d.filter(F.col("feature_key") == f"u{FEATURE_KEY_SEP}1")
        .first()
        .feature_index
    )
    assert glm.coefficients[idx] == pytest.approx(-0.8418923727874964)


def test_golden_mixed_effects_model_loads_and_scores(spark):
    """retrainModels/mixedEffects: fixed + per-artist + per-song load
    with the reference's entity counts; a synthetic frame in the
    loaded dictionary space scores through GameModel.score and the
    fixed margin reproduces the golden coefficients exactly."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.sources.model_io import load_photon_game_model

    model, dicts = load_photon_game_model(
        spark, f"{GAME}/retrainModels/mixedEffects"
    )
    assert set(model.configs) == {"global", "per-artist", "per-song"}
    assert model.configs["per-artist"].entity_col == "artistId"
    assert model.configs["per-song"].entity_col == "songId"
    # shard wiring from id-info: global on shard1; per-artist and
    # per-song SHARE shard2 (one dictionary, one assembled column pair)
    assert model.configs["global"].indices_col == "shard1_indices"
    assert model.configs["per-artist"].indices_col == "shard2_indices"
    assert model.configs["per-song"].indices_col == "shard2_indices"
    assert set(dicts) == {"shard1", "shard2"}
    # entity counts = distinct modelIds in the golden coefficient
    # files (per-artist has 4471 — TWO of its records carry feature
    # means but no intercept entry, because the reference writer
    # sparsity-filters zero coefficients including a 0.0 intercept;
    # the loader keys on modelId, so they load with intercept 0.0
    # instead of being dropped)
    assert model.coordinates["per-artist"].count() == 4471
    assert (
        model.coordinates["per-artist"]
        .filter(F.col("entity").isin("23006", "29566"))
        .filter(F.col("intercept") == 0.0)
        .count()
        == 2
    )
    # per-song: 9427 distinct modelIds, 9 of them intercept-less
    assert model.coordinates["per-song"].count() == 9427

    # score a 2-row frame: one-hot a known shard1 key for the fixed
    # coordinate; shard2 empty → random effects contribute intercepts
    glm = model.coordinates["global"]
    idx_u1 = (
        dicts["shard1"]
        .filter(F.col("feature_key") == f"u{FEATURE_KEY_SEP}1")
        .first()
        .feature_index
    )
    re_art = model.coordinates["per-artist"]
    some = re_art.filter(F.size(F.col("coefficients")) > 0).first()
    frame = spark.createDataFrame(
        [
            (1, [int(idx_u1)], [1.0], [], [], str(some.entity)),
            (2, [], [], [], [], "___unseen_artist___"),
        ],
        "uid long, shard1_indices array<long>, shard1_values "
        "array<double>, shard2_indices array<long>, shard2_values "
        "array<double>, artistId string",
    )
    # score only the coordinates this frame carries entity tags for
    sub = type(model)(family=model.family)
    sub.configs = {
        "global": model.configs["global"],
        "per-artist": model.configs["per-artist"],
    }
    sub.coordinates = {
        "global": glm,
        "per-artist": re_art,
    }
    scored = {r.uid: r.score for r in sub.score(frame).collect()}
    exp_fixed = glm.intercept + glm.coefficients[idx_u1]
    exp_re = float(some.intercept)  # shard2 empty → intercept only
    assert scored[1] == pytest.approx(exp_fixed + exp_re)
    # unseen entity: random-effect contributes 0 (missing → 0)
    assert scored[2] == pytest.approx(glm.intercept)


def test_golden_random_effects_only_model(spark):
    """retrainModels/randomEffectsOnly: per-entity golden vectors are
    sparse in a shared shard space — a known entity's nonzero count
    matches its raw record."""
    from photon_ml_spark.sources.avro_io import read_ocf
    from photon_ml_spark.sources.model_io import load_photon_game_model

    model, dicts = load_photon_game_model(
        spark, f"{GAME}/retrainModels/randomEffectsOnly"
    )
    assert set(model.configs) == {"per-artist", "per-song"}
    # raw record 0 of the per-song coefficients file, independently
    raw = open(
        f"{GAME}/retrainModels/randomEffectsOnly/random-effect/per-song/"
        "coefficients/part-00000.avro", "rb"
    ).read()
    _, recs = read_ocf(raw)
    mid, _, means, _, _ = recs[0]
    exp_nnz = sum(
        1 for n, t, v in means if n != "(INTERCEPT)" and v != 0.0
    )
    row = (
        model.coordinates["per-song"]
        .filter(F.col("entity") == mid)
        .first()
    )
    got_nnz = int(np.count_nonzero(np.asarray(row.coefficients)))
    assert got_nnz == exp_nnz
    exp_intercept = next(
        v for n, t, v in means if n == "(INTERCEPT)"
    )
    assert row.intercept == pytest.approx(exp_intercept)


# ------------------------------------- legacy-driver e2e parity on heart
def test_heart_logistic_driver_e2e(spark, tmp_path, capsys):
    """DriverTest flow on the REAL heart.avro: logistic task, λ sweep
    with warm start across λ (ModelTraining.scala:168-224 — descending
    order, previous model seeds the next fit), validation on
    heart_validation.avro, best-model selection, save→score chain.

    The reference's integ test asserts per-λ model presence and
    selection; convergence discipline here: the training AUROC of the
    best model must beat the intercept-only baseline (0.5) decisively,
    and every λ's model must exist in the report."""
    from photon_ml_spark import cli

    out = str(tmp_path / "heart_model")
    lambdas = [0.1, 1.0, 10.0, 100.0]
    cli.train(
        {
            "input": f"{DRIVER_IN}/heart.avro",
            "input_format": "avro",
            "feature_bags": ["features"],
            "shard": "features",
            "coordinates": [
                {"name": "global", "kind": "fixed"}
            ],
            "family": "binomial",
            "n_iterations": 1,
            "output_dir": out,
            "validation_input": f"{DRIVER_IN}/heart_validation.avro",
            "reg_param_sweep": [{"global": lam} for lam in lambdas],
            "warm_start_sweep": True,
            "output_mode": "best",
            "normalization": "standardization",
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "trained"
    # one result per λ, original indexes preserved (execution order is
    # descending λ under warm start)
    assert {e["index"] for e in rep["sweep"]} == {0, 1, 2, 3}
    exec_lams = [e["config"]["global"] for e in rep["sweep"]]
    assert exec_lams == sorted(exec_lams, reverse=True)
    # heart dictionary: 13 features + intercept = reference's 14
    assert rep["dim"] == 14
    best = rep["best"]["config"]["global"]
    assert best in lambdas
    assert rep["best"]["metric"] == max(e["metric"] for e in rep["sweep"])
    # AUROC on held-out heart_validation must clear chance decisively
    assert rep["best"]["metric"] > 0.75

    # save→score chain on the validation fixture
    score_out = str(tmp_path / "heart_scores")
    cli.score(
        {
            "input": f"{DRIVER_IN}/heart_validation.avro",
            "input_format": "avro",
            "feature_bags": ["features"],
            "shard": "features",
            "model_dir": out,
            "output_dir": score_out,
            "evaluators": ["AUC"],
        },
        spark,
    )
    srep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    scores = spark.read.parquet(score_out)
    assert scores.count() == 20  # heart_validation rows
    # _evaluate_scores rounds to 6 places; selection metric is unrounded
    assert srep["evaluation"]["AUC"] == pytest.approx(
        rep["best"]["metric"], abs=1e-6
    )


def test_heart_warm_start_matches_cold_start_at_convergence(spark, tmp_path, capsys):
    """Warm start is an accelerator, not a semantics change: the best-λ
    model's validation metric with warm_start_sweep on/off agrees to
    1e-4 (the reference's comparison discipline,
    CommonTestUtils.HIGH_PRECISION_TOLERANCE ballpark)."""
    from photon_ml_spark import cli

    reps = []
    for warm in (False, True):
        out = str(tmp_path / f"m_{warm}")
        cli.train(
            {
                "input": f"{DRIVER_IN}/heart.avro",
                "input_format": "avro",
                "feature_bags": ["features"],
                "shard": "features",
                "coordinates": [{"name": "global", "kind": "fixed"}],
                "family": "binomial",
                "n_iterations": 1,
                "output_dir": out,
                "validation_input": f"{DRIVER_IN}/heart_validation.avro",
                "reg_param_sweep": [{"global": 1.0}, {"global": 10.0}],
                "warm_start_sweep": warm,
                "output_mode": "none",
            },
            spark,
        )
        reps.append(
            json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        )
    cold, warm_rep = reps
    assert cold["best"]["config"] == warm_rep["best"]["config"]
    assert warm_rep["best"]["metric"] == pytest.approx(
        cold["best"]["metric"], abs=1e-4
    )


def test_selected_features_avro_allowlist(spark, tmp_path, capsys):
    """GLMSuiteIntegTest/selectedFeatures.avro (FeatureNameTermAvro):
    the reference's selected-features artifact narrows the index
    driver's dictionary to exactly its (name, term) pairs present in
    the input, + intercept."""
    from photon_ml_spark import cli
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP as S, INTERCEPT_KEY

    inp = str(tmp_path / "sel_in.parquet")
    spark.createDataFrame(
        [
            (1, 1.0, [{"name": "f1", "term": "t1", "value": 1.0},
                      {"name": "f2", "term": "t1", "value": 2.0},
                      {"name": "f4", "term": "t2", "value": 3.0}]),
            (2, 0.0, [{"name": "f3", "term": "", "value": 1.0}]),
        ],
        "uid long, response double, features array<struct<"
        "name string, term string, value double>>",
    ).write.parquet(inp)

    out = str(tmp_path / "sel_index_out")
    cli.index(
        {
            "input": inp,
            "feature_bags": ["features"],
            "output_dir": out,
            "selected_features": f"{RES}/GLMSuiteIntegTest/selectedFeatures.avro",
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "indexed"
    keys = {
        r.feature_key
        for r in spark.read.parquet(f"{out}/feature-dictionary").collect()
    }
    # the fixture allowlists (f1,t1) and (f4,t2)
    assert keys == {f"f1{S}t1", f"f4{S}t2", INTERCEPT_KEY}


def test_linear_regression_driver_e2e(spark, tmp_path, capsys):
    """DriverTest's LINEAR_REGRESSION task on the real fixtures:
    gaussian family, λ sweep selected by negated weighted RMSE on
    linear_regression_val.avro, save→score chain."""
    from photon_ml_spark import cli

    out = str(tmp_path / "linreg_model")
    cli.train(
        {
            "input": f"{DRIVER_IN}/linear_regression_train.avro",
            "input_format": "avro",
            "feature_bags": ["features"],
            "shard": "features",
            "coordinates": [{"name": "global", "kind": "fixed"}],
            "family": "gaussian",
            "n_iterations": 1,
            "output_dir": out,
            "validation_input": f"{DRIVER_IN}/linear_regression_val.avro",
            "reg_param_sweep": [{"global": lam} for lam in (0.1, 10.0)],
            "output_mode": "best",
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "trained"
    assert rep["dim"] == 7  # LINEAR_EXPECTED_NUM_FEATURES (6 + intercept)
    # metric = -weighted RMSE: less regularization should fit at least
    # as well on this dense well-conditioned fixture
    by_lam = {e["config"]["global"]: e["metric"] for e in rep["sweep"]}
    assert by_lam[0.1] >= by_lam[10.0]
    rmse_best = -rep["best"]["metric"]
    assert 0 < rmse_best < 10  # responses are O(1-10); a fit, not noise

    score_out = str(tmp_path / "linreg_scores")
    cli.score(
        {
            "input": f"{DRIVER_IN}/linear_regression_val.avro",
            "input_format": "avro",
            "feature_bags": ["features"],
            "shard": "features",
            "model_dir": out,
            "output_dir": score_out,
            "evaluators": ["RMSE"],
        },
        spark,
    )
    srep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert srep["evaluation"]["RMSE"] == pytest.approx(rmse_best, abs=1e-6)


def test_poisson_driver_on_pig_fixture(spark, tmp_path, capsys):
    """POISSON_REGRESSION on the Pig-generated poisson_test.avro
    through the response-prediction ingest (nullable-everything writer
    schema): trains, and the fitted rate beats the null model's
    deviance on the training data."""
    from photon_ml_spark import cli

    out = str(tmp_path / "poisson_model")
    cli.train(
        {
            "input": f"{DRIVER_IN}/poisson_test.avro",
            "input_format": "response_prediction_avro",
            "feature_bags": ["features"],
            "shard": "features",
            "coordinates": [
                {"name": "global", "kind": "fixed", "reg_param": 1.0}
            ],
            "family": "poisson",
            "n_iterations": 1,
            "output_dir": out,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "trained"
    assert rep["dim"] > 10  # a real feature space, not intercept-only

    score_out = str(tmp_path / "poisson_scores")
    cli.score(
        {
            "input": f"{DRIVER_IN}/poisson_test.avro",
            "input_format": "response_prediction_avro",
            "feature_bags": ["features"],
            "shard": "features",
            "model_dir": out,
            "output_dir": score_out,
            "evaluators": ["POISSON_LOSS"],
        },
        spark,
    )
    srep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    scored = spark.read.parquet(score_out)
    assert scored.count() == 4521
    assert srep["evaluation"]["POISSON_LOSS"] > 0


def test_score_driver_on_reference_layout_model(spark, tmp_path, capsys):
    """`cli score` pointed DIRECTLY at a reference-toolchain model dir
    (no conversion step): coefficients + dictionaries load from the
    Avro artifact and scores come out right — the one-command
    migration path for a production scoring job."""
    from photon_ml_spark import cli
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.sources.model_io import load_photon_game_model

    model_dir = f"{GAME}/retrainModels/fixedEffectsOnly"
    model, dicts = load_photon_game_model(spark, model_dir)
    glm = model.coordinates["global"]
    idx_u1 = (
        dicts["shard1"]
        .filter(F.col("feature_key") == f"u{FEATURE_KEY_SEP}1")
        .first()
        .feature_index
    )

    inp = str(tmp_path / "ref_score_in.parquet")
    spark.createDataFrame(
        [
            (1, 0.0, 1.0, [{"name": "u", "term": "1", "value": 1.0}]),
            (2, 0.0, 1.0, [{"name": "u", "term": "1", "value": 2.0},
                           {"name": "___unknown___", "term": "",
                            "value": 9.0}]),
            (3, 0.0, 1.0, []),
        ],
        "uid long, offset double, weight double, features array<struct<"
        "name string, term string, value double>>",
    ).write.parquet(inp)

    out = str(tmp_path / "ref_scores")
    cli.score(
        {
            "input": inp,
            "feature_bags": ["features"],
            "model_dir": model_dir,
            "output_dir": out,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "scored"
    scores = {r.uid: r.score for r in spark.read.parquet(out).collect()}
    c = float(glm.coefficients[idx_u1])
    assert scores[1] == pytest.approx(glm.intercept + c)
    # unknown keys drop (fixed-index-map behavior); known value scales
    assert scores[2] == pytest.approx(glm.intercept + 2.0 * c)
    assert scores[3] == pytest.approx(glm.intercept)


def test_score_driver_reference_multishard_requires_mapping(spark, tmp_path):
    """A multi-shard reference model without a feature_shards mapping
    fails fast with the shard ids it needs."""
    from photon_ml_spark import cli

    with pytest.raises(ValueError, match="shard1.*shard2|feature_shards"):
        cli.score(
            {
                "input": str(tmp_path / "nope.parquet"),
                "feature_bags": ["features"],
                "model_dir": f"{GAME}/retrainModels/mixedEffects",
                "output_dir": str(tmp_path / "out"),
            },
            spark,
        )


def test_import_model_then_standard_score(spark, tmp_path, capsys):
    """`cli import-model` converts a reference-layout model into the
    native layout once; the STANDARD score path then produces the same
    scores as scoring the reference dir directly."""
    from photon_ml_spark import cli

    ref_dir = f"{GAME}/retrainModels/fixedEffectsOnly"
    imported = str(tmp_path / "imported_model")
    cli.import_model({"model_dir": ref_dir, "output_dir": imported}, spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "imported"
    assert rep["family"] == "gaussian"
    assert rep["coordinates"]["global"]["dim"] == 15018

    inp = str(tmp_path / "imp_score_in.parquet")
    spark.createDataFrame(
        [
            (1, 0.0, 1.0, [{"name": "u", "term": "1", "value": 1.0}]),
            (2, 0.0, 1.0, []),
        ],
        "uid long, offset double, weight double, features array<struct<"
        "name string, term string, value double>>",
    ).write.parquet(inp)

    outs = {}
    for label, mdir in (("native", imported), ("reference", ref_dir)):
        out = str(tmp_path / f"scores_{label}")
        cli.score(
            {
                "input": inp,
                "feature_bags": ["features"],
                "model_dir": mdir,
                "output_dir": out,
            },
            spark,
        )
        capsys.readouterr()
        outs[label] = {
            r.uid: r.score for r in spark.read.parquet(out).collect()
        }
    assert outs["native"].keys() == outs["reference"].keys()
    for uid in outs["native"]:
        assert outs["native"][uid] == pytest.approx(
            outs["reference"][uid], rel=1e-12
        )


def test_import_model_multishard_requires_mapping(spark, tmp_path):
    from photon_ml_spark import cli

    with pytest.raises(ValueError, match="feature_shards"):
        cli.import_model(
            {
                "model_dir": f"{GAME}/retrainModels/mixedEffects",
                "output_dir": str(tmp_path / "x"),
            },
            spark,
        )


def test_retrain_from_imported_golden_model(spark, tmp_path, capsys):
    """The retrainModels flow end-to-end: import the golden
    fixedEffectsOnly model, then `train` with incremental_training
    from it (warm start in the model's own 15018-feature space) on a
    synthetic frame keyed to that space — the reference's
    modelInputDirectory retraining story through the engine."""
    from photon_ml_spark import cli
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.sources.model_io import load_photon_game_model

    ref_dir = f"{GAME}/retrainModels/fixedEffectsOnly"
    imported = str(tmp_path / "imported_for_retrain")
    cli.import_model({"model_dir": ref_dir, "output_dir": imported}, spark)
    capsys.readouterr()

    # synthetic rows over two known keys of the model's feature space
    model, dicts = load_photon_game_model(spark, ref_dir)
    keys = [f"u{FEATURE_KEY_SEP}1", f"s{FEATURE_KEY_SEP}0"]
    rows = []
    for i in range(200):
        k = keys[i % 2]
        name, term = k.split(FEATURE_KEY_SEP)
        rows.append(
            (i, float((i % 3) - 1), 0.0, 1.0,
             [{"name": name, "term": term, "value": 1.0 + (i % 4)}])
        )
    inp = str(tmp_path / "retrain_in.parquet")
    spark.createDataFrame(
        rows,
        "uid long, response double, offset double, weight double, "
        "features array<struct<name string, term string, value double>>",
    ).write.parquet(inp)

    out = str(tmp_path / "retrained")
    cli.train(
        {
            "input": inp,
            "feature_bags": ["features"],
            "shard": "features",
            "coordinates": [{"name": "global", "kind": "fixed",
                             "reg_param": 1.0}],
            "family": "gaussian",
            "n_iterations": 1,
            "output_dir": out,
            "incremental_training": imported,
        },
        spark,
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "trained"
    # the frozen prior space: dim matches the golden model, not the
    # 2-key synthetic data
    assert rep["dim"] == 15018


def test_export_model_roundtrips_reference_layout(spark, tmp_path, capsys):
    """Bidirectional wire-format interop: import the golden model →
    export it BACK to the reference Avro layout → load the export with
    the reference-layout reader. Coefficients, intercept, and the
    dictionary key space survive both directions exactly."""
    from photon_ml_spark import cli
    from photon_ml_spark.sources.model_io import load_photon_game_model

    ref_dir = f"{GAME}/retrainModels/fixedEffectsOnly"
    native = str(tmp_path / "native")
    cli.import_model({"model_dir": ref_dir, "output_dir": native}, spark)
    capsys.readouterr()

    exported = str(tmp_path / "exported")
    cli.export_model({"model_dir": native, "output_dir": exported}, spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["status"] == "exported"

    orig, orig_dicts = load_photon_game_model(spark, ref_dir)
    # NO family= passed: the export stamps modelClass, so the loader
    # infers gaussian from the artifact alone (a null modelClass made
    # exported models un-loadable by our own reference-layout scorer)
    back, back_dicts = load_photon_game_model(spark, exported)
    assert back.family == "gaussian"
    g0, g1 = orig.coordinates["global"], back.coordinates["global"]
    assert g1.dim == g0.dim
    assert g1.intercept == pytest.approx(g0.intercept)
    # same key space → same lexicographic indexing → same dense vector;
    # exported id-info carries the import's shard name ("features")
    assert set(back_dicts) == {"features"}
    assert back_dicts["features"].count() == orig_dicts["shard1"].count()
    np.testing.assert_allclose(g1.coefficients, g0.coefficients, rtol=1e-12)


def test_multishard_golden_import_score_export(spark, tmp_path, capsys):
    """The full multi-shard migration scoring path: score the golden
    mixedEffects model dir DIRECTLY (global on shard1, per-artist/
    per-song sharing shard2) with a shard→bags mapping.

    (A full multi-shard import-model converts the 14k-entity random
    tables to native parquet — a multi-minute densify+write; its code
    path is covered by the single-shard import test plus the synthetic
    export round-trip in tests/test_model_io.py.)"""
    from photon_ml_spark import cli
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.sources.model_io import load_photon_game_model

    ref_dir = f"{GAME}/retrainModels/mixedEffects"
    fs = {
        "shard1": {"bags": ["features"]},
        "shard2": {"bags": ["entityFeatures"]},
    }

    # scoring frame: shard1 one-hot on u\x011; shard2 empty bags; known
    # artist + unknown song entity
    orig, dicts = load_photon_game_model(spark, ref_dir)
    glm = orig.coordinates["global"]
    idx_u1 = (
        dicts["shard1"]
        .filter(F.col("feature_key") == f"u{FEATURE_KEY_SEP}1")
        .first().feature_index
    )
    art = orig.coordinates["per-artist"].first()
    inp = str(tmp_path / "ms_in.parquet")
    spark.createDataFrame(
        [(1, 0.0, 1.0, [{"name": "u", "term": "1", "value": 1.0}], [],
          str(art.entity), "___no_such_song___")],
        "uid long, offset double, weight double, "
        "features array<struct<name string, term string, value double>>, "
        "entityFeatures array<struct<name string, term string, "
        "value double>>, artistId string, songId string",
    ).write.parquet(inp)
    out = str(tmp_path / "ms_scores")
    cli.score(
        {"input": inp, "model_dir": ref_dir, "feature_shards": fs,
         "output_dir": out},
        spark,
    )
    capsys.readouterr()
    (row,) = spark.read.parquet(out).collect()
    exp = (
        glm.intercept + float(glm.coefficients[idx_u1])
        + float(art.intercept)  # shard2 empty → intercept only
        + 0.0  # unknown song → 0
    )
    assert row.score == pytest.approx(exp)
    # (the random-effect EXPORT round trip runs on a small synthetic
    # model in tests/test_model_io.py — exporting the 14k-entity golden
    # model through the Python Avro writer is a multi-minute job)


def test_golden_partial_retrain_reaches_reference_tolerance(spark):
    """The reference CI's numeric-parity discipline at its own
    tolerance (GameTrainingDriverIntegTest.scala:698 TOLERANCE=1E-4;
    compareModelEvaluation compares test-set RMSE of a partially
    retrained model against the golden mixedEffects model): lock the
    GOLDEN fixed effect (M8), retrain the per-artist random effects
    through train_game end-to-end, and assert both the RMSE parity and
    per-entity coefficient parity at 1E-4.

    The reference runs this on yahoo-music-train/test.avro, which are
    NOT in the reference checkout (only a 6-row duplicateFeatures
    sample ships), so the training frame is generated IN the golden
    model's own feature space with responses produced by the golden
    model itself — the retrained coordinate must then recover the
    golden predictions (and, with ~zero regularization, the golden
    coefficients) to reference tolerance, exercising golden loader →
    locked-coordinate CD → subspace RE solver → GameModel scorer
    end-to-end. Per-song is left out by design: artist and song
    intercepts are only identifiable up to a constant shift, which the
    reference's shared training data pins but generated data cannot.
    """
    from photon_ml_spark.ml.coordinate_descent import (
        CoordinateConfig,
        train_game,
    )
    from photon_ml_spark.sources.model_io import load_photon_game_model

    TOLERANCE = 1e-4  # GameTrainingDriverIntegTest.scala:698

    model, dicts = load_photon_game_model(
        spark, f"{GAME}/retrainModels/mixedEffects"
    )
    glm = model.coordinates["global"]
    dim2 = dicts["shard2"].count()

    # 12 golden artists, full coefficient vectors collected (dense over
    # shard2); their nonzero support defines each entity's row design
    arts = (
        model.coordinates["per-artist"]
        .withColumn("nnz", F.expr("size(filter(coefficients, x -> x != 0.0))"))
        .orderBy("nnz", "entity")
        .limit(12)
        .collect()
    )
    golden = {
        r.entity: (list(r.coefficients), float(r.intercept)) for r in arts
    }

    def val(e, i, j):  # deterministic pseudo-random value in {1..5}
        # NOT Python's hash(): string hashing is randomized per process
        # by PYTHONHASHSEED, which made the generated design (and its
        # conditioning) differ between boxes. zlib.crc32 is stable.
        return float(zlib.crc32(f"{e}:{i}:{j}".encode()) % 5 + 1)

    rows, uid = [], 0
    for r in arts:
        support = [i for i, c in enumerate(r.coefficients) if c != 0.0]
        for j in range(len(support) + 15):
            rows.append(
                (uid, 0.0, 0.0, 1.0, [0], [1.0],
                 [int(i) for i in support],
                 [val(r.entity, i, j) for i in support],
                 str(r.entity))
            )
            uid += 1
    frame = spark.createDataFrame(
        rows,
        "uid long, response double, offset double, weight double, "
        "shard1_indices array<long>, shard1_values array<double>, "
        "shard2_indices array<long>, shard2_values array<double>, "
        "artistId string",
    )
    # responses BY the golden model (global + per-artist)
    sub = type(model)(family=model.family)
    sub.configs = {
        "global": model.configs["global"],
        "per-artist": model.configs["per-artist"],
    }
    sub.coordinates = {
        "global": glm, "per-artist": model.coordinates["per-artist"]
    }
    labeled = (
        sub.score(frame)
        .withColumn("response", F.col("score"))
        .drop("score")
        .cache()
    )
    is_test = F.pmod(F.col("uid"), F.lit(5)) == 0
    train, test = labeled.filter(~is_test), labeled.filter(is_test)

    coords = [
        CoordinateConfig(
            name="global", kind="fixed", dim=glm.dim,
            indices_col="shard1_indices", values_col="shard1_values",
            locked=True, pretrained=glm,
        ),
        CoordinateConfig(
            name="per-artist", kind="random", dim=dim2,
            entity_col="artistId", reg_param=1e-6,
            indices_col="shard2_indices", values_col="shard2_values",
            project_subspace=True,
        ),
    ]
    retrained, _ = train_game(
        train, coordinates=coords, family="gaussian", n_iterations=1
    )

    def rmse(m):
        row = m.score(test).agg(
            F.sqrt(F.avg((F.col("response") - F.col("score")) ** 2)).alias("r")
        ).first()
        return float(row.r)

    # compareModelEvaluation: |rmse(retrained) - rmse(golden)| < 1E-4
    assert rmse(sub) == pytest.approx(0.0, abs=1e-9)  # by construction
    assert abs(rmse(retrained) - rmse(sub)) < TOLERANCE

    # coefficient-level parity: every retrained per-artist vector and
    # intercept matches the golden model at the same tolerance
    got = {
        r.entity: (list(r.coefficients), float(r.intercept))
        for r in retrained.coordinates["per-artist"].collect()
    }
    assert set(got) == set(golden)
    for e, (gc, gi) in golden.items():
        rc, ri = got[e]
        np.testing.assert_allclose(rc, gc, atol=TOLERANCE)
        assert abs(ri - gi) < TOLERANCE
    labeled.unpersist()
