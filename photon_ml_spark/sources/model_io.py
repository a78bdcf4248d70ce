"""GAME model persistence (SURVEY §2.1 S9/S10, §2.2 P10).

Rebuilds photon-client/.../data/avro/ModelProcessingUtils.scala:77-265:
the reference writes one Avro coefficient dir per coordinate
(``fixed-effect/<name>/coefficients``, ``random-effect/<name>/…``) plus
``model-metadata.json``. Spark-first the layout is the same but tables
are parquet:

    <dir>/metadata.json
    <dir>/fixed-effect/<name>/coefficients/   (feature_index, feature_key?, coefficient)
    <dir>/random-effect/<name>/models/        (entity, coefficients, intercept, …)

plus the feature space the model is indexed by (``write_feature_space``
/ ``read_feature_space``), in one of two layouts:

    <dir>/feature-dictionary/                 single shard (feature_key, feature_index)
    <dir>/feature-dictionaries/<shard>/       one dictionary per shard, and
    <dir>/feature-shards.json                 {"shards": {shard: {bags, has_intercept}}}
    <dir>/fixed-effect/<name>/variances/      optional σ² per fixed coordinate

Sparsification (P10): coefficients with |value| < threshold are
dropped at save (modelSparsityThreshold, GameTrainingDriver.scala:
166-169); load reconstitutes dense arrays with zeros.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel


def _hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through the JVM Hadoop FileSystem so
    metadata lands on the SAME filesystem as the coefficient tables
    (hdfs://, s3a://, file:// — whatever the path's scheme resolves to),
    never split across local disk and a remote store."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    """Delete a path (no-op if absent) on whatever filesystem the
    scheme resolves to — used to clear stale format-marker files when a
    sink overwrites an artifact written in a different layout."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if fs.exists(p):
        fs.delete(p, True)


def _hadoop_read_text(spark: SparkSession, path: str) -> str:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    stream = fs.open(p)
    try:
        # py4j passes byte[] buffers by copy, so stream.read(buf) can't
        # fill a Python bytearray — drain JVM-side into a String instead
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()

from photon_ml_spark.materialize import persist
from photon_ml_spark.ml.coordinate_descent import CoordinateConfig, GameModel
from photon_ml_spark.ml.glm import FixedEffectGLM


def save_game_model(
    model: GameModel,
    path: str,
    spark: SparkSession,
    sparsity_threshold: float = 0.0,
    dictionary: DataFrame | dict | None = None,
) -> None:
    """Persist; ``dictionary`` (feature_key, feature_index) adds
    human-readable keys to fixed-effect coefficient tables (the
    reference always writes name/term pairs). With per-coordinate
    feature shards (CoordinateDataConfiguration.featureShardId) pass a
    ``{coordinate_name: dictionary}`` map instead — each fixed table is
    labeled with ITS shard's vocabulary; coordinates absent from the
    map are written unlabeled."""
    meta = {"family": model.family, "coordinates": {}}
    for name, cfg in model.configs.items():
        m = model.coordinates[name]
        coord_dict = (
            dictionary.get(name)
            if isinstance(dictionary, dict)
            else dictionary
        )
        meta["coordinates"][name] = {
            "kind": cfg.kind,
            "dim": cfg.dim,
            "entity_col": cfg.entity_col,
            "indices_col": cfg.indices_col,
            "values_col": cfg.values_col,
            "reg_param": cfg.reg_param,
        }
        if cfg.kind == "fixed":
            meta["coordinates"][name]["intercept"] = float(m.intercept)
            tbl = m.as_table(spark)
            if sparsity_threshold > 0:
                tbl = tbl.filter(F.abs(F.col("coefficient")) >= sparsity_threshold)
            if coord_dict is not None:
                tbl = tbl.join(F.broadcast(coord_dict), "feature_index", "left")
            tbl.write.mode("overwrite").parquet(
                f"{path}/fixed-effect/{name}/coefficients"
            )
        else:
            out = m
            if sparsity_threshold > 0:
                # zero-out small entries but keep dense arrays (per-entity
                # vectors are already small post-P7)
                t = sparsity_threshold
                out = out.withColumn(
                    "coefficients",
                    F.transform(
                        "coefficients",
                        lambda c: F.when(F.abs(c) >= t, c).otherwise(F.lit(0.0)),
                    ),
                )
            out.write.mode("overwrite").parquet(f"{path}/random-effect/{name}/models")
    _hadoop_write_text(spark, f"{path}/metadata.json", json.dumps(meta, indent=2))


def load_game_model(path: str, spark: SparkSession) -> GameModel:
    meta = json.loads(_hadoop_read_text(spark, f"{path}/metadata.json"))
    model = GameModel(family=meta["family"])
    for name, c in meta["coordinates"].items():
        cfg = CoordinateConfig(
            name=name, kind=c["kind"], dim=c["dim"], entity_col=c["entity_col"],
            indices_col=c["indices_col"], values_col=c["values_col"],
            reg_param=c["reg_param"],
        )
        model.configs[name] = cfg
        if c["kind"] == "fixed":
            rows = (
                spark.read.parquet(f"{path}/fixed-effect/{name}/coefficients")
                .select("feature_index", "coefficient")
                .collect()
            )
            coef = np.zeros(c["dim"])
            for r in rows:
                coef[r.feature_index] = r.coefficient
            model.coordinates[name] = FixedEffectGLM(
                family=meta["family"], coefficients=coef,
                intercept=c["intercept"], dim=c["dim"], reg_param=c["reg_param"],
            )
        else:
            model.coordinates[name] = spark.read.parquet(
                f"{path}/random-effect/{name}/models"
            )
    return model


def write_feature_space(
    spark: SparkSession,
    path: str,
    shards: dict | None,
    dictionaries: dict[str, DataFrame],
    variance_tables: dict[str, DataFrame] | None = None,
    variance_labels: dict[str, DataFrame] | None = None,
) -> None:
    """Persist the feature space beside a model. ``shards`` maps each
    shard to ``{"bags": [...], "has_intercept": bool}``; ``None`` writes
    the flat single-shard layout from the one entry of ``dictionaries``.
    ``variance_tables`` maps fixed coordinates to their σ² tables; a
    coordinate in ``variance_labels`` has its table joined with that
    dictionary for feature keys."""
    if shards is None:
        (d,) = dictionaries.values()
        d.write.mode("overwrite").parquet(f"{path}/feature-dictionary")
    else:
        for s in shards:
            dictionaries[s].write.mode("overwrite").parquet(
                f"{path}/feature-dictionaries/{s}"
            )
        _hadoop_write_text(
            spark,
            f"{path}/feature-shards.json",
            json.dumps({"shards": shards}, indent=2),
        )
    for name, vt in (variance_tables or {}).items():
        if name in (variance_labels or {}):
            vt = vt.join(
                F.broadcast(variance_labels[name]), "feature_index", "left"
            )
        vt.write.mode("overwrite").parquet(
            f"{path}/fixed-effect/{name}/variances"
        )


def saved_shard_specs(spark: SparkSession, path: str) -> dict | None:
    """The shard specs a multi-shard model dir was saved with, or
    ``None`` for any other dir."""
    shards_json = f"{path}/feature-shards.json"
    if not _hadoop_exists(spark, shards_json):
        return None
    return json.loads(_hadoop_read_text(spark, shards_json))["shards"]


def read_feature_space(
    spark: SparkSession, path: str, flat_shard: str = "features"
) -> tuple[dict | None, dict[str, DataFrame]]:
    """``(shard specs or None, {shard: dictionary})`` saved under
    ``path`` by ``write_feature_space``; the legacy flat layout has no
    specs and its one dictionary is keyed by ``flat_shard``."""
    shards = saved_shard_specs(spark, path)
    if shards is not None:
        return shards, {
            s: spark.read.parquet(f"{path}/feature-dictionaries/{s}")
            for s in shards
        }
    if not _hadoop_exists(spark, f"{path}/feature-dictionary"):
        raise ValueError(
            f"{path!r} has no saved feature dictionary — the "
            "reference layout writes (name, term) labels; retrain "
            "or re-import with a dictionary"
        )
    return None, {flat_shard: spark.read.parquet(f"{path}/feature-dictionary")}


def read_variance_tables(
    spark: SparkSession, path: str, names
) -> dict[str, DataFrame]:
    """{name: σ² table} for the fixed coordinates ``names`` saved with one."""
    return {
        name: spark.read.parquet(f"{path}/fixed-effect/{name}/variances")
        for name in names
        if _hadoop_exists(spark, f"{path}/fixed-effect/{name}/variances")
    }


def save_scores(
    scored: DataFrame,
    path: str,
    output_files_limit: int | None = None,
    model_id: str | None = None,
) -> None:
    """S8 scored-output sink (GameScoringDriver.scala:229-256):
    optional coalesce to bound output file count (T6); ``model_id``
    tags every row (the driver's modelId param, :56 — scores from
    several models can share one downstream table)."""
    if model_id is not None:
        scored = scored.withColumn("model_id", F.lit(model_id))
    out = scored.coalesce(output_files_limit) if output_files_limit else scored
    out.write.mode("overwrite").parquet(path)


# --------------------------------------------------- legacy GLM text format


def save_glm_text(
    models,
    dictionary: DataFrame,
    path: str,
    spark: SparkSession,
) -> None:
    """Legacy Photon text model sink (README "Models"; writer
    IOUtils.scala:243-288 writeModelsInText): one line per coefficient,
    ``name\\tterm\\tcoefficient\\tregularization_weight``, coefficients
    sorted descending by value within each model, each model's lines
    CONTIGUOUS in its output file (partitioned on λ; when two λs hash
    into one shuffle partition the within-partition sort keys on
    (λ, coefficient desc), so models never interleave) — the GLMSuite
    regularization-sweep artifact.

    ``models`` is an iterable of (reg_weight, FixedEffectGLM);
    ``dictionary`` maps (feature_key, feature_index). Spark-first: the
    coefficient tables union into one relation, repartition on λ and
    sort within partitions — a distributed text sink, no driver loop
    over coefficients."""
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP

    frames = []
    for lam, model in models:
        frames.append(
            model.as_table(spark).withColumn("reg_weight", F.lit(float(lam)))
        )
    tbl = frames[0]
    for f in frames[1:]:
        tbl = tbl.unionByName(f)
    parts = F.split(F.col("feature_key"), FEATURE_KEY_SEP)
    lines = (
        tbl.join(F.broadcast(dictionary), "feature_index")
        .select(
            "reg_weight",
            "coefficient",
            F.element_at(parts, 1).alias("name"),
            F.coalesce(F.element_at(parts, 2), F.lit("")).alias("term"),
        )
        .repartition("reg_weight")
        .sortWithinPartitions("reg_weight", F.desc("coefficient"))
        .select(
            F.concat_ws(
                "\t", "name", "term",
                F.col("coefficient").cast("string"),
                F.col("reg_weight").cast("string"),
            ).alias("value")
        )
    )
    lines.write.mode("overwrite").text(path)


def load_glm_text(spark: SparkSession, path: str) -> DataFrame:
    """Read a legacy text model dir back into a relation
    (name, term, coefficient, reg_weight)."""
    parts = F.split(F.col("value"), "\t")
    return spark.read.text(path).select(
        F.element_at(parts, 1).alias("name"),
        F.element_at(parts, 2).alias("term"),
        F.element_at(parts, 3).cast("double").alias("coefficient"),
        F.element_at(parts, 4).cast("double").alias("reg_weight"),
    )


# ------------------------------------------- reference Avro GAME model layout
#: modelClass (BayesianLinearModelAvro.modelClass, written by the
#: reference toolchain) → GLM family
_MODEL_CLASS_FAMILY = {
    "LogisticRegressionModel": "binomial",
    "LinearRegressionModel": "gaussian",
    "PoissonRegressionModel": "poisson",
    "SmoothedHingeLossLinearSVMModel": "smoothed_hinge",
}

#: family → fully-qualified reference model class (written into
#: exported BayesianLinearModelAvro records so reference consumers —
#: and our own reference-layout loader — can infer the GLM family)
_FAMILY_MODEL_CLASS = {
    "binomial": "com.linkedin.photon.ml.supervised.classification."
                "LogisticRegressionModel",
    "gaussian": "com.linkedin.photon.ml.supervised.regression."
                "LinearRegressionModel",
    "poisson": "com.linkedin.photon.ml.supervised.regression."
               "PoissonRegressionModel",
    "smoothed_hinge": "com.linkedin.photon.ml.supervised.classification."
                      "SmoothedHingeLossLinearSVMModel",
}


def _hadoop_list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Subdirectory names under ``path`` (empty if path absent)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return []
    return sorted(
        s.getPath().getName()
        for s in fs.listStatus(p)
        if s.isDirectory()
    )


def load_photon_game_model(
    spark: SparkSession, path: str, family: str | None = None
) -> tuple[GameModel, dict[str, DataFrame]]:
    """Read a GAME model written by the REFERENCE toolchain — the Avro
    layout of ModelProcessingUtils.scala:143-265 / AvroConstants.scala:
    24-27 (``fixed-effect/<name>/{coefficients/part-*.avro, id-info}``,
    ``random-effect/<name>/{coefficients/part-*.avro, id-info}``) — into
    the engine's GameModel. This is the migration entry point: a user's
    existing trained models load without re-training.

    id-info carries the featureShardId (fixed: one line; random: the
    randomEffectType line first, ModelProcessingUtils.scala:172,216).
    Coordinates sharing a featureShardId share ONE feature dictionary,
    derived from the union of the models' own (name, term) spaces in
    deterministic lexicographic order (the reference instead resolves
    through its PalDB index map, which the artifact does not ship).

    Returns ``(model, dictionaries)`` with ``dictionaries`` mapping
    SHARD id (id-info's featureShardId) → DataFrame(feature_key,
    feature_index) so callers can featurize scoring data into the same
    index space; each coordinate's config reads its shard's assembled
    columns (``{shard}_indices``/``{shard}_values``). Dictionary
    construction is distributed (explode → distinct → one-shuffle
    zip_with_index); only fixed-effect coefficient vectors land on the
    driver (the reference's own Broadcast regime).
    """
    from photon_ml_spark.datamodel import FEATURE_KEY_SEP
    from photon_ml_spark.operators.indexing import zip_with_index
    from photon_ml_spark.sources.avro_io import (
        BAYESIAN_LINEAR_MODEL_SCHEMA,
        INTERCEPT_NAME,
        avro_frame_fixed_variances,
        avro_frame_to_fixed_effect,
        avro_frame_to_random_effects,
        read_avro,
    )

    coords: list[dict] = []
    for kind_dir, kind in (("fixed-effect", "fixed"), ("random-effect", "random")):
        for name in _hadoop_list_dirs(spark, f"{path}/{kind_dir}"):
            cdir = f"{path}/{kind_dir}/{name}"
            if not _hadoop_exists(spark, f"{cdir}/coefficients"):
                # the reference's own resources ship id-info-only
                # coordinate stubs (e.g. GameIntegTest/gameModel
                # random-effect dirs) — a coordinate without
                # coefficients has nothing to load
                continue
            id_info = [
                ln.strip()
                for ln in _hadoop_read_text(spark, f"{cdir}/id-info").splitlines()
                if ln.strip()
            ]
            if kind == "fixed":
                entity_col, shard = None, id_info[0]
            else:
                entity_col, shard = id_info[0], id_info[1]
            frame = read_avro(
                spark,
                f"{cdir}/coefficients",
                avro_schema=BAYESIAN_LINEAR_MODEL_SCHEMA,
            )
            coords.append(
                {"name": name, "kind": kind, "entity_col": entity_col,
                 "shard": shard, "frame": frame}
            )
    if not coords:
        raise ValueError(f"no fixed-effect/random-effect coordinates under {path}")

    # one dictionary per feature shard, from the union of that shard's
    # coordinates' own coefficient key spaces
    dictionaries: dict[str, DataFrame] = {}
    dims: dict[str, int] = {}
    for shard in sorted({c["shard"] for c in coords}):
        keys = None
        for c in coords:
            if c["shard"] != shard:
                continue
            # variances may key features the (nonzero-filtered) means
            # do not — a zero coefficient with informative σ² is still
            # part of the feature space, so union both arrays' keys
            k = (
                c["frame"]
                .select(
                    F.explode(
                        F.concat(
                            F.col("means"),
                            F.coalesce(
                                F.col("variances"),
                                F.array().cast(
                                    "array<struct<name:string,"
                                    "term:string,value:double>>"
                                ),
                            ),
                        )
                    ).alias("m")
                )
                # intercept identity is the (name, term) PAIR — a
                # feature named "(INTERCEPT)" with a non-empty term is
                # a feature and belongs in the dictionary
                .filter(
                    ~(
                        (
                            F.coalesce(F.col("m.name"), F.lit(""))
                            == INTERCEPT_NAME
                        )
                        & (F.coalesce(F.col("m.term"), F.lit("")) == "")
                    )
                )
                .select(
                    # null-safe: concat_ws SKIPS nulls, which would
                    # collapse (name, null) and (name,) into different
                    # keys than featurization's (name + SEP + '')
                    F.concat(
                        F.coalesce(F.col("m.name"), F.lit("")),
                        F.lit(FEATURE_KEY_SEP),
                        F.coalesce(F.col("m.term"), F.lit("")),
                    ).alias("feature_key")
                )
            )
            keys = k if keys is None else keys.unionByName(k)
        d, n = zip_with_index(
            keys.distinct(), "feature_key", id_col="feature_index"
        )
        dictionaries[shard] = persist(d, StorageLevel.MEMORY_AND_DISK_DESER)
        dims[shard] = n

    fam = family
    if fam is None:
        # one probe job, first recognizable class wins (every
        # coordinate of one model shares the family; probing all N
        # coordinates was N sequential driver round-trips)
        for c in coords:
            row = c["frame"].select("modelClass").limit(1).collect()
            cl = (row[0].modelClass or "").rsplit(".", 1)[-1] if row else ""
            if cl in _MODEL_CLASS_FAMILY:
                fam = _MODEL_CLASS_FAMILY[cl]
                break
        if fam is None:
            raise ValueError(
                f"cannot infer GLM family from {path!r}: no coordinate "
                "carries a recognizable modelClass; pass family= "
                "explicitly"
            )

    model = GameModel(family=fam)
    for c in coords:
        d, dim = dictionaries[c["shard"]], dims[c["shard"]]
        if c["kind"] == "fixed":
            rows = c["frame"].collect()
            glm = avro_frame_to_fixed_effect(rows, d, dim, family=fam)
            model.coordinates[c["name"]] = glm
            vt = avro_frame_fixed_variances(rows, d)
            if vt is not None:
                model.variances[c["name"]] = vt
        else:
            # one bounded probe decides whether the extra variance
            # explode/join/densify legs are built at all
            has_v = (
                c["frame"]
                .filter(F.col("variances").isNotNull())
                .limit(1)
                .count()
                > 0
            )
            model.coordinates[c["name"]] = avro_frame_to_random_effects(
                c["frame"], d, dim, include_variances=has_v
            )
        # per-coordinate sparse columns carry the SHARD id (id-info's
        # featureShardId) — coordinates sharing a shard read the same
        # assembled columns, exactly the multi-shard train/score
        # contract (CoordinateDataConfiguration.featureShardId)
        model.configs[c["name"]] = CoordinateConfig(
            name=c["name"], kind=c["kind"], dim=dim,
            entity_col=c["entity_col"],
            indices_col=f"{c['shard']}_indices",
            values_col=f"{c['shard']}_values",
        )
    return model, dictionaries


def save_photon_game_model(
    model: GameModel,
    dictionaries: dict[str, DataFrame],
    path: str,
    spark: SparkSession,
    variance_tables: dict[str, DataFrame] | None = None,
) -> None:
    """Write a GameModel in the REFERENCE toolchain's Avro layout
    (ModelProcessingUtils.scala:77-265 / AvroConstants.scala:24-27) —
    the export half of the migration story: models trained here keep
    serving through existing reference-based consumers.

    Layout per coordinate:
    ``{fixed,random}-effect/<name>/coefficients/part-*.avro``
    (BayesianLinearModelAvro; one record per fixed model / per entity)
    plus ``id-info`` (featureShardId; random adds the randomEffectType
    line first — :99-116,172,216).

    ``dictionaries`` maps SHARD id → (feature_key, feature_index) —
    the shape ``load_photon_game_model`` returns and ``train`` saves;
    each coordinate's shard is read off its ``indices_col`` prefix."""
    from photon_ml_spark.sources.avro_io import (
        BAYESIAN_LINEAR_MODEL_SCHEMA,
        fixed_effect_to_avro_frame,
        random_effects_to_avro_frame,
        write_avro,
    )

    for name, cfg in model.configs.items():
        suffix = "_indices"
        if not cfg.indices_col.endswith(suffix):
            raise ValueError(
                f"coordinate {name!r}: cannot derive its shard from "
                f"indices_col {cfg.indices_col!r}"
            )
        shard = cfg.indices_col[: -len(suffix)]
        if shard not in dictionaries:
            raise ValueError(
                f"coordinate {name!r} uses shard {shard!r} with no "
                f"dictionary; provided: {sorted(dictionaries)}"
            )
        d = dictionaries[shard]
        kind_dir = "fixed-effect" if cfg.kind == "fixed" else "random-effect"
        cdir = f"{path}/{kind_dir}/{name}"
        m = model.coordinates[name]
        # reference consumers (and load_photon_game_model's family
        # inference) read the GLM family off modelClass — a null there
        # makes the exported artifact un-inferable
        model_class = _FAMILY_MODEL_CLASS.get(model.family)
        if cfg.kind == "fixed":
            # σ² table precedence: explicit variance_tables, else the
            # model's own loaded tables (round-tripping an import)
            vt = (variance_tables or {}).get(
                name, model.variances.get(name)
            )
            frame = fixed_effect_to_avro_frame(
                spark, m, d, model_id="fixed-effect", variances=vt
            )
            id_info = shard
        else:
            frame = random_effects_to_avro_frame(m, d, cfg.dim)
            id_info = f"{cfg.entity_col}\n{shard}"
        if model_class is not None:
            frame = frame.withColumn("modelClass", F.lit(model_class))
        write_avro(
            frame, f"{cdir}/coefficients", BAYESIAN_LINEAR_MODEL_SCHEMA
        )
        _hadoop_write_text(spark, f"{cdir}/id-info", id_info + "\n")
