"""Config-driven CLI drivers (the reference's spark-submit surface:
GameTrainingDriver.scala:908-931, GameScoringDriver.scala:263-270 —
scopt args become one JSON config here).

    python -m photon_ml_spark.cli train --config train.json
    python -m photon_ml_spark.cli score --config score.json
    python -m photon_ml_spark.cli curate --config curate.json

Train config:
    {"input": "<path>",                     # conventional-column frame
     "input_format": "parquet",             # or "avro" (TrainingExampleAvro)
     "feature_bags": ["features"],          # (name,term,value) array cols
     "shard": "features",
     # OR per-coordinate shards (replaces shard/feature_bags) — the
     # reference's featureShardConfigurations map + per-coordinate
     # featureShardId (FeatureShardConfiguration.scala:23,
     # CoordinateDataConfiguration.scala:24,37,58): one dictionary,
     # dim, normalization table, and summary per shard; the model dir
     # persists every shard's dictionary and definition and the score
     # driver reassembles from those artifacts
     "feature_shards": {"shard1": {"bags": ["userFeatures"]},
                        "shard2": {"bags": ["songFeatures"],
                                   "has_intercept": true}},
     "coordinates": [{"name": "global", "kind": "fixed",
                      "shard": "shard1"},  # shard: only with
                                            # feature_shards
                     {"name": "per_user", "kind": "random",
                      "entity_col": "userId", "reg_param": 1.0,
                      "elastic_net_param": 0.0, "solver": "auto"}],
     "family": "binomial", "n_iterations": 2,
     "output_dir": "<model dir>", "sparsity_threshold": 0.0,
     "validation_input": "<path>",          # optional held-out frame
     "reg_param_sweep": [                   # explicit λ sweep (legacy
        {"global": 0.1}, {"global": 10.0}], # Driver regularization list
                                            # + T8 model selection by the
                                            # family's primary metric
     "output_mode": "best",                 # best|all|none
                                            # (ModelOutputMode parity)
     "per_group_evaluation": {              # savePerGroupEvaluation-
        "group_col": "userId",              # Result parity: per-group
        "metric": "auc"}}                   # auc|precision_at_k beside
                                            # the saved model

Score config:
    {"input": "...", "model_dir": "...", "output_dir": "...",
     "output_files_limit": 1}

The dictionary is persisted beside the model (S4) so scoring assembles
with the training vocabulary — unknown score-time features drop,
matching the reference's fixed-index-map behavior. The saved layout of
that feature space (single- or multi-shard dictionaries, shard
definitions, fixed-effect variance tables) belongs to
``sources/model_io.py`` (``write_feature_space``/``read_feature_space``);
the drivers here never build its paths.
"""

from __future__ import annotations

import argparse
import json
from functools import partial

from pyspark.storagelevel import StorageLevel
from pyspark.sql import SparkSession

from photon_ml_spark.materialize import checkpoint, persist, release, scope


def _resolve_input(spark, cfg):
    """``input`` + optional ``date_range``/``days_range`` → the path(s)
    to read — inputDataDateRange / inputDataDaysRange parity
    (GameDriver + IOUtils.scala:115-164): with a range, ``input`` is a
    root of ``yyyy/MM/dd`` daily directories; days that do not exist
    are skipped (the reference lists-and-filters too) and an empty
    resolution fails fast. ``days_range`` takes an explicit ``until``
    date so runs are reproducible (the reference anchors at now())."""
    import datetime as _dt

    inp = cfg["input"]
    dr, days = cfg.get("date_range"), cfg.get("days_range")
    if not dr and not days:
        return inp
    if dr and days:
        raise ValueError("configure date_range OR days_range, not both")
    if days:
        if not isinstance(days, dict):
            raise ValueError(
                "days_range needs {'days': N, 'until': 'yyyy-MM-dd'} — "
                "an explicit until keeps reruns deterministic"
            )
        _validate_stage_keys(days, "days_range")
        if "days" not in days or "until" not in days:
            raise ValueError(
                "days_range needs {'days': N, 'until': 'yyyy-MM-dd'} — "
                "an explicit until keeps reruns deterministic"
            )
        until = _dt.date.fromisoformat(str(days["until"]))
        start_d = until - _dt.timedelta(days=int(days["days"]) - 1)
        end_d = until
    else:
        if not isinstance(dr, dict):
            raise ValueError("date_range needs {'start': ..., 'end': ...}")
        _validate_stage_keys(dr, "date_range")
        if "start" not in dr or "end" not in dr:
            raise ValueError("date_range needs start and end")
        # fromisoformat validates the strings up front — a malformed
        # date must fail HERE, not surface as an empty scan later
        start_d = _dt.date.fromisoformat(str(dr["start"]))
        end_d = _dt.date.fromisoformat(str(dr["end"]))
    if start_d > end_d:
        raise ValueError(f"empty date range [{start_d}, {end_d}]")
    if cfg.get("input_format", "parquet") != "parquet":
        raise ValueError(
            "date ranges currently compose with parquet inputs only"
        )
    # Qualify the root first: globStatus results are always absolute,
    # so a RELATIVE input root would never match the wanted paths and
    # falsely raise "no daily directories exist"
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(inp)
    fs = root.getFileSystem(conf)
    inp = str(fs.makeQualified(root))
    wanted = []
    d = start_d
    while d <= end_d:
        wanted.append(f"{inp}/{d.strftime('%Y/%m/%d')}")
        d += _dt.timedelta(days=1)
    # ONE globStatus RPC lists every existing daily dir under the root
    # (the reference lists-and-filters the same way) — not O(days)
    # sequential exists() round-trips against object storage
    glob = jvm.org.apache.hadoop.fs.Path(f"{inp}/*/*/*")
    statuses = fs.globStatus(glob)
    on_disk = (
        {st.getPath().toUri().getPath() for st in statuses}
        if statuses is not None
        else set()
    )

    def _norm(path):
        u = jvm.org.apache.hadoop.fs.Path(path).toUri().getPath()
        return u

    existing = [p for p in wanted if _norm(p) in on_disk]
    if not existing:
        raise ValueError(
            f"no daily directories exist under {inp!r} in [{start_d}, "
            f"{end_d}] — expected paths like {wanted[0]!r}"
        )
    return existing


def _read_input(spark, cfg):
    """Input reader shared by train/score (via ``_assembled``) and the
    index driver: format dispatch + date-range resolution in ONE place
    so the range/format rules cannot drift between drivers."""
    fmt = cfg.get("input_format", "parquet")
    if fmt != "parquet" and (cfg.get("date_range") or cfg.get("days_range")):
        # _resolve_input would never run on the avro branches — refuse
        # instead of silently reading the whole root
        raise ValueError(
            "date ranges currently compose with parquet inputs only"
        )
    if fmt == "avro":
        from photon_ml_spark.sources.avro_io import read_training_examples

        # InputColumnsNames parity: rename the file's columns into the
        # conventional frame (the reference's different-column-names
        # flow, ScoptGameTrainingParametersParser inputColumnsNames).
        # Lazily localCheckpoint: null uids get GENERATED ids
        # (monotonically_increasing_id), and downstream assembly
        # self-joins on uid — without pinning, a task retry or re-plan
        # could re-evaluate the generator differently per join branch
        # and silently mis-attach features. The checkpoint materializes
        # on first action and every later branch reads the SAME ids
        # (the reference's AvroDataReader likewise materializes the
        # ingest RDD before GAME consumes it).
        return checkpoint(
            read_training_examples(
                spark, cfg["input"], column_names=cfg.get("column_names")
            ),
            eager=False,
        )
    if fmt == "response_prediction_avro":
        # the reference's scoring-input format carries no uid; assign
        # one like GameScoringDriver does (P2, zipWithUniqueId analog)
        from pyspark.sql import functions as F

        from photon_ml_spark.sources.avro_io import read_response_predictions

        # same generated-uid pinning rationale as the avro branch
        return checkpoint(
            read_response_predictions(spark, cfg["input"]).withColumn(
                "uid", F.monotonically_increasing_id()
            ),
            eager=False,
        )
    resolved = _resolve_input(spark, cfg)
    return spark.read.parquet(
        *(resolved if isinstance(resolved, list) else [resolved])
    )


def _shard_configs(cfg) -> dict:
    """``feature_shards`` → {shard_name: FeatureShardConfig} — the
    reference's featureShardConfigurations map
    (FeatureShardConfiguration.scala:23: featureBags + hasIntercept;
    flagship config GameTrainingDriverIntegTest.scala:736-770). Without
    ``feature_shards`` the legacy single-shard keys (``shard`` +
    ``feature_bags``) define one shard; with it, those keys are
    rejected — two sources of truth for the same mapping is the silent-
    config-drift failure mode."""
    from photon_ml_spark.datamodel import FeatureShardConfig

    fs = cfg.get("feature_shards")
    if fs is None:
        name = cfg.get("shard", "features")
        return {
            name: FeatureShardConfig(name, cfg.get("feature_bags", ["features"]))
        }
    if "shard" in cfg or "feature_bags" in cfg:
        raise ValueError(
            "feature_shards replaces the single-shard 'shard'/"
            "'feature_bags' keys — configure one or the other"
        )
    if not isinstance(fs, dict) or not fs:
        raise ValueError(
            "feature_shards must be a non-empty map "
            "{shard_name: {'bags': [...], 'has_intercept': bool}}"
        )
    out = {}
    for name, spec in fs.items():
        if not isinstance(spec, dict):
            raise ValueError(
                f"feature_shards[{name!r}] must be an object with "
                "'bags' (and optional 'has_intercept')"
            )
        _validate_stage_keys(spec, "feature_shards{}")
        bags = spec.get("bags", [])
        has_intercept = bool(spec.get("has_intercept", True))
        if not bags and not has_intercept:
            # FeatureShardConfiguration.scala:25 require()
            raise ValueError(
                f"feature shard {name!r} must have feature bags or an "
                "intercept"
            )
        out[name] = FeatureShardConfig(name, list(bags), has_intercept)
    return out


def _assembled(spark, cfg, dictionaries=None):
    """Read the input and attach every configured feature shard's
    sparse-pair columns. Returns ``(frame, {shard: dictionary},
    {shard: dim})``. Each dictionary is collected once, bounded by
    ``MAP_STRATEGY_MAX_KEYS``: the rows that fit are both the dim and
    the literal map of the assembly, and only a larger dictionary is
    counted and joined."""
    from photon_ml_spark.sources import featurize

    raw = _read_input(spark, cfg)
    shards = _shard_configs(cfg)
    dictionaries = dict(dictionaries or {})
    dims = {}
    df = raw
    cap = featurize.MAP_STRATEGY_MAX_KEYS
    for name, shard in shards.items():
        if dictionaries.get(name) is None:
            # built from the RAW frame — a dictionary plan hanging off
            # an earlier shard's assembly join would redo that join
            dictionaries[name] = featurize.build_feature_dictionary(
                raw, shard.feature_bags, has_intercept=shard.has_intercept
            )
        entries = dictionaries[name].limit(cap + 1).collect()
        fits = len(entries) <= cap
        dims[name] = len(entries) if fits else dictionaries[name].count()
        df = featurize.assemble_shard(
            df, dictionaries[name], shard,
            strategy="map" if fits else "join",
            entries=entries if fits else None,
        )
    return df, dictionaries, dims


# per-driver allowed top-level config keys — a typo'd key ("near_dedup_",
# "validaton_input") would otherwise SILENTLY skip the stage it meant to
# configure, the classic config failure mode (same fail-fast discipline
# as the reg_param_sweep coordinate-name validation)
_CFG_KEYS = {
    "train": frozenset({
        "input", "input_format", "feature_bags", "shard", "feature_shards",
        "output_dir",
        "coordinates", "family", "n_iterations", "validation_input",
        "reg_param_sweep", "warm_start_sweep", "output_mode", "tuner",
        "tuner_iterations", "column_names",
        "per_group_evaluation", "sparsity_threshold", "event_log",
        "dictionary_input", "data_validation", "normalization",
        "variance_computation", "incremental_training",
        "data_summary_dir", "evaluators", "update_sequence",
        "date_range", "days_range", "validation_date_range",
        "validation_days_range",
    }),
    "index": frozenset({
        "input", "input_format", "feature_bags", "output_dir",
        "has_intercept", "selected_features", "date_range", "days_range",
        "column_names",
    }),
    "import_model": frozenset({
        "model_dir", "output_dir", "family", "shard", "feature_shards",
    }),
    "export_model": frozenset({"model_dir", "output_dir"}),
    "bags": frozenset({
        "input", "input_format", "feature_bags", "output_dir",
        "date_range", "days_range", "column_names",
    }),
    "score": frozenset({
        "input", "input_format", "feature_bags", "shard", "model_dir",
        "output_dir", "output_files_limit", "evaluators",
        "data_validation", "model_id", "date_range", "days_range",
        "column_names", "feature_shards",
    }),
    "curate": frozenset({
        "input", "output_dir", "quality", "exact_dedup", "near_dedup",
        "contamination", "select", "mix", "split", "chunk", "tokenize",
        "report", "pii",
    }),
    "curate_stream": frozenset({
        "input_dir", "schema", "index_path", "output_dir",
        "checkpoint_dir", "quality", "threshold", "n", "num_hashes",
        "bands", "max_files_per_trigger", "pii",
    }),
}


def _validate_cfg_keys(cfg: dict, driver: str) -> None:
    unknown = sorted(set(cfg) - _CFG_KEYS[driver])
    if unknown:
        raise ValueError(
            f"{driver} config contains unknown key(s) {unknown} — "
            "misspelled keys would silently skip the stage they mean "
            f"to configure; allowed: {sorted(_CFG_KEYS[driver])}"
        )


# nested stage-dict key sets — the same typo class one level down
# ("min_token", "reg_params") silently falls back to a default
_STAGE_KEYS = {
    "coordinates[]": frozenset({
        "name", "kind", "shard", "entity_col", "reg_param", "min_samples",
        "active_cap", "elastic_net_param", "solver", "constraints",
    }),
    # FeatureShardConfiguration.scala:23 fields
    "feature_shards{}": frozenset({"bags", "has_intercept"}),
    "incremental_training": frozenset({"model_dir", "locked_coordinates"}),
    "pii": frozenset({"action", "max_matches"}),
    "date_range": frozenset({"start", "end"}),
    "days_range": frozenset({"days", "until"}),
    "quality": frozenset({
        "min_tokens", "min_quality", "languages", "max_ppl",
        "min_novelty", "blocked_terms",
    }),
    "near_dedup": frozenset({
        "threshold", "n", "index_path", "batch_id", "num_hashes", "bands",
    }),
    "contamination": frozenset({"eval_input", "ngram", "min_shared"}),
    "select": frozenset({"target_lang", "k", "temperature", "lang_col"}),
    "mix": frozenset({"shares", "mode", "group_col", "max_epochs"}),
    "split": frozenset({"test_frac"}),
    "chunk": frozenset({"max_tokens", "overlap"}),
    "tokenize": frozenset({"kind", "n_merges", "min_pair_count",
                           "vocab_size"}),
    "per_group_evaluation": frozenset({"group_col", "metric", "k"}),
}


def _validate_stage_keys(d, stage: str) -> None:
    if not isinstance(d, dict):
        return  # boolean toggles (exact_dedup: true) and the like
    unknown = sorted(set(d) - _STAGE_KEYS[stage])
    if unknown:
        raise ValueError(
            f"config section {stage!r} contains unknown key(s) "
            f"{unknown} — misspelled keys silently fall back to "
            f"defaults; allowed: {sorted(_STAGE_KEYS[stage])}"
        )


@scope()
def train(
    cfg: dict, spark: SparkSession, listeners=None, tuner=None
) -> None:
    """GAME training driver (GameTrainingDriver.scala:363-516).

    ``listeners`` (optional): ``events.EventListener`` instances — the
    reference driver's EventEmitter surface; they receive setup /
    training start / coordinate-update / optimization-log / selection /
    finish events in order. Listeners are PER-JOB: train() takes
    ownership and ``close()``s every registered listener when the job
    ends (success or failure — Driver.scala:549 clears listeners at job
    end, which is what flushes buffered/file-backed listeners).
    Register a FRESH instance per call; a reused closed listener would
    have its post-close ``handle()`` failures swallowed by the
    Try-isolated dispatch and silently record nothing.

    ``cfg["event_log"] = <path>`` captures the same event stream to a
    JSONL file without any code (``events.JsonLinesFileListener``,
    created and owned by this job, flushed on exit).

    ``tuner`` (optional): a ``hypersearch.HyperparameterTuner`` driving
    model selection over per-coordinate regularization weights — the
    reference's pluggable-tuner seam (HyperparameterTunerFactory). A
    JSON config can request one via ``cfg["tuner"]`` (``make_tuner``
    spec); a programmatic instance wins over the config. Mutually
    exclusive with the explicit ``reg_param_sweep`` list."""
    from photon_ml_spark import events

    _validate_cfg_keys(cfg, "train")
    emitter = events.EventEmitter()
    for li in listeners or ():
        emitter.register_listener(li)
    if cfg.get("event_log"):
        # config-driven event capture: every lifecycle event of this
        # job lands in one JSONL file, flushed by the finally-block
        # close below (the listener is created — and therefore owned —
        # by this job)
        emitter.register_listener(
            events.JsonLinesFileListener(cfg["event_log"])
        )
    try:
        _train_impl(cfg, spark, emitter, tuner)
    finally:
        # Driver.scala:549 parity: listeners are always cleared (and
        # hence close()d) at job end, success or failure, so buffered/
        # file-backed listeners flush their data
        emitter.clear_listeners()


def _train_impl(cfg: dict, spark: SparkSession, emitter, tuner) -> None:
    """The train driver as a stage sequence: featurize, coordinate
    descent, select, save (GameTrainingDriver.scala:363-516)."""
    from photon_ml_spark import events

    shard_cfgs, coord_shard = _resolve_shards(cfg)
    emitter.send_event(events.SetupEvent(params=events.params_summary(cfg)))
    inc, prev_model = _prior_model(cfg, spark, shard_cfgs)
    dicts_in = _dictionary_sources(cfg, spark, shard_cfgs, inc)
    assembled, dictionaries, dims = _assemble_training(
        cfg, spark, shard_cfgs, dicts_in
    )
    assembled, norm_tables = _normalize(cfg, assembled, shard_cfgs)
    coords = _coordinate_configs(
        cfg, spark, coord_shard, dictionaries, dims, inc, prev_model
    )
    assembled = persist(assembled, StorageLevel.MEMORY_AND_DISK_DESER)
    validation_frame = _validation_frame(cfg, spark, dictionaries, norm_tables)
    out = cfg["output_dir"]
    output_mode = cfg.get("output_mode", "best").lower()
    if output_mode not in ("best", "all", "none"):
        raise ValueError("output_mode must be best|all|none")
    multi_shard = cfg.get("feature_shards") is not None
    report = {
        "status": "trained",
        "model_dir": out,
        # single-shard reports keep the scalar (back-compat); multi-
        # shard reports the per-shard dim map
        "dim": dict(dims) if multi_shard else dims[next(iter(dims))],
    }
    family = cfg.get("family", "binomial")
    fit = partial(
        _fit, assembled, coords, family, cfg.get("n_iterations", 2), emitter
    )
    # original-space saves share one per-shard factor-row cache
    save = partial(
        _save_model, spark, cfg, dictionaries, coord_shard, norm_tables, {}
    )
    fitted = _select(
        cfg, tuner, fit, validation_frame, coords, family, emitter, report,
        save, f"{out}/models" if output_mode == "all" else None,
    )
    variance_tables = _fixed_effect_variances(
        cfg, spark, fitted, assembled, coord_shard, dims, norm_tables
    )
    frame = validation_frame if validation_frame is not None else assembled
    _evaluate_selected(cfg, fitted, frame, report)
    if output_mode != "none":
        _save_trained(
            spark, save, fitted, out, shard_cfgs if multi_shard else None,
            dictionaries, coord_shard, variance_tables,
        )
        if variance_tables:
            report["variances"] = sorted(variance_tables)
    print(json.dumps(report))


def _resolve_shards(cfg: dict):
    """``(shard configs, {coordinate: shard})``, validated before any
    IO (CoordinateDataConfiguration.scala:24,37,58 featureShardId): a
    typo'd field or shard must fail here, not mid-training."""
    for c in cfg["coordinates"]:
        _validate_stage_keys(c, "coordinates[]")
    shard_cfgs = _shard_configs(cfg)
    sole_shard = next(iter(shard_cfgs)) if len(shard_cfgs) == 1 else None
    coord_shard: dict[str, str] = {}
    for c in cfg["coordinates"]:
        s = c.get("shard", sole_shard)
        if s is None:
            raise ValueError(
                f"coordinate {c['name']!r} needs a 'shard' when several "
                f"feature_shards are configured ({sorted(shard_cfgs)})"
            )
        if s not in shard_cfgs:
            raise ValueError(
                f"coordinate {c['name']!r} names unknown shard {s!r}; "
                f"configured shards: {sorted(shard_cfgs)}"
            )
        coord_shard[c["name"]] = s
    if cfg.get("per_group_evaluation") is not None:
        _validate_stage_keys(
            cfg["per_group_evaluation"], "per_group_evaluation"
        )
    return shard_cfgs, coord_shard


def _shard_specs(shard_cfgs: dict) -> dict:
    """Shard configs → the specs a model dir saves them as."""
    return {
        s: {"bags": list(sh.feature_bags), "has_intercept": sh.has_intercept}
        for s, sh in shard_cfgs.items()
    }


def _prior_model(cfg: dict, spark, shard_cfgs: dict):
    """M9 incremental training (GameTrainingDriver incrementalTraining +
    modelInputDirectory) → ``(its config, the previous model)``, or
    ``(None, None)``. Fixed effects get a Gaussian prior centered on the
    previous coefficients (``_fixed_prior``), random effects the
    previous model TABLE as prior/x0 with carry-forward for data-less
    entities, all in the previous feature space."""
    from photon_ml_spark.sources.model_io import (
        load_game_model,
        saved_shard_specs,
    )

    inc = cfg.get("incremental_training")
    if not inc:
        return None, None
    if isinstance(inc, str):
        inc = {"model_dir": inc}
    _validate_stage_keys(inc, "incremental_training")
    if "model_dir" not in inc:
        raise ValueError("incremental_training needs model_dir")
    # priors are indexed per shard: the prior model must have the same
    # shard layout, and a multi-shard one the same shard DEFINITIONS
    # (a renamed bag or a dropped intercept would silently re-index the
    # spaces the priors live in)
    prev_shards = saved_shard_specs(spark, inc["model_dir"])
    if cfg.get("feature_shards") is not None:
        if prev_shards is None:
            raise ValueError(
                "incremental_training.model_dir holds a single-shard "
                "model (no feature-shards.json) but feature_shards "
                "is configured — priors are indexed per shard; use "
                "the single-shard config or retrain from scratch"
            )
        cur_shards = _shard_specs(shard_cfgs)
        if prev_shards != cur_shards:
            raise ValueError(
                "feature_shards differs from the prior model's saved "
                f"feature-shards.json (prior: {prev_shards}; "
                f"configured: {cur_shards}) — priors are indexed by "
                "the previous per-shard feature spaces; match the "
                "prior config or retrain from scratch"
            )
    elif prev_shards is not None:
        raise ValueError(
            "incremental_training.model_dir holds a MULTI-shard "
            "model (feature-shards.json present) but this config "
            "is single-shard — configure the matching "
            "feature_shards map (priors are indexed per shard) "
            "or retrain from scratch"
        )
    if str(cfg.get("normalization", "none")).lower() != "none":
        raise ValueError(
            "incremental_training cannot combine with normalization: "
            "the prior model is original-space while training would "
            "run in the scaled space — retrain without normalization "
            "or drop the prior"
        )
    return inc, load_game_model(inc["model_dir"], spark)


def _same_dictionary(a, b) -> bool:
    """One symmetric-difference proof over two (small) dictionary
    relations."""
    return not (
        a.exceptAll(b).limit(1).count() > 0
        or b.exceptAll(a).limit(1).count() > 0
    )


def _dictionary_sources(cfg: dict, spark, shard_cfgs: dict, inc) -> dict:
    """{shard: dictionary} this run reuses instead of building one:
    ``dictionary_input``, the `index` driver's output
    (FeatureIndexingDriver's consume side; with feature_shards a
    {shard: index_output_dir} map, like the reference's per-shard PalDB
    stores), and the prior model's feature space for the other shards.
    A given dictionary must BE the prior's space: priors are indexed
    by it."""
    from photon_ml_spark.sources.model_io import read_feature_space

    multi_shard = cfg.get("feature_shards") is not None
    di = cfg.get("dictionary_input")
    if di and multi_shard:
        if not isinstance(di, dict):
            raise ValueError(
                "with feature_shards, dictionary_input must be a "
                "map {shard_name: index_output_dir}"
            )
        unknown = sorted(set(di) - set(shard_cfgs))
        if unknown:
            raise ValueError(
                f"dictionary_input names unknown shard(s) {unknown}; "
                f"configured shards: {sorted(shard_cfgs)}"
            )
        missing = sorted(set(shard_cfgs) - set(di))
        if missing and not inc:
            # a partial map would silently rebuild the uncovered
            # shards' dictionaries from THIS run's data — the
            # frozen-feature-space contract broken without an error.
            # With incremental_training the prior model fills the gap.
            raise ValueError(
                "dictionary_input must cover every configured shard; "
                f"missing {missing} — a partially frozen feature "
                "space re-indexes the uncovered shards per run"
            )
    elif di:
        di = {next(iter(shard_cfgs)): di}
    prev = {}
    if inc:
        _, prev = read_feature_space(
            spark, inc["model_dir"], flat_shard=next(iter(shard_cfgs))
        )
    dicts_in = {}
    for s, path in (di or {}).items():
        d = read_feature_space(spark, path, flat_shard=s)[1][s]
        if s in prev and not _same_dictionary(prev[s], d):
            raise ValueError(
                f"dictionary_input[{s!r}] differs from the prior "
                "model's saved per-shard dictionary — priors are "
                "indexed by the previous feature space; drop the "
                "dictionary_input entry (the prior dictionary is "
                "reused automatically) or retrain from scratch"
                if multi_shard else
                "dictionary_input differs from incremental_training."
                "model_dir's saved dictionary — priors are indexed by "
                "the previous feature space; drop dictionary_input (the "
                "previous dictionary is reused automatically) or "
                "retrain from scratch on the new space"
            )
        dicts_in[s] = persist(d, StorageLevel.MEMORY_AND_DISK_DESER)
    for s, d in prev.items():
        if s not in dicts_in:
            dicts_in[s] = persist(d, StorageLevel.MEMORY_AND_DISK_DESER)
    return dicts_in


def _assemble_training(cfg: dict, spark, shard_cfgs: dict, dicts_in: dict):
    """``_assembled``, then the optional data validation and summaries."""
    assembled, dictionaries, dims = _assembled(
        spark, cfg, dictionaries=dicts_in
    )
    dv_mode = cfg.get("data_validation", "disabled")
    if dv_mode != "disabled":
        # GameTrainingDriver's dataValidation hook (default
        # VALIDATE_DISABLED, GameTrainingDriver.scala:223): per-task
        # checks over the assembled frame in full or seeded-sample mode
        from photon_ml_spark.operators.validation import (
            standard_training_checks,
            validate_or_raise,
        )

        for s in shard_cfgs:
            validate_or_raise(
                assembled,
                standard_training_checks(
                    task=cfg.get("family", "binomial"),
                    features_col=f"{s}_values",
                ),
                mode=dv_mode,
            )
    if cfg.get("data_summary_dir"):
        _write_data_summaries(cfg, assembled, shard_cfgs, dictionaries)
    return assembled, dictionaries, dims


def _write_data_summaries(cfg, assembled, shard_cfgs, dictionaries) -> None:
    """dataSummaryDirectory (GameTrainingDriver): per-feature summaries
    of each assembled shard — nnz/moments/min/max from the exploded
    sparse pairs (zeros implicit: mean/variance use the full row
    count), dictionary-labeled, written as parquet. Runs on the RAW
    assembled frame, BEFORE any normalization — the artifact must
    describe the data, not the training transform (summaries are the
    INPUT normalization derives its factors from). Multi-shard runs
    write one summary per shard under {dir}/{shard}; the legacy
    single-shard layout stays flat."""
    from pyspark.sql import functions as F

    n_rows = assembled.count()
    for s in shard_cfgs:
        pairs = assembled.select(
            F.explode(
                F.arrays_zip(F.col(f"{s}_indices"), F.col(f"{s}_values"))
            ).alias("__p")
        ).select(
            F.col(f"__p.{s}_indices").alias("feature_index"),
            F.col(f"__p.{s}_values").cast("double").alias("x"),
        )
        nn = F.lit(float(n_rows))
        summary = pairs.groupBy("feature_index").agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum("x").alias("s1"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
            F.min("x").alias("min"),
            F.max("x").alias("max"),
        ).select(
            "feature_index",
            "nnz",
            (F.col("s1") / nn).alias("mean"),
            # n > 1 guard: a single-row input must not divide by zero
            # (throws under Spark 4 ANSI mode) — variance is NULL there
            F.when(
                nn > F.lit(1.0),
                (F.col("s2") - F.col("s1") * F.col("s1") / nn)
                / (nn - F.lit(1.0)),
            ).alias("variance"),
            # implicit zeros widen the range ONLY where the feature is
            # absent from some rows
            F.when(
                F.col("nnz") < F.lit(n_rows),
                F.least(F.col("min"), F.lit(0.0)),
            ).otherwise(F.col("min")).alias("min"),
            F.when(
                F.col("nnz") < F.lit(n_rows),
                F.greatest(F.col("max"), F.lit(0.0)),
            ).otherwise(F.col("max")).alias("max"),
        )
        target = (
            f"{cfg['data_summary_dir']}/{s}"
            if cfg.get("feature_shards") is not None
            else cfg["data_summary_dir"]
        )
        summary.join(
            F.broadcast(dictionaries[s]), "feature_index", "left"
        ).write.mode("overwrite").parquet(target)


def _normalize(cfg: dict, assembled, shard_cfgs: dict):
    """GameTrainingDriver's normalization param (NormalizationType,
    factors from the feature summaries, GameTrainingDriver.scala:
    590-656): training runs on factor-scaled SPARSE pairs (the shift
    folds into the intercept — see
    normalization.apply_sparse_normalization), and the final model is
    mapped back to original space before persisting. One factor table
    per shard — each shard is its own feature space with its own index
    range. Returns ``(frame, {shard: factor table})``."""
    norm_kind = str(cfg.get("normalization", "none")).lower()
    norm_tables: dict = {}
    if norm_kind == "none":
        return assembled, norm_tables
    from photon_ml_spark.ml.normalization import (
        apply_sparse_normalization,
        sparse_normalization_table,
    )

    for s in shard_cfgs:
        norm_tables[s] = persist(
            sparse_normalization_table(
                assembled, f"{s}_indices", f"{s}_values", kind=norm_kind,
            ),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        assembled = apply_sparse_normalization(
            assembled, norm_tables[s], f"{s}_indices", f"{s}_values"
        )
    return assembled, norm_tables


def _variance_kind(cfg: dict) -> str:
    """varianceComputationType: none|simple|full."""
    vc = str(cfg.get("variance_computation", "none")).lower()
    if vc not in ("none", "simple", "full"):
        raise ValueError(
            f"variance_computation must be none|simple|full, got {vc!r}"
        )
    return vc


def _fixed_prior(spark, model_dir: str, name: str, prev, dim: int):
    """(prior_mean, prior_precision) arrays (dim+1, intercept last)
    from the previous fixed model + its saved variance table. No
    variances on disk → warm-start-only (mean carried, no penalty),
    matching the reference's requirement that incremental priors
    come from a variance-computing run."""
    import numpy as np

    from photon_ml_spark.datamodel import INTERCEPT_KEY
    from photon_ml_spark.sources.model_io import read_variance_tables

    mean = np.append(
        np.asarray(prev.coefficients, dtype=float), float(prev.intercept)
    )
    vdf = read_variance_tables(spark, model_dir, [name]).get(name)
    if vdf is None:
        return None, None
    has_key = "feature_key" in vdf.columns
    cols = ["feature_index", "variance"] + (
        ["feature_key"] if has_key else []
    )
    prec = np.zeros(dim + 1)
    for r in vdf.select(*cols).collect():
        v = float(r.variance)
        if v <= 0:
            continue
        if has_key:
            # key-resolved tables (everything written since the
            # variances-on-the-wire round): the intercept is the
            # INTERCEPT_KEY row — imported reference models carry it
            # with a NULL index (their dictionaries have no intercept
            # slot), train-produced tables at slot dim-1
            if r.feature_key == INTERCEPT_KEY:
                prec[dim] = 1.0 / v
                continue
            if r.feature_index is None:
                continue  # key outside this feature space
            j = int(r.feature_index)
            if 0 <= j < dim:
                prec[j] = 1.0 / v
            continue
        # legacy keyless tables: intercept at the dictionary's final
        # slot by construction (build_feature_dictionary)
        j = int(r.feature_index)
        if j == dim - 1:
            prec[dim] = 1.0 / v
        elif 0 <= j < dim - 1:
            prec[j] = 1.0 / v
    return mean, prec


def _coordinate_configs(
    cfg: dict, spark, coord_shard, dictionaries, dims, inc, prev_model
) -> list:
    """The configured coordinates as ``CoordinateConfig``s, in update
    order."""
    from dataclasses import replace

    from photon_ml_spark.ml.constraints import parse_constraint_map
    from photon_ml_spark.ml.coordinate_descent import CoordinateConfig

    # varianceComputationType — read (and fail) BEFORE training, and
    # thread into RANDOM coordinates so per-entity fits carry σ²
    # (RandomEffectOptimizationProblem.scala:133-189); fixed
    # coordinates compute theirs at the CD optimum instead
    vc = _variance_kind(cfg)
    coords = []
    for c in cfg["coordinates"]:
        s = coord_shard[c["name"]]
        lo = hi = None
        if "constraints" in c:
            # reference parity (GLMSuite.createConstraintFeatureMap): a
            # JSON constraint list on a fixed coordinate resolves
            # against the coordinate's OWN shard dictionary into
            # per-index box bounds
            parsed = parse_constraint_map(
                c["constraints"], dictionaries[s], dims[s]
            )
            lo, hi = (None, None) if parsed is None else parsed
        pretrained = None
        pm = pp = None
        if prev_model is not None and c["name"] in prev_model.coordinates:
            pretrained = prev_model.coordinates[c["name"]]
            if c["kind"] == "fixed":
                pm, pp = _fixed_prior(
                    spark, inc["model_dir"], c["name"], pretrained, dims[s]
                )
        coords.append(
            CoordinateConfig(
                name=c["name"],
                kind=c["kind"],
                dim=dims[s],
                indices_col=f"{s}_indices",
                values_col=f"{s}_values",
                entity_col=c.get("entity_col"),
                reg_param=c.get("reg_param", 0.0),
                min_samples=c.get("min_samples", 1),
                active_cap=c.get("active_cap"),
                elastic_net_param=c.get("elastic_net_param", 0.0),
                solver=c.get("solver", "auto"),
                lower_bounds=lo,
                upper_bounds=hi,
                pretrained=pretrained,
                prior_mean=pm,
                prior_precision=pp,
                compute_variance=(
                    vc if vc != "none" and c["kind"] == "random" else None
                ),
            )
        )
    locked_names = set((inc or {}).get("locked_coordinates", []))
    if locked_names:
        # partialRetrainLockedCoordinates (M8): these coordinates keep
        # the previous model verbatim — scored every update, never
        # re-trained. Only meaningful with a previous model to lock to.
        unknown = sorted(locked_names - {c.name for c in coords})
        if unknown:
            raise ValueError(
                f"locked_coordinates names unknown coordinate(s) {unknown}"
            )
        coords = [
            replace(c, locked=True) if c.name in locked_names else c
            for c in coords
        ]
        missing = sorted(
            n for n in locked_names
            if prev_model is None or n not in prev_model.coordinates
        )
        if missing:
            raise ValueError(
                f"locked_coordinates {missing} have no model in "
                "incremental_training.model_dir to lock to"
            )
    seq = cfg.get("update_sequence")
    if seq:
        # coordinateUpdateSequence: explicit update order. Must be a
        # permutation of the configured coordinate names — a missing
        # name would silently drop a coordinate from training.
        names = [c.name for c in coords]
        if sorted(seq) != sorted(names):
            raise ValueError(
                f"update_sequence {seq} must be a permutation of the "
                f"configured coordinates {sorted(names)}"
            )
        by_name = {c.name: c for c in coords}
        coords = [by_name[n] for n in seq]
    return coords


def _validation_frame(cfg: dict, spark, dictionaries, norm_tables):
    """The held-out frame (or ``None``), assembled ONCE with the training
    dictionary and cached for every evaluation."""
    if not cfg.get("validation_input"):
        return None
    # the TRAINING range must not leak onto the validation path (a flat
    # validation dir would fail daily-dir resolution); validation gets
    # its own optional range — the reference's separate
    # validationDataDateRange/DaysRange params
    vcfg = {
        k: v for k, v in cfg.items() if k not in ("date_range", "days_range")
    }
    vcfg["input"] = cfg["validation_input"]
    if cfg.get("validation_date_range"):
        vcfg["date_range"] = cfg["validation_date_range"]
    if cfg.get("validation_days_range"):
        vcfg["days_range"] = cfg["validation_days_range"]
    frame, _, _ = _assembled(spark, vcfg, dictionaries=dictionaries)
    if norm_tables:
        from photon_ml_spark.ml.normalization import (
            apply_sparse_normalization,
        )

        for s, nt in norm_tables.items():
            # the TRAINING factors transform the held-out frame too —
            # refitting contexts on validation data would evaluate a
            # different model than the one being selected
            frame = apply_sparse_normalization(
                frame, nt, f"{s}_indices", f"{s}_values",
            )
    return persist(frame, StorageLevel.MEMORY_AND_DISK_DESER)


def _fit(assembled, coords, family, n_iterations, emitter, overrides,
         warm_from=None):
    """One GAME fit with per-coordinate reg-weight ``overrides``."""
    from dataclasses import replace

    from photon_ml_spark.estimator import GameEstimator

    cs = [
        replace(c, reg_param=float(overrides.get(c.name, c.reg_param)))
        for c in coords
    ]
    if warm_from is not None:
        # warm start across the λ sweep (ModelTraining.scala:178-224):
        # the previous λ's coordinate models seed the next fit — fixed
        # as optimizer x0, random as prior
        cs = [
            replace(
                c, pretrained=warm_from.coordinates.get(c.name, c.pretrained)
            )
            for c in cs
        ]
    est = GameEstimator(
        coordinates=cs, family=family, n_iterations=n_iterations,
    )
    for li in emitter.listeners():
        est.register_listener(li)
    return est.fit(assembled)


def _backmapped_model(model, coord_shard, norm_tables, norm_rows):
    """Original-space COPY of a transformed-space GameModel (never
    mutates — the sweep's candidate saves and the final save must not
    double-transform the selected model). Each coordinate maps back
    through its OWN shard's factor table, collected once into
    ``norm_rows``."""
    if not norm_tables:
        return model
    from photon_ml_spark.ml.coordinate_descent import GameModel
    from photon_ml_spark.ml.normalization import (
        backmap_fixed_model,
        backmap_random_effects,
    )

    out_model = GameModel(family=model.family)
    out_model.configs = dict(model.configs)
    for name, c in model.configs.items():
        s = coord_shard[name]
        m = model.coordinates[name]
        if c.kind == "fixed":
            if s not in norm_rows:
                # O(dim) like the model itself; collected ONCE per
                # shard — sweep mode saves once per candidate
                norm_rows[s] = norm_tables[s].collect()
            out_model.coordinates[name] = backmap_fixed_model(
                m, norm_rows[s]
            )
        else:
            out_model.coordinates[name] = backmap_random_effects(
                m, norm_tables[s]
            )
    return out_model


def _save_model(spark, cfg, dictionaries, coord_shard, norm_tables,
                norm_rows, model, path) -> None:
    """Save ``model`` in original space: it scores RAW data
    (NormalizationContext.scala:77-94 algebra: β_j = β'_j·factor_j,
    the intercept absorbs the shifts)."""
    from photon_ml_spark.sources.model_io import save_game_model

    save_game_model(
        _backmapped_model(model, coord_shard, norm_tables, norm_rows),
        path, spark,
        sparsity_threshold=cfg.get("sparsity_threshold", 0.0),
        dictionary={n: dictionaries[coord_shard[n]] for n in coord_shard},
    )


def _with_eval_margin(scored):
    """``scored`` plus the EVALUATION margin ``__eval_margin``: the
    transformer's score is the raw model margin WITHOUT offset;
    evaluation adds the offset explicitly (GameScoringDriver.scala:234,
    the estimator module's documented contract)."""
    from pyspark.sql import functions as F

    off = (
        F.coalesce(F.col("offset"), F.lit(0.0))
        if "offset" in scored.columns
        else F.lit(0.0)
    )
    return scored.withColumn("__eval_margin", F.col("score") + off)


def _validation_metric(validation_frame, family, fitted) -> float:
    """Primary validation metric on the held-out frame, by family
    direction (T8, EvaluatorType.scala:59-65 betterThan): AUROC
    (higher better) for binomial, negated RMSE otherwise — both on
    the offset-inclusive margin."""
    from photon_ml_spark.functions import metrics

    scored = _with_eval_margin(fitted.transform(validation_frame))
    if family in ("binomial", "logistic"):
        auc = metrics.roc_areas(
            scored, score="__eval_margin", label="response",
            names=("auroc",),
        )["auroc"]
        if auc is None:
            raise ValueError(
                "validation frame has a single response class (or "
                "no rows) — AUROC is undefined; fix validation_input"
            )
        return float(auc)
    return -float(
        metrics.weighted_rmse(
            scored, score="__eval_margin", label="response"
        ).first().rmse
    )


def _check_overrides(overrides, coord_names, where, hint="") -> None:
    """Fail fast on reg-weight typos: an override key matching no
    coordinate would silently select among identical models."""
    unknown = sorted(set(overrides) - coord_names)
    if unknown:
        raise ValueError(
            f"{where} names unknown coordinate(s) {unknown}{hint}"
        )


def _select(cfg, tuner, fit, validation_frame, coords, family, emitter,
            report, save, candidates_dir):
    """T8 model selection (GameTrainingDriver.scala selectModels): a
    pluggable tuner's search, an explicit ``reg_param_sweep``, or one
    fit. Returns the selected fitted model."""
    sweep = cfg.get("reg_param_sweep")
    if tuner is None and cfg.get("tuner"):
        from photon_ml_spark.ml.hypersearch import make_tuner

        tuner = make_tuner(cfg["tuner"])
    if tuner is not None and sweep:
        raise ValueError(
            "configure either reg_param_sweep (explicit list) or a "
            "tuner (searched selection), not both"
        )
    if tuner is None and not sweep:
        fitted = fit({})
        report["updates"] = len(fitted.history)
        return fitted
    # selection REQUIRES held-out data, same as the reference's
    # validation-data requirement
    if validation_frame is None:
        raise ValueError(
            ("tuner-driven selection" if tuner is not None
             else "reg_param_sweep")
            + " requires validation_input: selecting on the training "
            "metric would always favor the least-regularized model"
        )
    coord_names = {c.name for c in coords}
    metric = partial(_validation_metric, validation_frame, family)
    if tuner is not None:
        return _tuner_search(
            cfg, tuner, fit, metric, coord_names, emitter, report
        )
    for i, overrides in enumerate(sweep):
        _check_overrides(
            overrides, coord_names, f"reg_param_sweep[{i}]",
            f"; configured coordinates: {sorted(coord_names)}",
        )
    return _sweep(
        cfg, sweep, fit, metric, coords, emitter, report, save,
        candidates_dir,
    )


def _tuner_search(cfg, tuner, fit, metric, coord_names, emitter, report):
    """HyperparameterTuner seam: search per-coordinate reg weights
    against the validation metric, then refit the winning point."""
    from photon_ml_spark import events

    history = []

    def evaluate(params: dict) -> float:
        _check_overrides(params, coord_names, "tuner point")
        m = metric(fit(params))
        emitter.send_event(
            events.OptimizationLogEvent(
                index=len(history), reg_weights=dict(params), metric=m,
            )
        )
        history.append((dict(params), m))
        return m

    found = tuner.search(
        evaluate, n=int(cfg.get("tuner_iterations", 10)), maximize=True
    )
    best_params, best_value = found["best_params"], found["best_value"]
    # a custom tuner may return a reconstructed/rounded point not
    # value-identical to any history entry — fall back to -1 (unknown
    # index) instead of raising after all the expensive evaluations
    # but before the refit
    emitter.send_event(
        events.ModelSelectionEvent(
            index=next(
                (
                    i for i, (p, v) in enumerate(history)
                    if p == best_params and v == best_value
                ),
                -1,
            ),
            reg_weights=dict(best_params),
            metric=best_value,
        )
    )
    report["tuner"] = {
        "evaluations": [{"config": p, "metric": v} for p, v in history],
        "best": {"config": best_params, "metric": best_value},
    }
    return fit(best_params)


def _sweep(cfg, sweep, fit, metric, coords, emitter, report, save,
           candidates_dir):
    """Explicit reg-weight sweep, best validation metric wins; with
    ``candidates_dir`` (ModelOutputMode ALL) every candidate is saved."""
    from photon_ml_spark import events

    # warm_start_sweep (legacy Driver useWarmStart parity): fits run in
    # DESCENDING regularization order (ModelTraining.scala:168
    # sortWith(_ >= _) — heavier shrinkage converges fastest from zero),
    # each seeded by the previous λ's model. Report entries keep their
    # original sweep indexes either way.
    entries = list(enumerate(sweep))
    warm = bool(cfg.get("warm_start_sweep", False))
    if warm:
        # sort on each entry's EFFECTIVE per-coordinate weights — an
        # override dict omitting a coordinate means "use the
        # coordinate's configured reg_param", not 0.0
        defaults = [(c.name, float(c.reg_param)) for c in coords]
        entries.sort(
            key=lambda e: tuple(float(e[1].get(n, d)) for n, d in defaults),
            reverse=True,
        )
    results = []  # (index, overrides, metric) — models not retained
    best = None  # (metric, index, overrides, fitted)
    prev_fitted = None
    for i, overrides in entries:
        fitted = fit(
            overrides,
            warm_from=prev_fitted.model if warm and prev_fitted else None,
        )
        prev_fitted = fitted
        m = metric(fitted)
        # Driver.scala:179,409 parity: one optimization-log event per
        # regularization weight, same as the tuner
        emitter.send_event(
            events.OptimizationLogEvent(
                index=i, reg_weights=dict(overrides), metric=m,
            )
        )
        results.append((i, overrides, m))
        if best is None or m > best[0]:
            best = (m, i, overrides, fitted)
        if candidates_dir is not None:
            save(fitted.model, f"{candidates_dir}/{i}")
    report["sweep"] = [
        {"index": i, "config": ov, "metric": m} for i, ov, m in results
    ]
    report["best"] = {"index": best[1], "config": best[2], "metric": best[0]}
    emitter.send_event(
        events.ModelSelectionEvent(
            index=best[1], reg_weights=dict(best[2]), metric=best[0],
        )
    )
    return best[3]


def _fixed_effect_variances(cfg, spark, fitted, assembled, coord_shard,
                            dims, norm_tables) -> dict:
    """varianceComputationType (GameTrainingDriver; M10/A3): coefficient
    variances of each FIXED coordinate at the CD optimum — the
    coordinate's local problem sees the full summed margin as offset,
    so the full offset-inclusive margin is its exact curvature point.
    Computed in the (possibly normalized) training space, then scaled
    back by factor² — exact for the shift-free kinds; under
    standardization the intercept slot keeps its transformed-space
    variance (the shift adjustment's cross-covariances are not
    tracked, same simplification the per-slot SIMPLE path makes by
    ignoring off-diagonals). Returns ``{coordinate: table}``."""
    vc = _variance_kind(cfg)
    if vc == "none":
        return {}
    import pandas as pd
    from pyspark.sql import functions as F

    from photon_ml_spark.ml.variance import (
        simple_variance,
        sparse_full_hessian_variance,
        sparse_hessian_diagonal,
    )

    family = cfg.get("family", "binomial")
    scored_tr = _with_eval_margin(fitted.transform(assembled))
    variance_tables = {}
    for name, c in fitted.model.configs.items():
        if c.kind != "fixed":
            continue
        s = coord_shard[name]
        if vc == "simple":
            hd = sparse_hessian_diagonal(
                scored_tr, f"{s}_indices", f"{s}_values",
                margin_col="__eval_margin", weight_col="weight",
                family=family, l2=c.reg_param, dim=dims[s],
            )
            vt = simple_variance(hd).select("feature_index", "variance")
        else:
            rows = sparse_full_hessian_variance(
                scored_tr, dims[s], f"{s}_indices", f"{s}_values",
                margin_col="__eval_margin", weight_col="weight",
                family=family, l2=c.reg_param,
            )
            # Arrow, not a list of tuples: no Python worker unpickles it
            vt = spark.createDataFrame(
                pd.DataFrame(rows, columns=["feature_index", "variance"]),
                "feature_index long, variance double",
            )
        if norm_tables.get(s) is not None:
            vt = vt.join(
                F.broadcast(norm_tables[s]), "feature_index", "left"
            ).select(
                "feature_index",
                (
                    F.col("variance")
                    * F.pow(F.coalesce(F.col("factor"), F.lit(1.0)), 2)
                ).alias("variance"),
            )
        variance_tables[name] = vt
    return variance_tables


def _evaluate_selected(cfg: dict, fitted, frame, report: dict) -> None:
    """``per_group_evaluation`` (savePerGroupEvaluationResult,
    GameTrainingDriver.scala:878-901; written even with output_mode
    none) and ``evaluators`` (same grammar as the score driver) of the
    selected model over ``frame``."""
    pge = cfg.get("per_group_evaluation")
    if pge:
        from photon_ml_spark.functions import metrics

        scored = _with_eval_margin(fitted.transform(frame))
        group = pge["group_col"]
        kind = pge.get("metric", "auc")
        if kind == "auc":
            per_group = metrics.auroc_per_group(
                scored, group, score="__eval_margin", label="response"
            )
        elif kind == "precision_at_k":
            per_group = metrics.precision_at_k_per_group(
                scored, pge.get("k", 5), group,
                score="__eval_margin", label="response",
            )
        else:
            raise ValueError(
                "per_group_evaluation.metric must be auc|precision_at_k"
            )
        out = cfg["output_dir"]
        per_group.write.mode("overwrite").parquet(f"{out}/group-evaluation")
        report["group_evaluation"] = f"{out}/group-evaluation"
    if cfg.get("evaluators"):
        report["evaluation"] = _evaluate_scores(
            fitted.transform(frame), cfg["evaluators"]
        )


def _save_trained(spark, save, fitted, out, shard_cfgs, dictionaries,
                  coord_shard, variance_tables) -> None:
    """The selected model plus its feature space, so the score driver
    reassembles every shard with the TRAINING vocabulary, and the
    dictionary-labeled variance tables."""
    from photon_ml_spark.sources.model_io import write_feature_space

    save(fitted.model, out)
    write_feature_space(
        spark, out,
        None if shard_cfgs is None else _shard_specs(shard_cfgs),
        dictionaries, variance_tables,
        {n: dictionaries[coord_shard[n]] for n in variance_tables},
    )


@scope()
def index(cfg: dict, spark: SparkSession) -> None:
    """Offline feature-indexing job — the reference's standalone
    FeatureIndexingDriver (photon-client/.../index/
    FeatureIndexingDriver.scala:218-291: distinct feature keys →
    contiguous ids → persisted per-shard stores). Up to
    ``featurize.MAP_STRATEGY_MAX_KEYS`` keys the index is assigned on
    the driver, as the reference's in-memory map was; its PalDB
    off-heap requirement above ~200k features, :41-42, disappears
    because a larger dictionary stays a distributed relation end to
    end, written as parquet either way.

    Config: ``input`` (+ optional ``input_format``), ``feature_bags``,
    ``output_dir``; optional ``has_intercept`` (default true) and
    ``selected_features`` — a parquet path whose ``feature_key`` column
    allowlists the dictionary (GLMSuite.getSelectedFeatureSetFromFile
    flow, applied as a semi-join), or ``{"bags_dir": <path>}`` pointing
    at a ``bags`` driver output (per-bag name\\tterm text lists —
    the reference's NameAndTermFeatureBagsDriver artifact). The output
    is a single-shard feature space in the layout ``train`` persists
    beside a model (``model_io.write_feature_space``), so ``train``
    consumes it via ``dictionary_input``."""
    from photon_ml_spark.sources import featurize
    from photon_ml_spark.sources.model_io import (
        read_feature_space,
        write_feature_space,
    )

    _validate_cfg_keys(cfg, "index")
    df = _read_input(spark, cfg)
    selected = None
    if cfg.get("selected_features"):
        sel = cfg["selected_features"]
        if isinstance(sel, dict):
            # {"bags_dir": <path>}: a `bags` driver output — per-bag
            # name\tterm text lists (the reference's chained
            # NameAndTermFeatureBagsDriver → FeatureIndexingDriver flow)
            unknown = sorted(set(sel) - {"bags_dir"})
            if unknown or "bags_dir" not in sel:
                raise ValueError(
                    "selected_features as a map needs exactly "
                    f"{{'bags_dir': <path>}}, got keys {sorted(sel)}"
                )
            selected = featurize.read_name_term_bags(
                spark, sel["bags_dir"], cfg.get("feature_bags", ["features"])
            )
        elif str(sel).endswith(".avro"):
            # the reference's actual artifact: a FeatureNameTermAvro
            # file (GLMSuite.getSelectedFeatureSetFromFile — e.g. its
            # GLMSuiteIntegTest/selectedFeatures.avro fixture)
            selected = featurize.read_name_term_avro(spark, sel)
        else:
            selected = spark.read.parquet(sel)
    dictionary = featurize.build_feature_dictionary(
        df,
        cfg.get("feature_bags", ["features"]),
        has_intercept=bool(cfg.get("has_intercept", True)),
        selected_features=selected,
    )
    out = cfg["output_dir"]
    write_feature_space(spark, out, None, {"features": dictionary})
    n = read_feature_space(spark, out)[1]["features"].count()
    print(
        json.dumps(
            {"status": "indexed", "n_features": n, "output_dir": out}
        )
    )


@scope()
def bags(cfg: dict, spark: SparkSession) -> None:
    """Standalone name/term feature-bags job — the reference's fourth
    CLI driver, NameAndTermFeatureBagsDriver (photon-client/.../data/
    avro/NameAndTermFeatureBagsDriver.scala:148-180): scan the input
    (optionally date-ranged), and for each configured feature bag
    write the distinct (name, term) vocabulary to
    ``{output_dir}/{bag}`` as ``name\\tterm`` text (NameAndTerm's wire
    format). A later ``index`` run consumes the artifact via
    ``selected_features: {"bags_dir": <output_dir>}`` and ``train``
    picks the result up through ``dictionary_input`` — the reference's
    bags → index → train production chain.

    Config: ``input`` (+ optional ``input_format``,
    ``date_range``/``days_range``), ``feature_bags``, ``output_dir``."""
    from photon_ml_spark.sources import featurize

    _validate_cfg_keys(cfg, "bags")
    df = _read_input(spark, cfg)
    out = cfg["output_dir"]
    counts = featurize.write_name_term_bags(
        df, cfg.get("feature_bags", ["features"]), out
    )
    print(json.dumps({"status": "bags", "bags": counts, "output_dir": out}))


@scope()
def _evaluate_scores(scored, evaluators: list) -> dict:
    """Scoring-time evaluation — the reference scoring driver's
    ``evaluators`` param (GameScoringDriver.scala:180 →
    GameTransformer.scala:187-190: each requested EvaluatorType is
    computed over the scored data and reported). Accepts the
    reference's evaluator names, case-insensitive (EvaluatorType.
    scala:59-65 + MultiEvaluatorType id-tag grammar):

    - scalar: ``AUC``, ``AUPR``, ``RMSE``, ``MAE``, ``LOGISTIC_LOSS``,
      ``POISSON_LOSS``, ``SQUARED_LOSS``, ``SMOOTHED_HINGE_LOSS``
    - grouped: ``AUC:<group_col>`` (mean per-group AUC) and
      ``PRECISION@<k>:<group_col>`` (mean per-group precision@k)

    Metrics are computed on the OFFSET-INCLUSIVE margin against the
    ``response`` column; an unknown name or a label-less frame raises
    (fail fast, never a silently empty evaluation)."""
    from photon_ml_spark.functions import metrics

    if "response" not in scored.columns:
        raise ValueError(
            "evaluators need a 'response' label column on the scoring "
            "input — score without evaluators, or add labels"
        )
    m, lbl = "__eval_margin", "response"
    loss_kinds = {
        "LOGISTIC_LOSS": "logistic",
        "POISSON_LOSS": "poisson",
        "SQUARED_LOSS": "squared",
        "SMOOTHED_HINGE_LOSS": "smoothed_hinge",
    }
    # AUC and AUPR integrate one collected curve; every other evaluator
    # is a pass of its own over the scored frame
    areas = {"AUC": "auroc", "AUPR": "aupr"}
    names = [str(ev).strip().upper() for ev in evaluators]
    wanted = sorted({areas[n] for n in names if n in areas})
    sdf = _with_eval_margin(scored)
    if sum(n not in areas for n in names) + bool(wanted) > 1:
        # one scoring pass feeds every pass: without the persist each
        # one re-executes the full scoring plan (random-effect joins
        # included)
        sdf = persist(sdf)
    roc = (
        metrics.roc_areas(sdf, score=m, label=lbl, names=wanted)
        if wanted else {}
    )
    out = {}
    for ev, name in zip(evaluators, names):
        if name in areas:
            v = roc[areas[name]]
        elif name == "RMSE":
            v = metrics.weighted_rmse(sdf, score=m, label=lbl).first().rmse
        elif name == "MAE":
            v = metrics.weighted_mae(sdf, score=m, label=lbl).first().mae
        elif name in loss_kinds:
            kind = loss_kinds[name]
            v = metrics.loss_metric(sdf, kind, margin=m, label=lbl).first()[
                f"{kind}_loss"
            ]
        elif name.startswith("AUC:"):
            group = str(ev).split(":", 1)[1].strip()
            per = metrics.auroc_per_group(sdf, group, score=m, label=lbl)
            v = metrics.multi_metric_mean(per, "auc").first()[0]
        elif name.startswith("PRECISION@"):
            head, _, group = name.partition(":")
            if not group:
                raise ValueError(
                    f"evaluator {ev!r} needs a group col: PRECISION@k:<col>"
                )
            k = int(head.split("@", 1)[1])
            group = str(ev).split(":", 1)[1].strip()
            per = metrics.precision_at_k_per_group(
                sdf, k, group, score=m, label=lbl
            )
            v = metrics.multi_metric_mean(
                per, "precision_at_k"
            ).first()[0]
        else:
            raise ValueError(
                f"unknown evaluator {ev!r} (AUC, AUPR, RMSE, MAE, "
                "LOGISTIC_LOSS, POISSON_LOSS, SQUARED_LOSS, "
                "SMOOTHED_HINGE_LOSS, AUC:<group>, PRECISION@k:<group>)"
            )
        if v is None:
            raise ValueError(
                f"evaluator {ev!r} is undefined on this data (single "
                "response class or empty frame)"
            )
        out[str(ev)] = round(float(v), 6)
    return out


@scope()
def score(cfg: dict, spark: SparkSession) -> None:
    from photon_ml_spark.sources.model_io import (
        _hadoop_exists,
        read_feature_space,
    )

    _validate_cfg_keys(cfg, "score")
    model_dir = cfg["model_dir"]

    # REFERENCE-LAYOUT model dir (the migration path): no engine
    # metadata.json, but fixed-effect/random-effect coordinate dirs in
    # the reference toolchain's Avro layout — load coefficients AND
    # per-shard dictionaries straight from the artifact
    # (ModelProcessingUtils.scala:143-265), no retraining, no
    # re-indexing. The score config maps each shard id (id-info's
    # featureShardId) to its feature bags; a single-shard model takes
    # the plain shard/feature_bags shorthand.
    is_reference_layout = not _hadoop_exists(
        spark, f"{model_dir}/metadata.json"
    ) and (
        _hadoop_exists(spark, f"{model_dir}/fixed-effect")
        or _hadoop_exists(spark, f"{model_dir}/random-effect")
    )
    if is_reference_layout:
        from photon_ml_spark.sources.model_io import load_photon_game_model

        model, ref_dicts = load_photon_game_model(spark, model_dir)
        shard_ids = set(ref_dicts)
        if "feature_shards" in cfg:
            missing = sorted(shard_ids - set(cfg["feature_shards"]))
            if missing:
                raise ValueError(
                    f"reference model at {model_dir!r} uses feature "
                    f"shard(s) {missing} with no bag mapping in "
                    "feature_shards"
                )
            cfg = {
                **cfg,
                "feature_shards": {
                    s: cfg["feature_shards"][s] for s in shard_ids
                },
            }
        elif len(shard_ids) == 1:
            (sole,) = shard_ids
            cfg = {
                **cfg,
                "feature_shards": {
                    sole: {
                        "bags": cfg.get("feature_bags", ["features"]),
                        "has_intercept": False,
                    }
                },
            }
            cfg.pop("shard", None)
            cfg.pop("feature_bags", None)
        else:
            raise ValueError(
                f"reference model at {model_dir!r} uses shards "
                f"{sorted(shard_ids)}; provide feature_shards mapping "
                "each shard id to its bags"
            )
        _score_body(cfg, spark, ref_dicts, model=model)
        return

    shards, dictionaries = read_feature_space(
        spark, model_dir, flat_shard=cfg.get("shard", "features")
    )
    if shards is not None:
        # multi-shard model: the shard definitions AND vocabularies are
        # the training run's saved artifacts — user-supplied shard keys
        # would be a second source of truth, so they are rejected
        if "shard" in cfg or "feature_bags" in cfg:
            raise ValueError(
                "model_dir holds a multi-shard model; its saved "
                "feature-shards.json defines the shards — drop the "
                "'shard'/'feature_bags' keys from the score config"
            )
        cfg = {**cfg, "feature_shards": shards}
    dictionaries = {
        s: persist(d, StorageLevel.MEMORY_AND_DISK_DESER)
        for s, d in dictionaries.items()
    }
    _score_body(cfg, spark, dictionaries)


def _score_body(cfg: dict, spark, dictionaries: dict, model=None) -> None:
    from photon_ml_spark.estimator import GameTransformer
    from photon_ml_spark.sources.model_io import load_game_model, save_scores

    assembled, _, _ = _assembled(spark, cfg, dictionaries=dictionaries)
    dv_mode = cfg.get("data_validation", "disabled")
    if dv_mode != "disabled":
        # sanityCheckDataFrameForScoring with no task type — the
        # label-free base validators (default VALIDATE_DISABLED,
        # GameScoringDriver.scala:103)
        from photon_ml_spark.operators.validation import (
            standard_scoring_checks,
            validate_or_raise,
        )

        for s in dictionaries:
            validate_or_raise(
                assembled,
                standard_scoring_checks(features_col=f"{s}_values"),
                mode=dv_mode,
            )
    if model is None:
        model = load_game_model(cfg["model_dir"], spark)
    scored = GameTransformer(model=model).transform(assembled)
    save_scores(
        scored, cfg["output_dir"],
        output_files_limit=cfg.get("output_files_limit"),
        model_id=cfg.get("model_id"),
    )
    report = {"status": "scored", "output_dir": cfg["output_dir"]}
    if cfg.get("evaluators"):
        report["evaluation"] = _evaluate_scores(scored, cfg["evaluators"])
    print(json.dumps(report))



def _pii_stage(frame, pii_cfg):
    """Shared PII stage for both curate drivers (same precedent as
    `_quality_prefilter` — one definition, or the batch and stream
    flows drift and replayed batches stop hashing identical content).
    action='redact' (default) rewrites text with matches replaced by
    [PII]; action='drop' removes documents with more than
    ``max_matches`` (default 0) total matches. ``{}`` enables the
    stage with defaults; a non-dict value is a config error."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import text

    if not isinstance(pii_cfg, dict):
        raise ValueError(
            "pii must be a config object ({} enables the defaults), "
            f"got {pii_cfg!r}"
        )
    _validate_stage_keys(pii_cfg, "pii")
    action = str(pii_cfg.get("action", "redact")).lower()
    scanned = text.pii_scan(frame, text_col="text")
    total = sum(
        (F.col(f"n_{name}") for name in text.PII_PATTERNS),
        F.lit(0),
    )
    drops = ["text_redacted", *[f"n_{n}" for n in text.PII_PATTERNS]]
    if action == "redact":
        return scanned.withColumn("text", F.col("text_redacted")).drop(
            *drops
        )
    if action == "drop":
        cap = int(pii_cfg.get("max_matches", 0))
        return scanned.filter(total <= cap).drop(*drops)
    raise ValueError("pii.action must be redact|drop")


def _quality_prefilter(docs, q, tokens_col=None):
    """The STATELESS quality filters shared by the batch and stream
    drivers (pure expressions — streaming-safe): heuristic quality
    scoring, language allowlist, token floor, quality floor. Returns
    the scored-and-filtered frame (quality columns retained for the
    batch driver's further stages)."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import text

    scored = text.quality_score(docs, tokens_col=tokens_col)
    if "languages" in q:
        scored = text.identify_language(scored)
        scored = scored.filter(F.col("lang_pred").isin(*q["languages"]))
    if "min_tokens" in q:
        scored = scored.filter(F.col("n_tokens") >= q["min_tokens"])
    if "min_quality" in q:
        scored = scored.filter(F.col("quality") >= q["min_quality"])
    return scored


@scope()
def curate(cfg: dict, spark: SparkSession) -> None:
    """End-to-end training-corpus curation driver — the data-pipeline
    twin of ``train``/``score``. Every stage is optional and config-
    gated; stages compose in the canonical order PII scrub → quality →
    exact dedup
    → near-dedup → contamination → mix → split → chunk:

    {"input": "<docs parquet: doc_id, text[, source]>",
     "output_dir": "<dir>",
     "quality": {"min_tokens": 5, "min_quality": 0.2,
                 "languages": ["en"],
                 "max_ppl": 5000,                  # drop below/outside
                 "min_novelty": 0.1,               # trigram-novelty floor
                 "blocked_terms": ["spam"]},       # drop docs containing
                                                   # any blocked token
     "exact_dedup": true,                          # bag-of-words keeper
     "near_dedup": {"threshold": 0.5, "n": 2,      # MinHash+LSH clusters
                    "index_path": "<state dir>",   # OPTIONAL: incremental
                    "batch_id": 0},                # mode — dedup this run
                                                   # as one daily batch
                                                   # against the shared
                                                   # persisted index (same
                                                   # state as curate-stream;
                                                   # first-seen-wins across
                                                   # runs; incompatible
                                                   # with "split")
     "contamination": {"eval_input": "<parquet>",  # drop docs overlapping
                       "ngram": 3, "min_shared": 5},
     "select": {"target_lang": "zh", "k": 100,     # DSIR importance
                "temperature": 1.0},               # resampling toward
                                                   # the target domain
     "mix": {"shares": {"src0": 0.5, ...},         # corpus mixing;
             "mode": "oversample",                 # optional UniMax
             "max_epochs": 4.0},                   # epoch-capped repeat
     "split": {"test_frac": 0.1},                  # leakage-safe (uses
                                                   # near-dedup clusters)
     "chunk": {"max_tokens": 1024, "overlap": 64},
     "tokenize": {"kind": "bpe",                   # or "unigram"
                  "n_merges": 256,                 # bpe merge budget
                  "vocab_size": 512},              # unigram vocab target
                                                   # trained on the TRAIN
                                                   # side only when split;
                                                   # artifact persisted to
                                                   # {output_dir}/tokenizer
     "report": true}                               # publish per-language
                                                   # data cards (input +
                                                   # surviving corpus)

    Writes ``{output_dir}/{train,test}`` (or ``{output_dir}/docs`` when
    no split) and prints a one-line JSON per-stage row-count report.
    With ``report`` on, ``{output_dir}/report/{input,output}`` hold the
    ``corpus_report`` data cards (doc/token counts, duplicate mass, PII
    incidence per language) for the corpus before and after curation.
    """
    import time

    from pyspark.sql import functions as F

    from photon_ml_spark.operators import dedup, sampling, text

    _validate_cfg_keys(cfg, "curate")
    for stage in ("quality", "near_dedup", "contamination", "select",
                  "mix", "split", "chunk", "tokenize"):
        if cfg.get(stage) is not None:
            _validate_stage_keys(cfg[stage], stage)
    timings: dict[str, float] = {}
    _t_last = time.perf_counter()

    def _stamp(stage: str) -> None:
        # wall-clock per stage, measured at its materialization point
        # (the count/write that executes its lineage) — regressions in
        # one stage's plan show up in ITS number, not a blended total
        nonlocal _t_last
        now = time.perf_counter()
        timings[stage] = round(now - _t_last, 2)
        _t_last = now

    # shared tokenization (tokens_expr seam): the token array is
    # materialized ONCE into the cached frame and every tokenizing
    # stage (quality, exact dedup, near-dedup, contamination, DSIR
    # selection) reads it instead of re-splitting the text — at 100 TB
    # a per-stage re-tokenize is the single largest redundant scan in
    # the pipeline. The column is internal; _finish/_card drop it.
    TOK = "__toks"
    from photon_ml_spark.sources.datasets import spread_scan

    # spread an under-split scan to core count BEFORE the per-document
    # transforms (tokenization, PII regexes, shingling) — otherwise a
    # small/single-row-group input runs them single-threaded up to the
    # first shuffle; no-op on block-sized inputs (datasets.spread_scan)
    docs = spread_scan(spark.read.parquet(cfg["input"]))
    report: dict[str, int] = {"input": docs.count()}
    _stamp("input")
    # the "input" data card must describe the RAW corpus — its whole
    # point includes PII incidence, which the pii stage below removes
    raw_docs = docs

    def _advance(new_docs, report_key, stage):
        """Swap in the next corpus generation: checkpoint it, count the
        materialized blocks for the report, stamp, then release the
        superseded generation — each one is corpus-sized, so keeping
        every stage's generation multiplies storage by the stage count.
        A checkpoint rather than a cache: a cached generation keeps the
        whole upstream chain in its plan, and re-analyzing that growing
        plan cost ~5 s of driver gaps over a 9-stage run (r13)."""
        nonlocal docs
        prev = docs
        docs = checkpoint(new_docs)
        report[report_key] = docs.count()
        _stamp(stage)
        release(prev)

    pii_cfg = cfg.get("pii")
    if pii_cfg is not None:
        # PII stage FIRST — redaction rewrites the text, and every
        # downstream stage must see the scrubbed corpus. The shared
        # token column is folded into the SAME cached generation (a
        # separate withColumn rebinding would orphan the cache), and
        # routing through _advance caches it: uncached, the
        # per-pattern regex chain would re-execute in every downstream
        # stage's lineage.
        _advance(
            _pii_stage(docs, pii_cfg).withColumn(
                TOK, text.tokens(F.col("text"))
            ),
            "after_pii",
            "pii",
        )
    else:
        docs = docs.withColumn(TOK, text.tokens(F.col("text")))

    def _card(frame, name):
        # group by whichever descriptor column the corpus carries
        g = next(
            (c for c in ("lang", "source") if c in frame.columns), None
        )
        frame = (
            frame if g else frame.withColumn("corpus", F.lit("all"))
        ).drop(TOK)
        text.corpus_report(frame, group_col=g or "corpus").write.mode(
            "overwrite"
        ).parquet(f"{cfg['output_dir']}/report/{name}")

    if cfg.get("report"):
        _card(raw_docs, "input")
        _stamp("report_input")

    q = cfg.get("quality")
    if q:
        scored = _quality_prefilter(docs, q, tokens_col=TOK)
        if "max_ppl" in q:
            ppl = text.unigram_perplexity(docs, tokens_col=TOK).select(
                "doc_id", F.col("ppl")
            )
            scored = scored.join(ppl, "doc_id").filter(
                F.col("ppl") <= q["max_ppl"]
            )
        if "min_novelty" in q:
            nov = text.ngram_novelty(docs, tokens_col=TOK).select(
                "doc_id", "novelty"
            )
            scored = scored.join(nov, "doc_id").filter(
                F.col("novelty") >= q["min_novelty"]
            )
        if q.get("blocked_terms"):
            blocked = F.array(*[F.lit(t) for t in q["blocked_terms"]])
            scored = scored.filter(
                ~F.arrays_overlap(F.col(TOK), blocked)
            )
        _advance(scored.select(*docs.columns), "after_quality", "quality")

    if cfg.get("exact_dedup"):
        dups = dedup.bow_exact_dedup(docs, tokens_col=TOK)
        losers = dups.select(
            F.explode("doc_ids").alias("doc_id"), F.col("keep_id")
        ).filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
        _advance(
            docs.join(losers, "doc_id", "left_anti"),
            "after_exact_dedup",
            "exact_dedup",
        )

    pairs = None
    nd = cfg.get("near_dedup")
    if nd and nd.get("index_path"):
        # INCREMENTAL near-dedup: this run is one daily batch against
        # the shared persisted minhash index (the same state — and the
        # same function — the streaming driver uses), so a near-dup of
        # ANY previously indexed doc is dropped without rescanning the
        # stored corpus, and this batch's survivors extend the index
        # for the next run. first-seen-wins across runs.
        if cfg.get("split"):
            raise ValueError(
                "near_dedup.index_path (incremental mode) cannot feed "
                "'split': leakage-safe splitting needs the batch's "
                "full near-dup cluster structure, which the "
                "incremental flow deliberately does not rescan — run "
                "split from a full (non-incremental) curate"
            )
        from photon_ml_spark.streaming.curation import (
            neardup_process_batch,
        )

        bid = int(nd.get("batch_id", 0))
        staged = f"{cfg['output_dir']}/neardup_survivors"
        # the shared token column rides along (tokens_col) so the
        # shingle-id hashing reads it instead of re-splitting the
        # text; neardup_process_batch drops it before publishing
        neardup_process_batch(
            docs,
            nd["index_path"],
            staged,
            batch_id=bid,
            threshold=nd.get("threshold", 0.5),
            n=nd.get("n", 2),
            num_hashes=nd.get("num_hashes", 16),
            bands=nd.get("bands", 4),
            tokens_col=TOK,
        )
        # neardup_process_batch legitimately publishes NOTHING on two
        # early returns: an empty batch (every doc already filtered
        # out upstream — continue with the empty frame), and a
        # completed replay of this batch_id whose survivors were
        # staged under the ORIGINAL output_dir (only resumable from
        # there — reading a missing path here would crash after every
        # upstream stage already ran)
        from photon_ml_spark.sources.model_io import _hadoop_exists

        advanced = False
        if _hadoop_exists(spark, f"{staged}/batch={bid}"):
            # survivors come back from the staged batch=<id> partition;
            # re-attach the shared token column for the later stages
            _advance(
                spark.read.parquet(staged)
                .filter(F.col("batch") == bid)
                .drop("batch")
                .withColumn(TOK, text.tokens(F.col("text"))),
                "after_near_dedup",
                "near_dedup",
            )
            advanced = True
        elif docs.limit(1).count() == 0:
            pass  # empty batch: keep the (empty) docs frame as-is
        else:
            raise ValueError(
                f"near_dedup.batch_id={bid} was already fully "
                "published for this input under a DIFFERENT "
                "output_dir — its survivors are not staged under "
                f"{staged!r}; re-run with the original output_dir or "
                "a fresh batch_id"
            )
        if not advanced:
            report["after_near_dedup"] = docs.count()
            _stamp("near_dedup")
    elif nd:
        # exact-duplicate sets collapse to one representative BEFORE
        # the LSH bucket self-join (a corpus with
        # millions of copies of one boilerplate page otherwise explodes
        # that join quadratically — the hot-bucket hazard), and the
        # downstream consumers (cluster_and_keep here, leakage_safe_
        # split below) take the LINEAR rep-pair + member→rep star edge
        # list — same connected components as the full pair relation,
        # never the within-group cliques. Shingles are numbered by hash,
        # as in the incremental flow (dedup.minhash_signatures says why
        # dense ids do not suit minhash), and a small verified edge list
        # is clustered on the driver (dedup.connected_components).
        rep_pairs, membership = dedup.minhash_lsh_collapsed(
            docs, threshold=nd.get("threshold", 0.5),
            n=nd.get("n", 2), tokens_col=TOK,
            num_hashes=nd.get("num_hashes", 16), bands=nd.get("bands", 4),
        )
        pairs = persist(
            dedup.neardup_cluster_edges(rep_pairs, membership),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        if cfg.get("split"):
            # split consumes the full clusters later; materialize the
            # cached pair relation NOW so the LSH cost lands on THIS
            # stamp instead of silently inflating out_train (the cache
            # is reused, so this count is not extra work)
            pairs.count()
            _stamp("near_dedup")
        # keep one doc per near-dup cluster unless a split stage wants
        # the full clusters (split drops nothing; it separates them)
        if not cfg.get("split"):
            _advance(
                dedup.cluster_and_keep(docs, pairs)
                .filter("is_keep").drop("cluster_id", "is_keep"),
                "after_near_dedup",
                "near_dedup",
            )

    cont = cfg.get("contamination")
    if cont:
        ev = spark.read.parquet(cont["eval_input"])
        bad = dedup.contaminated_docs(
            docs, ev, n=cont.get("ngram", 3), tokens_col=TOK
        ).filter(F.col("n_shared_ngrams") >= cont.get("min_shared", 1))
        _advance(
            docs.join(bad.select("doc_id"), "doc_id", "left_anti"),
            "after_contamination",
            "contamination",
        )

    sel = cfg.get("select")
    if sel:
        chosen = sampling.dsir_select(
            docs,
            F.col(sel.get("lang_col", "lang")) == sel["target_lang"],
            k=sel["k"],
            temperature=sel.get("temperature", 1.0),
            tokens_col=TOK,
        ).select("doc_id")
        _advance(
            docs.join(chosen, "doc_id", "left_semi"),
            "after_select",
            "select",
        )

    mix = cfg.get("mix")
    if mix:
        if mix.get("mode") == "oversample" and cfg.get("split"):
            # copies of one doc must never straddle the train/test
            # boundary, and the test side should not be oversampled at
            # all — split first, then oversample the train side
            raise ValueError(
                "mix.mode='oversample' cannot run before 'split': "
                "split the corpus first, then oversample the train side"
            )
        if mix.get("mode") == "oversample":
            mixed = sampling.oversample_to_shares(
                docs, mix.get("group_col", "source"), mix["shares"],
                max_epochs=mix.get("max_epochs", 4.0), uid_col="doc_id",
            )
        else:
            mixed = sampling.corpus_mix(
                docs, mix.get("group_col", "source"), mix["shares"],
                uid_col="doc_id",
            )
        _advance(mixed, "after_mix", "mix")

    ch = cfg.get("chunk")
    tok = cfg.get("tokenize")
    tok_art = None  # (kind, merges-list | vocab-dict) once trained

    def _train_tokenizer(corpus):
        """Train on the given corpus (the TRAIN side when splitting —
        the tokenizer vocabulary is a trained artifact, so it obeys the
        same leakage boundary as the model) and persist the artifact
        under ``{output_dir}/tokenizer``."""
        nonlocal tok_art
        kind = tok.get("kind", "bpe")
        if kind == "bpe":
            merges_df = text.bpe_train(
                corpus,
                n_merges=tok.get("n_merges", 256),
                min_pair_count=tok.get("min_pair_count", 2),
            )
            merges_df.write.mode("overwrite").parquet(
                f"{cfg['output_dir']}/tokenizer/merges"
            )
            merges = [
                (r.left, r.right)
                for r in merges_df.orderBy("merge_idx").collect()
            ]
            tok_art = ("bpe", merges)
            report["tokenizer_merges"] = len(merges)
        elif kind == "unigram":
            vocab_df = text.unigram_train(
                corpus, vocab_size=tok.get("vocab_size", 512)
            )
            vocab_df.write.mode("overwrite").parquet(
                f"{cfg['output_dir']}/tokenizer/vocab"
            )
            vocab = {r.piece: r.logprob for r in vocab_df.collect()}
            tok_art = ("unigram", vocab)
            report["tokenizer_pieces"] = len(vocab)
        else:
            raise ValueError(f"tokenize.kind must be bpe|unigram, got {kind!r}")

    def _encode(frame):
        kind, art = tok_art
        tcol = "chunk_text" if ch else "text"
        # a synthetic row key survives chunking's doc_id duplication;
        # persisted so the encode join sees the same ids the output does
        keyed = persist(
            frame.withColumn("__tok_uid", F.monotonically_increasing_id())
        )
        if kind == "bpe":
            enc = text.bpe_encode(
                keyed, art, id_col="__tok_uid", text_col=tcol
            ).withColumnRenamed("bpe_tokens", "tokens")
        else:
            enc = text.unigram_encode(
                keyed, art, id_col="__tok_uid", text_col=tcol
            ).withColumnRenamed("unigram_tokens", "tokens")
        return keyed.join(enc, "__tok_uid", "left").drop("__tok_uid"), keyed

    def _finish(frame, name):
        if ch:
            # chunking consumes the shared token column directly (its
            # output schema never carries it)
            frame = text.chunk_documents(
                frame, max_tokens=ch["max_tokens"],
                overlap=ch.get("overlap", 0),
                tokens_col=TOK if TOK in frame.columns else None,
            )
        else:
            frame = frame.drop(TOK)  # internal shared-tokenization column
        pinned = None
        if tok_art is not None:
            frame, pinned = _encode(frame)
        path = f"{cfg['output_dir']}/{name}"
        frame.write.mode("overwrite").parquet(path)
        if pinned is not None:
            release(pinned)
        # count the WRITTEN table (parquet metadata, near-free) rather
        # than re-executing the split/chunk lineage a second time
        report[f"out_{name}"] = spark.read.parquet(path).count()
        _stamp(f"out_{name}")

    if cfg.get("report"):
        # the card describes the surviving DOCUMENTS (pre-chunking —
        # chunk rows are training artifacts, not corpus members)
        _card(docs, "output")
        _stamp("report_output")

    sp = cfg.get("split")
    if sp:
        if pairs is None:
            pairs = spark.createDataFrame([], "id_a long, id_b long")
        labeled = sampling.leakage_safe_split(
            docs, pairs, test_frac=sp.get("test_frac", 0.1)
        )
        # serialized: full-text corpus rows — the heaviest frames in
        # the pipeline; deserialized caching means one Java object per
        # row (the GC failure mode BASELINE round 8 documents)
        labeled = persist(labeled)
        if tok:
            _train_tokenizer(labeled.filter(F.col("split") == "train"))
            _stamp("tokenizer_train")
        for side in ("train", "test"):
            _finish(
                labeled.filter(F.col("split") == side)
                .drop("cluster_id", "split"),
                side,
            )
        release(labeled)
    else:
        if tok:
            _train_tokenizer(docs)
            _stamp("tokenizer_train")
        _finish(docs, "docs")
    print(
        json.dumps(
            {"status": "curated", "report": report, "timings": timings}
        )
    )


@scope()
def curate_stream(cfg: dict, spark: SparkSession) -> None:
    """Streaming near-dedup driver: drain a document-stream directory
    through the shared incremental minhash index (first-seen-wins, see
    streaming/curation.py) and stop when the backlog is empty:

    {"input_dir": "<dir of parquet files (a stream source)>",
     "schema": "doc_id long, source string, lang string, text string",
     "index_path": "<dedup state dir (shared with batch increments)>",
     "output_dir": "<survivor parquet dir>",
     "checkpoint_dir": "<streaming checkpoint>",
     "quality": {"min_tokens": 5, "min_quality": 0.2,
                 "languages": ["en"]},             # stateless pre-filter
                                                   # (same exprs as the
                                                   # batch driver; runs
                                                   # BEFORE dedup so
                                                   # replayed batches see
                                                   # identical content)
     "threshold": 0.5, "n": 2,                     # jaccard / shingle n
     "max_files_per_trigger": 1}                   # micro-batch bound
    """
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import text
    from photon_ml_spark.streaming.curation import stream_neardup

    _validate_cfg_keys(cfg, "curate_stream")
    reader = spark.readStream.schema(cfg["schema"])
    if cfg.get("max_files_per_trigger"):
        reader = reader.option(
            "maxFilesPerTrigger", cfg["max_files_per_trigger"]
        )
    # shared tokenization, stream edition: one token-array column feeds
    # both the stateless quality prefilter and the per-batch shingle-id
    # hashing (pure expression — streaming-safe); neardup_process_batch
    # drops it before publishing survivors
    TOK = "__toks"
    stream = reader.parquet(cfg["input_dir"])
    pii_cfg = cfg.get("pii")
    if pii_cfg is not None:
        # same PII stage as the batch driver (shared _pii_stage helper)
        # — pure regex expressions, stateless and streaming-safe. Runs
        # BEFORE tokenization/dedup so the index only ever sees
        # scrubbed text (a replayed batch must hash identical content).
        stream = _pii_stage(stream, pii_cfg).select(*stream.columns)
    stream = stream.withColumn(TOK, text.tokens(F.col("text")))
    qc = cfg.get("quality")
    if qc:
        stream = _quality_prefilter(
            stream, qc, tokens_col=TOK
        ).select(*stream.columns)
    q = stream_neardup(
        stream,
        cfg["index_path"],
        cfg["output_dir"],
        cfg["checkpoint_dir"],
        threshold=cfg.get("threshold", 0.5),
        n=cfg.get("n", 1),
        num_hashes=cfg.get("num_hashes", 16),
        bands=cfg.get("bands", 4),
        tokens_col=TOK,
    )
    q.awaitTermination()
    n_out = spark.read.parquet(cfg["output_dir"]).count()
    print(json.dumps({"status": "curated-stream", "survivors": n_out}))


@scope()
def import_model(cfg: dict, spark: SparkSession) -> None:
    """One-time migration: convert a REFERENCE-toolchain GAME model dir
    (Avro fixed-effect/random-effect layout, ModelProcessingUtils.
    scala:143-265) into the engine's native model layout — after which
    EVERY existing flow works on it unchanged: `score` (standard
    path), `train` with `incremental_training` (M9 warm start /
    priors), and partial retraining via `locked_coordinates` (M8).

    Config: ``model_dir`` (reference layout), ``output_dir``; optional
    ``family`` (inferred from the artifact's modelClass otherwise),
    ``shard`` (single-shard models: the shard name the converted
    model's sparse columns use — default "features", matching the
    train driver's single-shard convention), ``feature_shards``
    (multi-shard models: {referenceShardId: {bags: [...],
    has_intercept}} recorded into feature-shards.json so score/train
    reassemble identically).

    The feature dictionaries are derived from the model's own key
    space (deterministic lexicographic order) and persisted beside the
    model exactly as `train` would have."""
    from dataclasses import replace as _replace

    from photon_ml_spark.sources.model_io import (
        load_photon_game_model,
        save_game_model,
        write_feature_space,
    )

    _validate_cfg_keys(cfg, "import_model")
    model, dicts = load_photon_game_model(
        spark, cfg["model_dir"], family=cfg.get("family")
    )
    out = cfg["output_dir"]
    shard_ids = sorted(dicts)
    if len(shard_ids) == 1 and "feature_shards" not in cfg:
        # single-shard: adopt the train driver's shard naming so a
        # plain {"shard": <name>} score/train config lines up
        (ref_shard,) = shard_ids
        shard_name = cfg.get("shard", "features")
        for n, c in model.configs.items():
            model.configs[n] = _replace(
                c,
                indices_col=f"{shard_name}_indices",
                values_col=f"{shard_name}_values",
            )
        shards = None
        coord_dict = {n: dicts[ref_shard] for n in model.configs}
    else:
        fs = cfg.get("feature_shards")
        if not isinstance(fs, dict) or sorted(fs) != shard_ids:
            raise ValueError(
                f"reference model uses shards {shard_ids}; provide "
                "feature_shards mapping each shard id to its bags "
                "(recorded into feature-shards.json)"
            )
        for sid in shard_ids:
            _validate_stage_keys(fs[sid], "feature_shards{}")
        shards = {
            sid: {
                "bags": list(fs[sid].get("bags", ["features"])),
                "has_intercept": bool(fs[sid].get("has_intercept", False)),
            }
            for sid in shard_ids
        }
        coord_dict = {
            n: dicts[c.indices_col[: -len("_indices")]]
            for n, c in model.configs.items()
        }
    save_game_model(model, out, spark, dictionary=coord_dict)
    # imported σ² land where incremental_training looks for them
    # (feature_key, feature_index, variance; the intercept row keeps a
    # NULL index since loader dictionaries carry no intercept slot,
    # routed by key in _fixed_prior) — so a retrain-with-prior from
    # this import uses precision 1/σ² instead of the plain-L2 fallback
    write_feature_space(spark, out, shards, dicts, model.variances)
    print(json.dumps({
        "status": "imported",
        "output_dir": out,
        "family": model.family,
        "coordinates": {
            n: {"kind": c.kind, "dim": c.dim}
            for n, c in model.configs.items()
        },
    }))


@scope()
def export_model(cfg: dict, spark: SparkSession) -> None:
    """The inverse migration: write a NATIVE model dir (what `train` or
    `import-model` produced) in the REFERENCE toolchain's Avro layout,
    so models trained here keep serving through existing
    reference-based consumers. Dictionaries come from the native dir's
    saved feature space (``model_io.read_feature_space``); the export
    refuses a model saved without one (name/term labels are the wire
    format)."""
    from photon_ml_spark.sources.model_io import (
        load_game_model,
        read_feature_space,
        read_variance_tables,
        save_photon_game_model,
    )

    _validate_cfg_keys(cfg, "export_model")
    mdir = cfg["model_dir"]
    model = load_game_model(mdir, spark)
    shards, dictionaries = read_feature_space(spark, mdir)
    if shards is None:
        # single-shard: every coordinate's indices_col shares one
        # prefix — map the dictionary under each distinct shard name
        (d,) = dictionaries.values()
        dictionaries = {
            c.indices_col[: -len("_indices")]: d
            for c in model.configs.values()
        }
    # a variance-computing train run saved per-fixed-coordinate σ²
    # tables beside the model — put them on the wire
    # (BayesianLinearModelAvro.variances) so reference-side incremental
    # learning (PriorDistribution.scala:23-120) keeps the prior
    variance_tables = read_variance_tables(
        spark, mdir,
        [n for n, c in model.configs.items() if c.kind == "fixed"],
    )
    save_photon_game_model(
        model, dictionaries, cfg["output_dir"], spark,
        variance_tables=variance_tables or None,
    )
    print(json.dumps({
        "status": "exported",
        "output_dir": cfg["output_dir"],
        "coordinates": sorted(model.configs),
    }))


def main(argv: list[str] | None = None) -> None:
    from photon_ml_spark.session import get_spark

    ap = argparse.ArgumentParser(prog="photon_ml_spark")
    ap.add_argument(
        "command",
        choices=["bags", "index", "train", "score", "curate",
                 "curate-stream", "import-model", "export-model"],
    )
    ap.add_argument("--config", required=True)
    args = ap.parse_args(argv)
    with open(args.config) as f:
        cfg = json.load(f)
    spark = get_spark(app_name=f"photon-ml-spark-{args.command}")
    {
        "bags": bags,
        "index": index,
        "train": train,
        "score": score,
        "curate": curate,
        "curate-stream": curate_stream,
        "import-model": import_model,
        "export-model": export_model,
    }[args.command](cfg, spark)


if __name__ == "__main__":
    main()
