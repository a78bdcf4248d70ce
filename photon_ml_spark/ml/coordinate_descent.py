"""Coordinate descent / backfitting across GAME coordinates (M3).

Rebuilds photon-lib/.../algorithm/CoordinateDescent.scala:43-167,373-463
as a driver-side Python loop over DataFrames (the reference's own
orchestration is driver-side Scala — there is no Catalyst analog for
an iterative training loop):

- coordinates train in sequence; each sees the others' current scores
  as extra offset (residual attach, J1/J2)
- the summed score set is maintained INCREMENTALLY:
  ``summed − old_i + new_i`` (outer-join arithmetic J11,
  CoordinateDescent.scala:412-415,441-446) — never a full rescore
- warm start on iterations ≥ 2 (M7): fixed effects re-fit (IRLS
  converges in a few rounds anyway), random effects get the previous
  model table as ``prior_model`` (x0 per entity)
- locked coordinates (M8): scored with their pre-trained model, never
  re-trained (FixedEffectModelCoordinate analog)

Materialization (see ``photon_ml_spark.materialize``): every update
checkpoints the running score sum, whose plan would otherwise double
per generation, and releases the superseded generation. A random
coordinate's score is checkpointed too, because each lazy read re-runs
its model-table join (net-negative at bench scale, r14 A/B); a fixed
coordinate's score is a shuffle-free projection of the cached training
frame and stays lazy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from photon_ml_spark.materialize import checkpoint, persist, release
from photon_ml_spark.ml import glm as glm_mod
from photon_ml_spark.ml import random_effects as re_mod
from photon_ml_spark.ml import scoring


@dataclass
class CoordinateConfig:
    """One GAME coordinate (fixed or per-entity random effect)."""

    name: str
    kind: str  # 'fixed' | 'random'
    dim: int
    indices_col: str = "features_indices"
    values_col: str = "features_values"
    entity_col: str | None = None  # required for kind='random'
    reg_param: float = 0.0
    min_samples: int = 1
    # T2 active-data cap INSIDE the loop (RandomEffectDataset.scala:
    # 454-527 active/passive split): a random coordinate trains on at
    # most this many rows per entity (deterministic reservoir, weights
    # rescaled to preserve entity mass) while SCORING still covers
    # every row — the passive rows get scores through the model join.
    # This is the rail that keeps a skewed entity (one key owning 30%
    # of the fact table) inside the per-group memory budget.
    active_cap: int | None = None
    locked: bool = False  # M8: score but never (re)train
    pretrained: object = None  # FixedEffectGLM | model DataFrame when locked/warm
    # P7 per-entity subspace projection for RANDOM coordinates
    # (RandomEffectDataset.scala:390-426, LinearSubspaceProjector.
    # scala:37-66): each entity solves in the subspace of its own
    # active indices (∪ prior support) and scatters back to ``dim``.
    # REQUIRED when the shard is wide (a 100M-feature space cannot be
    # solved densely per entity); off by default because narrow-shard
    # fits skip the gather/scatter.
    project_subspace: bool = False
    # per-coordinate optimizer config (GLMOptimizationConfiguration
    # analog): elastic-net mixing (fixed kind; OWLQN when > 0), solver
    # override ('auto' | 'tron'), box bounds (arrays, fixed kind)
    elastic_net_param: float = 0.0
    solver: str = "auto"
    lower_bounds: object = None
    upper_bounds: object = None
    # M9 incremental Gaussian prior for FIXED coordinates: arrays of
    # length dim+1 (intercept last). Random coordinates take their
    # prior through ``pretrained`` (the previous model TABLE, which
    # may carry per-entity variances).
    prior_mean: object = None
    prior_precision: object = None
    # varianceComputationType for RANDOM coordinates (the reference
    # threads it into every per-entity problem —
    # RandomEffectOptimizationProblem.scala:133-189): None | 'simple' |
    # 'full'. The fitted model table then carries per-entity
    # variances/intercept_variance columns — the σ² the next
    # incremental run (and the reference-layout export) consumes.
    # Fixed-coordinate variances are computed at the CD optimum by the
    # train driver instead (exact offset-inclusive curvature).
    compute_variance: str | None = None

    def __post_init__(self):
        if self.kind not in ("fixed", "random"):
            raise ValueError(f"kind must be fixed|random: {self.kind}")
        if self.kind == "random" and not self.entity_col:
            raise ValueError(f"coordinate {self.name}: random needs entity_col")
        if self.locked and self.pretrained is None:
            raise ValueError(f"coordinate {self.name}: locked needs pretrained")


@dataclass
class GameModel:
    """Ordered coordinate → model map (GameModel.scala:32); total score
    = Σ coordinate scores (:108-112)."""

    family: str
    coordinates: dict[str, object] = field(default_factory=dict)  # name → model
    configs: dict[str, CoordinateConfig] = field(default_factory=dict)
    # per-FIXED-coordinate σ² tables (feature_key, feature_index,
    # variance), populated by load_photon_game_model when the imported
    # record carries variances (BayesianLinearModelAvro.variances;
    # random-effect σ² ride the coordinate's model TABLE instead as
    # variances/intercept_variance columns) — the payload incremental
    # training turns into Gaussian-prior precision (M9)
    variances: dict[str, DataFrame] = field(default_factory=dict)

    def score(self, df: DataFrame, out_col: str = "score") -> DataFrame:
        """M12 batch inference: margin = Σ coordinate margins. Mid-
        training (per-update validation, CoordinateDescent.scala:
        312-333) only the coordinates fitted SO FAR contribute —
        configs without a model yet are skipped."""
        out = df
        fitted = [n for n in self.configs if n in self.coordinates]
        if not fitted:
            raise ValueError("GameModel.score: no fitted coordinates")
        parts = []
        for name in fitted:
            col = f"__score_{name}"
            out = _score_coordinate(out, self.configs[name], self.coordinates[name], col)
            parts.append(F.col(col))
        total = parts[0]
        for p in parts[1:]:
            total = total + p
        return out.withColumn(out_col, total).drop(
            *[f"__score_{n}" for n in fitted]
        )


def _score_coordinate(df: DataFrame, cfg: CoordinateConfig, model, out_col: str) -> DataFrame:
    if cfg.kind == "fixed":
        return scoring.score_literal(
            df, model, indices_col=cfg.indices_col, values_col=cfg.values_col,
            out_col=out_col,
        )
    mt = model.select(
        F.col("entity").alias(cfg.entity_col), "coefficients", "intercept"
    )
    return scoring.score_random_effect(
        df, mt, entity_col=cfg.entity_col,
        indices_col=cfg.indices_col, values_col=cfg.values_col, out_col=out_col,
    )


def _fit_coordinate(
    data: DataFrame, cfg: CoordinateConfig, family: str, prior, offset_col: str,
    uid_col: str = "uid", num_rows: int | None = None,
):
    if cfg.kind == "fixed":
        return glm_mod.fit_fixed_effect(
            data, dim=cfg.dim, family=family,
            indices_col=cfg.indices_col, values_col=cfg.values_col,
            offset_col=offset_col, reg_param=cfg.reg_param,
            elastic_net_param=cfg.elastic_net_param, solver=cfg.solver,
            lower_bounds=cfg.lower_bounds, upper_bounds=cfg.upper_bounds,
            prior_mean=cfg.prior_mean, prior_precision=cfg.prior_precision,
            # M7: the previous update's model (or pretrained, on the
            # first update) is the optimizer start point — the
            # reference passes the existing model into every
            # optimizationProblem.run (CoordinateDescent / ModelTraining.
            # scala:178-224). Custom-solver paths only; the IRLS routes
            # ignore it.
            x0=prior if isinstance(prior, glm_mod.FixedEffectGLM) else None,
            num_rows=num_rows,
        )
    if cfg.active_cap is not None:
        from photon_ml_spark.operators.sampling import per_entity_cap

        data = per_entity_cap(
            data, cfg.entity_col, cap=cfg.active_cap,
            weight_col="weight" if "weight" in data.columns else None,
            uid_col=uid_col,
        )
    # The M9 Gaussian penalty (variances on the prior table) applies
    # ONLY when the prior IS the caller's pretrained model — the
    # documented first-update semantics. Later CD generations of this
    # coordinate serve as warm start/carry-forward alone; with
    # compute_variance set they now CARRY variances, and leaving them
    # on would make iteration N+1 shrink toward iteration N (a prior
    # toward our own previous update — not any reference semantic).
    if (
        prior is not None
        and prior is not cfg.pretrained
        and hasattr(prior, "columns")
        and "variances" in prior.columns
    ):
        prior = prior.drop("variances", "intercept_variance")
    return re_mod.fit_random_effects(
        data, entity_col=cfg.entity_col, dim=cfg.dim, family=family,
        indices_col=cfg.indices_col, values_col=cfg.values_col,
        offset_col=offset_col, reg_param=cfg.reg_param,
        min_samples=cfg.min_samples, prior_model=prior,
        lower_bounds=cfg.lower_bounds, upper_bounds=cfg.upper_bounds,
        compute_variance=cfg.compute_variance,
        project_subspace=cfg.project_subspace,
    )


def train_game(
    df: DataFrame,
    coordinates: list[CoordinateConfig],
    family: str = "binomial",
    n_iterations: int = 2,
    uid_col: str = "uid",
    offset_col: str = "offset",
    validation_df: DataFrame | None = None,
    evaluator=None,
    on_update=None,
) -> tuple[GameModel, list[dict]]:
    """Run coordinate descent; returns (model, per-update history).

    ``evaluator(scored_validation_df) -> dict`` is called after every
    coordinate update when ``validation_df`` is given
    (CoordinateDescent.scala:312-333 per-coordinate validation).

    ``on_update(entry)`` (optional) fires after every coordinate update
    with the history entry just appended — the estimator uses it to
    emit ``CoordinateUpdateEvent``s to registered listeners while the
    loop is still running (events.py)."""
    df = persist(df)
    # the residual-offset join keeps one row per uid, so this is every
    # fixed update's row count
    num_rows = df.count()

    model = GameModel(family=family, configs={c.name: c for c in coordinates})
    score_dfs: dict[str, DataFrame] = {}
    summed: DataFrame | None = None  # (uid, score) running total
    history: list[dict] = []

    # Warm start (M7/M9): a non-locked coordinate carrying a
    # ``pretrained`` model enters the loop as x0/prior ONLY — a random
    # coordinate receives it as prior on its first update (with
    # carry-forward for data-less entities). Its scores do NOT join
    # the running sum before the coordinate is first trained: the
    # reference trains the first coordinate of iteration 1 with
    # residualsOpt = None (CoordinateDescent.scala:383-394 — initial
    # models are starting points, only already-updated coordinates
    # contribute residuals). Locked coordinates keep being scored
    # inside the loop as before.
    for cfg in coordinates:
        if cfg.pretrained is not None and not cfg.locked:
            model.coordinates[cfg.name] = cfg.pretrained

    for it in range(1, n_iterations + 1):
        for cfg in coordinates:
            # residual offset = base offset + all OTHER coordinates' scores
            if summed is not None and cfg.name in score_dfs:
                others = scoring.add_scores(
                    summed, score_dfs[cfg.name], uid_col=uid_col, sign=-1
                )
            else:
                others = summed
            if others is not None:
                data = scoring.attach_residual_offset(
                    df, others, uid_col=uid_col, offset_col=offset_col
                )
            else:
                data = df

            prior_to_release = None
            if cfg.locked:
                coord_model = cfg.pretrained
            else:
                # previous generation of THIS coordinate: random gets
                # it as prior/carry-forward, fixed as optimizer x0
                prior = model.coordinates.get(cfg.name)
                coord_model = _fit_coordinate(
                    data, cfg, family, prior, offset_col, uid_col=uid_col,
                    num_rows=num_rows,
                )
                if cfg.kind == "random":
                    coord_model = checkpoint(coord_model)
                    # the superseded table (not a caller's pretrained
                    # frame) is released once the new summed generation
                    # no longer reads it through the lazy score below
                    if prior is not None and prior is not cfg.pretrained:
                        prior_to_release = prior
            model.coordinates[cfg.name] = coord_model

            new_score = _score_coordinate(df, cfg, coord_model, "score").select(
                uid_col, "score"
            )
            old_score = score_dfs.get(cfg.name)
            if cfg.kind == "random":
                new_score = checkpoint(new_score)

            # incremental summed-score maintenance (J11): summed − old + new
            old_summed = summed
            if summed is None:
                summed = checkpoint(new_score)
            else:
                base = others if cfg.name in score_dfs else summed
                summed = checkpoint(
                    scoring.add_scores(base, new_score, uid_col=uid_col)
                )
            # the new summed generation was the last reader of these
            if old_summed is not None:
                release(old_summed)
            if prior_to_release is not None:
                release(prior_to_release)
            if old_score is not None:
                release(old_score)
            score_dfs[cfg.name] = new_score

            entry = {"iteration": it, "coordinate": cfg.name}
            if validation_df is not None and evaluator is not None:
                scored_val = model.score(validation_df)
                entry["metrics"] = evaluator(scored_val)
            history.append(entry)
            if on_update is not None:
                on_update(entry)

    # loop internals; the RE model tables in ``model`` stay with the
    # caller's scope
    release(df)
    if summed is not None:
        release(summed)
    for s in score_dfs.values():
        release(s)
    return model, history
