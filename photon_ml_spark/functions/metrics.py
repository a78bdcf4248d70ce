"""Evaluation suite (SURVEY §2.4 A9–A13) as one-pass aggregations.

Every metric is a Catalyst aggregation / window computation over a
scored DataFrame with columns (score, label, weight), so the same code
evaluates 60k rows or 100 TB. The exception is ``roc_areas``, the
drivers' AUROC/AUPR: when the tie-grouped curve fits the driver
(``LOCAL_ROC_MAX_GROUPS`` distinct scores) it is fetched with one
bounded collect and integrated in numpy, like the reference's local
kernel; above that bound it runs the DataFrame metrics.

Mirrors photon-api/.../evaluation/{RMSE,SquaredLoss,LogisticLoss,
PoissonLoss,SmoothedHingeLoss}Evaluator.scala, AreaUnderROCCurveEvaluator
(local kernel AreaUnderROCCurveLocalEvaluator.scala:25-72),
PrecisionAtKLocalEvaluator.scala:29-53, MultiEvaluator.scala:36-90, and
the legacy suite photon-client/.../evaluation/Evaluation.scala:40-165.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from photon_ml_spark.functions import links
from photon_ml_spark.materialize import persist, scope


def _w(weight: str | None) -> Column:
    return F.col(weight) if weight else F.lit(1.0)


# ---------------------------------------------------------------- simple aggs

def weighted_rmse(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    w = _w(weight)
    d = F.col(score) - F.col(label)
    return df.agg(F.sqrt(F.sum(w * d * d) / F.sum(w)).alias("rmse"))


def weighted_mae(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    w = _w(weight)
    return df.agg((F.sum(w * F.abs(F.col(score) - F.col(label))) / F.sum(w)).alias("mae"))


def loss_metric(
    df: DataFrame, kind: str, margin="score", label="label", weight=None
) -> DataFrame:
    """Weighted-mean pointwise loss; kind ∈ {logistic, squared, poisson,
    smoothed_hinge} (A9). The margin column is the raw model score
    (score + offset at evaluation time, GameTransformer.scala:285-305)."""
    fns = {
        "logistic": links.logistic_loss,
        "squared": links.squared_loss,
        "poisson": links.poisson_loss,
        "smoothed_hinge": links.smoothed_hinge_loss,
    }
    loss = fns[kind](F.col(margin), F.col(label))
    w = _w(weight)
    return df.agg((F.sum(w * loss) / F.sum(w)).alias(f"{kind}_loss"))


# ------------------------------------------------------------------- AUC family

#: Number of equi-width score buckets for the two-phase cumulative sum.
#: Cumulative work per task is O(distinct_scores / ROC_BUCKETS); 4096
#: buckets keeps per-bucket windows small even at billions of rows while
#: the bucket-offset triangular join stays a trivial broadcast.
ROC_BUCKETS = 4096


def _tie_groups(df: DataFrame, score, label, weight) -> DataFrame:
    """One (s, pos, neg) row per distinct score: the weighted positive
    and negative mass of each tie group."""
    w = _w(weight)
    return df.groupBy(F.col(score).alias("s")).agg(
        F.sum(w * F.col(label)).alias("pos"),
        F.sum(w * (F.lit(1.0) - F.col(label))).alias("neg"),
    )


def _roc_points(df: DataFrame, score, label, weight,
                buckets: int = ROC_BUCKETS) -> DataFrame:
    """Tie-grouped cumulative positives/negatives ordered by score desc,
    computed as a partition-parallel two-phase cumulative sum:

    1. tie-group by exact score → (s, pos, neg);
    2. assign each distinct score to one of ``buckets`` equi-width score
       ranges (``width_bucket`` against the broadcast global min/max —
       deterministic, no sampling);
    3. per-bucket running sums via a window *partitioned by bucket*
       (parallel across buckets — never a single-task global window);
    4. per-bucket totals → prefix offsets for strictly-higher buckets
       via a triangular join over the tiny ≤``buckets``-row totals frame,
       broadcast back.

    ctp/cfp = local running sum + higher-bucket offset. Also carries the
    exact global totals (total_pos, total_neg) so downstream metrics
    need no extra pass. Equi-width buckets can be uneven on very skewed
    score distributions, but per-bucket work is still bounded by the
    densest score range rather than the whole relation. A NULL score
    sorts last, as in ``ORDER BY s DESC``: it gets bucket 0, below
    every score.
    """
    # cache the tie-grouped relation (narrow: one (s, pos, neg) row per
    # distinct score): it feeds THREE plan branches — the min/max/total
    # stats, the per-bucket totals (via offsets), and the final windowed
    # select — and uncached each branch re-executed the full scan +
    # tie-group shuffle of the scored frame (r13, guide §5 cache-on-
    # reuse; the flagship AUROC alone re-aggregated its 600k-row scored
    # frame three times). The metric functions return lazy frames, so
    # the caller's scope owns the cache; the AUC/AUPR/peak-F1 trio over
    # one scored frame shares a single entry.
    g = persist(_tie_groups(df, score, label, weight))
    stats = g.agg(
        F.min("s").alias("__lo"), F.max("s").alias("__hi"),
        F.sum("pos").alias("total_pos"), F.sum("neg").alias("total_neg"),
    )
    gb = g.join(F.broadcast(stats)).withColumn(
        "__bkt",
        F.when(F.col("s").isNull(), F.lit(0)).when(
            F.col("__hi") > F.col("__lo"),
            F.least(
                F.lit(buckets),
                F.width_bucket("s", "__lo", "__hi", F.lit(buckets)),
            ),
        ).otherwise(F.lit(1)),
    )
    totals = gb.groupBy("__bkt").agg(
        F.sum("pos").alias("__tp"), F.sum("neg").alias("__tn")
    )
    higher = totals.select(F.col("__bkt").alias("__hb"),
                           F.col("__tp"), F.col("__tn"))
    offsets = (
        totals.select("__bkt")
        .join(higher, F.col("__hb") > F.col("__bkt"), "left")
        .groupBy("__bkt")
        .agg(
            F.coalesce(F.sum("__tp"), F.lit(0.0)).alias("__op"),
            F.coalesce(F.sum("__tn"), F.lit(0.0)).alias("__on"),
        )
    )
    local = Window.partitionBy("__bkt").orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return gb.join(F.broadcast(offsets), "__bkt").select(
        "s", "pos", "neg", "total_pos", "total_neg",
        (F.sum("pos").over(local) + F.col("__op")).alias("ctp"),
        (F.sum("neg").over(local) + F.col("__on")).alias("cfp"),
    )


def auroc(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    """Weighted AUROC via trapezoid sweep over tie-grouped score groups
    (AreaUnderROCCurveLocalEvaluator.scala:36-72). The previous point's
    cumulative counts are recovered algebraically (prev_ctp = ctp − pos,
    prev_cfp = cfp − neg) so no lag window is needed; the cumulative
    sums themselves come from the bucketed two-phase ``_roc_points`` —
    no unpartitioned window anywhere in the plan. NULL when the input
    has no positive or no negative mass (``try_divide``: under ANSI a
    plain divide by the zero total raises instead)."""
    pts = _roc_points(df, score, label, weight)
    # trapezoid: (cfp - prev_cfp) * (ctp + prev_ctp) / 2 with
    # prev_* = cumulative minus this tie-group's own mass.
    area = F.col("neg") * (F.lit(2.0) * F.col("ctp") - F.col("pos")) / 2.0
    return pts.agg(
        F.try_divide(
            F.sum(area), F.max("total_pos") * F.max("total_neg")
        ).alias("auroc")
    )


def aupr(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    """Weighted area under the precision-recall curve, trapezoid between
    consecutive tie-grouped points; curve starts at (recall=0,
    precision=1) by convention (AreaUnderPRCurveEvaluator). Previous
    point recovered algebraically — no lag window. NULL when the input
    has no positive mass."""
    pts = _roc_points(df, score, label, weight)
    prec = F.try_divide(F.col("ctp"), F.col("ctp") + F.col("cfp"))
    ptp = F.col("ctp") - F.col("pos")
    pdenom = ptp + (F.col("cfp") - F.col("neg"))
    pprec = F.when(pdenom > 0, ptp / pdenom).otherwise(F.lit(1.0))
    term = F.col("pos") * (prec + pprec) / 2.0
    return pts.agg(F.try_divide(F.sum(term), F.max("total_pos")).alias("aupr"))


def peak_f1(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    """Best F1 over all score thresholds (Evaluation.scala:40-165
    PEAK_F1_SCORE): at each tie-grouped threshold,
    F1 = 2·TP / (TP + FP + P). P comes from the carried global total —
    one bucketed sweep, no per-threshold scan, no global window."""
    pts = _roc_points(df, score, label, weight)
    f1 = F.try_divide(
        F.lit(2.0) * F.col("ctp"),
        F.col("ctp") + F.col("cfp") + F.col("total_pos"),
    )
    return pts.agg(F.max(f1).alias("peak_f1"))


#: Most tie groups (distinct scores) ``roc_areas`` integrates on the
#: driver, 24 MB of Arrow doubles at the bound; a longer curve runs the
#: bucketed DataFrame plans instead.
LOCAL_ROC_MAX_GROUPS = 1_000_000


def roc_areas(
    df: DataFrame, score="score", label="label", weight=None,
    names=("auroc", "aupr"),
) -> dict:
    """``{name: value}`` for ``names`` ⊆ {auroc, aupr}; a value is None
    where the curve has no area (no rows, no positive mass, or for
    AUROC no negative mass).

    Up to ``LOCAL_ROC_MAX_GROUPS`` tie groups, one bounded collect of
    (s, pos, neg) and an exact numpy integration with the formulas of
    ``auroc``/``aupr`` (the reference's local kernel,
    AreaUnderROCCurveLocalEvaluator.scala:25-72). Above the bound the
    DataFrame metrics run instead.

    The tie groups are persisted for the collect, so above the bound
    ``_roc_points`` reads the same cache entry instead of running the
    scan of ``df`` (a whole scoring plan, at the drivers) again. Below
    it the cache costs one job of its own: 3 jobs in all where an
    uncached collect ran 2."""
    with scope():
        g = persist(_tie_groups(df, score, label, weight))
        groups = g.limit(LOCAL_ROC_MAX_GROUPS + 1).toArrow()
        if groups.num_rows > LOCAL_ROC_MAX_GROUPS:
            fns = {"auroc": auroc, "aupr": aupr}
            return {
                n: fns[n](df, score, label, weight).first()[0] for n in names
            }
    areas = _local_areas(groups)
    return {n: areas[n] for n in names}


def _local_areas(groups) -> dict:
    """AUROC and AUPR of the collected (s, pos, neg) tie groups (an
    Arrow table), swept in the order of ``ORDER BY s DESC``: NaN first,
    NULL last. As in Spark, a NULL mass is left out of every sum; pos
    and neg of a group are NULL together (both sum the same rows)."""

    def col(name):
        c = groups.column(name)
        return (
            c.to_numpy(zero_copy_only=False).astype(float),
            c.is_null().to_numpy(zero_copy_only=False),
        )

    (s, null_s), (pos, null_m), (neg, _) = col("s"), col("pos"), col("neg")
    rank = np.where(null_s, 2, np.where(np.isnan(s), 0, 1))
    order = np.lexsort((np.where(rank == 1, -s, 0.0), rank))
    known = ~null_m[order]
    if not known.any():
        return {"auroc": None, "aupr": None}
    pos = np.where(known, pos[order], 0.0)
    neg = np.where(known, neg[order], 0.0)
    ctp, cfp = np.cumsum(pos), np.cumsum(neg)
    total_pos, total_neg = pos.sum(), neg.sum()
    pos, neg, ctp, cfp = pos[known], neg[known], ctp[known], cfp[known]
    area = (neg * (2.0 * ctp - pos) / 2.0).sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        prec = ctp / (ctp + cfp)
        ptp = ctp - pos
        pdenom = ptp + (cfp - neg)
        pprec = np.where(pdenom > 0, ptp / pdenom, 1.0)
    term = (pos * (prec + pprec) / 2.0)[ctp + cfp != 0].sum()
    return {
        "auroc": (
            float(area / (total_pos * total_neg))
            if total_pos * total_neg != 0 else None
        ),
        "aupr": float(term / total_pos) if total_pos != 0 else None,
    }


def logistic_data_loglik_and_aic(
    df: DataFrame, k: int, score="score", label="label", weight=None
) -> DataFrame:
    """Data log-likelihood (logistic) + small-sample-corrected AIC
    (Evaluation.scala:105-125): AICc = 2k − 2lnL + 2k(k+1)/(n−k−1)."""
    w = _w(weight)
    s, y = F.col(score), F.col(label)
    ll = -F.sum(w * links.logistic_loss(s, y))
    n = F.count(F.lit(1))
    aic = F.lit(2.0 * k) - 2.0 * ll
    aicc = aic + F.lit(2.0 * k * (k + 1)) / (n - F.lit(k + 1))
    return df.agg(ll.alias("loglik"), aic.alias("aic"), aicc.alias("aicc"))


def poisson_data_loglik_and_aic(
    df: DataFrame, k: int, margin="score", label="label", weight=None
) -> DataFrame:
    """Data log-likelihood (Poisson) + small-sample-corrected AIC
    (Evaluation.scala:131-145 poissonRegressionLogLikelihood, AIC
    :105-125): per-sample ll = y·m − exp(m) − lnΓ(1+y) with m the
    linear margin (wᵀx + offset); AICc = 2k − 2lnL + 2k(k+1)/(n−k−1)
    with k the effective (nonzero) parameter count. lnΓ(1+y) = ln(y!):
    for y ≤ 64 exactly as Σ_{i=1..y} ln i (a JVM higher-order
    ``aggregate`` over ``sequence`` — Spark has no lgamma builtin and
    ``factorial`` nulls out above 20); for y > 64 via the Stirling
    series ln Γ(1+y) = y·ln y − y + ½·ln(2πy) + 1/(12y) − 1/(360y³),
    whose truncation error at y > 64 is below 1e-12 relative — large
    count labels would otherwise allocate an O(y)-element array per
    row and hit Spark's sequence element cap."""
    import math

    w = _w(weight)
    m, y = F.col(margin), F.col(label)
    yd = y.cast("double")
    stirling = (
        yd * F.log(yd) - yd + 0.5 * F.log(2.0 * math.pi * yd)
        + 1.0 / (12.0 * yd) - 1.0 / (360.0 * yd * yd * yd)
    )
    lgam = (
        F.when(y < 1, F.lit(0.0))
        .when(y > 64, stirling)
        .otherwise(
            F.aggregate(
                F.sequence(F.lit(1), y.cast("int")),
                F.lit(0.0),
                lambda acc, i: acc + F.log(i.cast("double")),
            )
        )
    )
    ll = F.sum(w * (y * m - F.exp(m) - lgam))
    n = F.count(F.lit(1))
    aic = F.lit(2.0 * k) - 2.0 * ll
    aicc = aic + F.lit(2.0 * k * (k + 1)) / (n - F.lit(k + 1))
    return df.agg(ll.alias("loglik"), aic.alias("aic"), aicc.alias("aicc"))


# ---------------------------------------------------- grouped (Multi) metrics

def auroc_per_group(
    df: DataFrame, group, score="score", label="label", weight=None
) -> DataFrame:
    """Per-group weighted AUROC (MultiAUC, MultiEvaluatorType.scala:
    52-66): the same tie-grouped trapezoid sweep as ``auroc``, windows
    partitioned by the group column — one shuffle on (group, score),
    no per-group collect. Groups with no positives or no negatives
    yield NULL and are dropped (undefined AUC)."""
    w = _w(weight)
    g = df.groupBy(F.col(group).alias("grp"), F.col(score).alias("s")).agg(
        F.sum(w * F.col(label)).alias("pos"),
        F.sum(w * (F.lit(1.0) - F.col(label))).alias("neg"),
    )
    win = Window.partitionBy("grp").orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    lag_win = Window.partitionBy("grp").orderBy(F.desc("s"))
    pts = g.select(
        "grp", "s",
        F.sum("pos").over(win).alias("ctp"),
        F.sum("neg").over(win).alias("cfp"),
    )
    terms = pts.select(
        "grp",
        (
            (F.col("cfp") - F.coalesce(F.lag("cfp", 1).over(lag_win), F.lit(0.0)))
            * (F.col("ctp") + F.coalesce(F.lag("ctp", 1).over(lag_win), F.lit(0.0)))
            / 2.0
        ).alias("area"),
        F.col("ctp"), F.col("cfp"),
    )
    return (
        terms.groupBy("grp")
        .agg(
            F.sum("area").alias("__area"),
            F.max("ctp").alias("__p"),
            F.max("cfp").alias("__n"),
        )
        .filter((F.col("__p") > 0) & (F.col("__n") > 0))
        .select(
            "grp", (F.col("__area") / (F.col("__p") * F.col("__n"))).alias("auc")
        )
    )


def precision_at_k_per_group(
    df: DataFrame, k: int, group, score="score", label="label", uid="uid"
) -> DataFrame:
    """Per-group precision@k: top-k by score (uid tie-break for
    determinism), fraction positive (PrecisionAtKLocalEvaluator)."""
    win = Window.partitionBy(group).orderBy(F.desc(score), F.asc(uid))
    return (
        df.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .groupBy(group)
        .agg(F.avg(F.col(label)).alias("precision_at_k"))
    )


def multi_metric_mean(per_group: DataFrame, metric_col: str) -> DataFrame:
    """MultiEvaluator contract: unweighted mean of per-group metrics
    (MultiEvaluator.scala:76-90)."""
    return per_group.agg(F.avg(metric_col).alias(f"mean_{metric_col}"))


def evaluation_suite(
    df: DataFrame, score="score", label="label", weight=None
) -> DataFrame:
    """One-pass scalar-metric suite (A13): all simple aggregates in a
    single agg so the scored frame is scanned once."""
    w = _w(weight)
    s, y = F.col(score), F.col(label)
    d = s - y
    return df.agg(
        F.sqrt(F.sum(w * d * d) / F.sum(w)).alias("rmse"),
        (F.sum(w * F.abs(d)) / F.sum(w)).alias("mae"),
        (F.sum(w * links.logistic_loss(s, y)) / F.sum(w)).alias("logistic_loss"),
        (F.sum(w * links.squared_loss(s, y)) / F.sum(w)).alias("squared_loss"),
        F.sum(w).alias("weight_sum"),
        F.count(F.lit(1)).alias("n"),
    )
