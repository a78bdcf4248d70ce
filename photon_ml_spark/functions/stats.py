"""Feature summarization (SURVEY §2.4 A4/A8; §2.10 M5 inputs).

Rebuilds photon-lib/.../stat/FeatureDataStatistics.scala:59-138 —
per-feature count / mean / variance / min / max / L1 / L2 / meanAbs /
nnz — as a single aggregation pass. The reference runs
``Statistics.colStats`` twice (raw + |x|); one ``agg`` with all
expressions scans once.

Output is long-form (one row per feature): at 100M features a wide
single-row result is unusable, a (feature, stats…) table joins back
into normalization contexts naturally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def feature_statistics(df: DataFrame, cols: list[str], round_digits: int | None = 4) -> DataFrame:
    """Per-column stats, unpivoted to (feature, cnt, mean, variance,
    min, max, l1, l2, mean_abs, nnz).

    Rounding (default 4) keeps cross-engine value hashes stable; pass
    None for full precision (normalization-context use).

    Variance uses the explicit moment formula
    (sum(x²) − sum(x)²/n) / (n−1) — one pass, and when inputs are
    integer-valued the sums are exact so results are bit-identical
    across engines (the oracle-comparability contract).
    """
    def rnd(c):
        return F.round(c, round_digits) if round_digits is not None else c

    aggs = []
    for c in cols:
        x = F.col(c)
        n = F.count(F.lit(1))
        s1 = F.sum(x)
        s2 = F.sum(x * x)
        aggs.append(
            F.struct(
                F.lit(c).alias("feature"),
                n.alias("cnt"),
                rnd(s1 / n).alias("mean"),
                rnd((s2 - s1 * s1 / n) / (n - 1)).alias("variance"),
                rnd(F.min(x)).alias("min"),
                rnd(F.max(x)).alias("max"),
                rnd(F.sum(F.abs(x))).alias("l1"),
                rnd(F.sqrt(s2)).alias("l2"),
                rnd(F.sum(F.abs(x)) / n).alias("mean_abs"),
                F.sum(F.when(x != 0, 1).otherwise(0)).cast("long").alias("nnz"),
            )
        )
    row = df.agg(F.array(*aggs).alias("__stats"))
    return row.select(F.explode("__stats").alias("s")).select("s.*")


def pearson_topk_features(
    df: DataFrame,
    entity_col: str,
    feature_cols: list[str],
    label_col: str,
    k: int,
    round_digits: int | None = 6,
) -> DataFrame:
    """Per-entity top-k features by |Pearson corr with label| (P8/T3).

    Rebuilds LocalDataset.scala:103-129 (stable one-pass moments
    :180-260, takeRight(k) at :111-116) as pure JVM aggregation:
    unpivot features → per-(entity, feature) moment sums → closed-form
    corr → rank window. No applyInPandas needed — moments beat
    shipping rows to Python, and the formula from exact integer-valued
    sums is deterministic across engines.

    Zero-variance features (or constant label) get corr 0 and rank
    last (feature-name tie-break). Returns (entity, feature, corr, rk).
    """
    stacked = df.select(
        F.col(entity_col).alias("entity"),
        F.col(label_col).cast("double").alias("y"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(c).cast("double").alias("x"),
                    )
                    for c in feature_cols
                ]
            )
        ).alias("__f"),
    ).select("entity", F.col("__f.feature").alias("feature"),
             F.col("__f.x").alias("x"), "y")
    m = stacked.groupBy("entity", "feature").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (denx > 0) & (deny > 0),
        num / F.sqrt(denx.cast("double") * deny.cast("double")),
    ).otherwise(F.lit(0.0))
    from pyspark.sql import Window

    win = Window.partitionBy("entity").orderBy(
        F.abs(F.col("__corr")).desc(), F.asc("feature")
    )
    ranked = (
        m.withColumn("__corr", corr)
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
    )
    corr_out = (
        F.round(F.col("__corr"), round_digits)
        if round_digits is not None
        else F.col("__corr")
    )
    return ranked.select("entity", "feature", corr_out.alias("corr"), "rk")


def feature_quantiles(
    df: DataFrame,
    cols: list[str],
    probs: list[float] = (0.25, 0.5, 0.75, 0.99),
    exact: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Per-feature quantile summary (the percentile block A4's
    min/max/moment stats lack): one wide row with
    ``{col}_q{int(p*100)}`` columns.

    ``exact=True`` uses Spark's exact ``percentile`` (linear
    interpolation, identical to SQL ``quantile_cont``) — it buffers
    each column's values in the aggregation, fine up to ~10^8 rows per
    executor. At 100 TB set ``exact=False`` for ``approx_percentile``
    (t-digest-style sketch, mergeable, bounded memory) — same output
    schema, rank error bounded by the default accuracy.
    """
    fn = "percentile" if exact else "approx_percentile"
    arr = "array(" + ", ".join(str(float(p)) for p in probs) + ")"
    aggs = []
    for c in cols:
        q = F.expr(f"{fn}({c}, {arr})")
        for i, p in enumerate(probs):
            aggs.append(
                F.round(q[i], round_digits).alias(f"{c}_q{int(p * 100)}")
            )
    return df.agg(*aggs)
