"""Sampling operators (SURVEY §2.2 P5/P6/P9, §2.5 T2).

Reproducibility contract (SURVEY §7 hazard 3): every sampler derives
its randomness from ``xxhash64(uid, seed)``, never ``rand()`` — the
reference seeds with ``byteswap64(hash ^ uid)`` for recompute-stable
lineage (RandomEffectDataset.scala:504-511,
BinaryClassificationDownSampler.scala:52-55). A deterministic ``gate``
override exists so oracle tests can substitute an engine-portable
predicate with identical semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# xxhash64 output spans the full signed-64 range; normalize to [0, 1).
_HASH_SPAN = float(2**64)


def hash_uniform(uid: Column, seed: int) -> Column:
    """Deterministic U[0,1) per (uid, seed) via xxhash64."""
    return (F.xxhash64(uid, F.lit(seed)).cast("double") + float(2**63)) / _HASH_SPAN


# Park–Miller modulus/multiplier: a*(m-1) < 2^63, so the arithmetic is
# exact in BIGINT on any engine — the portable twin of hash_uniform.
_LCG_M = 2147483647
_LCG_A = 48271


def lcg_uniform(uid: Column, seed: int) -> Column:
    """Engine-portable U[0,1) per (uid, seed): Park–Miller LCG over
    BIGINT, reproducible verbatim in ANSI SQL —
    ``(48271 * ((uid + seed) % 2147483647)) % 2147483647 / 2147483647.0``.
    Same determinism contract as hash_uniform; weaker mixing, so prefer
    xxhash64 when cross-engine replay is not required."""
    h = (F.lit(_LCG_A) * ((uid + F.lit(seed)) % _LCG_M)) % _LCG_M
    return h.cast("double") / float(_LCG_M)


def uniform_downsample(
    df: DataFrame, rate: float, uid_col: str = "uid", seed: int = 42,
    gate: Column | None = None,
) -> DataFrame:
    """P5 (DefaultDownSampler.scala:28-50): uniform keep at ``rate``,
    weights untouched (the reference keeps weights as-is for uniform)."""
    keep = gate if gate is not None else hash_uniform(F.col(uid_col), seed) < rate
    return df.filter(keep)


def stratified_downsample(
    df: DataFrame,
    rate: float,
    label_col: str = "response",
    weight_col: str = "weight",
    uid_col: str = "uid",
    seed: int = 42,
    gate: Column | None = None,
) -> DataFrame:
    """P6 (BinaryClassificationDownSampler.scala:32-70): keep all
    positives; sample negatives at ``rate`` and rescale their weight by
    1/rate so expected total negative weight is preserved."""
    is_pos = F.col(label_col) == 1.0
    keep_neg = gate if gate is not None else hash_uniform(F.col(uid_col), seed) < rate
    out = df.filter(is_pos | keep_neg)
    return out.withColumn(
        weight_col,
        F.when(is_pos, F.col(weight_col)).otherwise(F.col(weight_col) / rate),
    )


def weighted_downsample(
    df: DataFrame,
    prob: Column,
    uid_col: str = "uid",
    seed: int = 42,
    uniform: Column | None = None,
) -> DataFrame:
    """Per-row Bernoulli keep with row-dependent probability ``prob``
    (a Column in [0,1]) — importance/quality resampling for corpus
    curation (e.g. ``prob = clip(quality_score) ** temperature``).

    Generalizes P5's fixed-rate gate to a per-row rate; same
    determinism contract (``hash_uniform`` of the id, replayable across
    retries and engines via the ``uniform`` override). Pure filter:
    no shuffle, pushes down past column pruning."""
    u = uniform if uniform is not None else hash_uniform(F.col(uid_col), seed)
    return df.filter(u < prob)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    test_frac: float,
    id_col: str = "doc_id",
    seed: int = 42,
    uniform: Column | None = None,
) -> DataFrame:
    """Train/test split that cannot leak near-duplicates across the
    boundary: the split key is the doc's near-dup CLUSTER, not the doc,
    so a document and all its near-copies land on the same side. A
    per-doc split over a deduplicated-by-pairs corpus still leaks —
    two near-copies that both survived (e.g. below the dedup threshold
    but above memorization similarity) would straddle the boundary.

    ``pairs`` is any near-dup edge list (MinHash/LSH, SimHash,
    embedding cosine, semantic); docs in no pair are singleton
    clusters. Returns every doc annotated (cluster_id, split ∈
    {'train','test'}). The gate is the same deterministic
    engine-portable uniform as the samplers, applied to cluster_id —
    one connected-components pass + one hash, no extra shuffles beyond
    ``cluster_and_keep``.
    """
    if not 0.0 <= test_frac <= 1.0:
        raise ValueError(f"test_frac must be in [0, 1], got {test_frac}")
    from photon_ml_spark.operators.dedup import cluster_and_keep

    ck = cluster_and_keep(docs, pairs, id_col=id_col)
    u = (
        uniform
        if uniform is not None
        else hash_uniform(F.col("cluster_id"), seed)
    )
    return ck.drop("is_keep").withColumn(
        "split", F.when(u < test_frac, F.lit("test")).otherwise(F.lit("train"))
    )


def _share_rates(df: DataFrame, group_col: str, target_shares: dict[str, float]):
    """Shared machinery for share-targeted resampling: validate
    ``target_shares`` (> 0, every group present in the corpus), join
    group counts to shares, and compute the feasible-total scalar
    T* = min_g count_g / share_g. Returns (joined, tstar) frames —
    |groups| rows and 1 row respectively; the only driver round-trip is
    the tiny missing-group check."""
    bad_shares = {k: v for k, v in target_shares.items() if not v > 0}
    if bad_shares:
        raise ValueError(
            f"target_shares must be > 0; got {bad_shares}"
        )
    spark = df.sparkSession
    shares = spark.createDataFrame(
        [(k, float(v)) for k, v in target_shares.items()],
        f"{group_col} string, __share double",
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    missing = [
        r[0]
        for r in shares.join(counts, group_col, "left_anti")
        .select(group_col)
        .collect()
    ]
    if missing:
        raise ValueError(
            "target groups have zero rows in the corpus "
            f"(would silently skew the mix): {sorted(missing)}"
        )
    joined = counts.join(shares, group_col)
    tstar = joined.agg(
        F.min(F.col("__cnt") / F.col("__share")).alias("__tstar")
    )
    return joined, tstar


def corpus_mix(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    uid_col: str = "uid",
    seed: int = 42,
    uniform: Column | None = None,
    rate_col: str | None = None,
) -> DataFrame:
    """Downsample groups (sources/domains/languages) so the surviving
    corpus matches ``target_shares`` while keeping as much data as
    possible: with the feasible total T* = min_g count_g / share_g, a
    group keeps ``share_g · T* / count_g`` of its rows (rate 1 for the
    binding group). Groups absent from ``target_shares`` are dropped.

    Scale shape: one tiny count aggregate (|groups| rows), the 1-row
    T* scalar cross-joined in-plan (never collected to the driver),
    rates broadcast back onto the corpus, then a deterministic
    per-row Bernoulli filter (``weighted_downsample``). The only
    full-data pass is the final filter.

    ``rate_col`` (optional) exposes each row's keep rate in the output
    for auditing.

    Validation: shares must be > 0, and every target group must have
    rows in the corpus — a missing group would otherwise be silently
    excluded from the T* minimum and the surviving mix would deviate
    from the request with no signal. The check is one tiny aggregate
    (|groups| rows) the plan computes anyway."""
    joined, tstar = _share_rates(df, group_col, target_shares)
    rates = joined.crossJoin(F.broadcast(tstar)).select(
        group_col,
        F.least(
            F.lit(1.0), F.col("__share") * F.col("__tstar") / F.col("__cnt")
        ).alias("__rate"),
    )
    out = weighted_downsample(
        df.join(F.broadcast(rates), group_col),
        F.col("__rate"),
        uid_col=uid_col,
        seed=seed,
        uniform=uniform,
    )
    if rate_col:
        return out.withColumn(rate_col, F.col("__rate")).drop("__rate")
    return out.drop("__rate")


def oversample_to_shares(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    max_epochs: float = 4.0,
    uid_col: str = "uid",
    seed: int = 42,
    uniform: Column | None = None,
    rate_col: str | None = None,
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Epoch-capped oversampling to a target corpus mix (the UniMax
    recipe, Chung et al. 2023): where ``corpus_mix`` only DROPS rows,
    this REPEATS under-represented groups — each group's expected
    repetition factor is ``share_g · T / count_g`` with the total T
    chosen so the most-repeated group runs exactly ``max_epochs``
    epochs (T = max_epochs · min_g count_g/share_g). Groups above
    their share are downsampled (rate < 1), never repeated.

    Deterministic integerization: each row emits ``floor(rate)`` copies
    plus one more iff ``uniform < frac(rate)`` — exact shares in
    expectation, replayable across retries/engines. Copies are tagged
    ``copy_col`` (0-based) so downstream shuffling/packing can spread
    them. Scale shape matches ``corpus_mix``: tiny count agg, 1-row T*
    cross-joined in-plan, broadcast rates, then one generate-explode
    pass — output size Σ count_g·rate_g ≤ max_epochs · |df|.
    """
    if not max_epochs >= 1.0:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    joined, tstar = _share_rates(df, group_col, target_shares)
    rates = joined.crossJoin(F.broadcast(tstar)).select(
        group_col,
        (
            F.col("__share") * F.col("__tstar") * float(max_epochs)
            / F.col("__cnt")
        ).alias("__rate"),
    )
    u = uniform if uniform is not None else hash_uniform(F.col(uid_col), seed)
    n = (
        F.floor(F.col("__rate"))
        + F.when(u < F.col("__rate") - F.floor(F.col("__rate")), 1).otherwise(0)
    ).cast("int")
    # slice of a constant template array: empty slice (n=0) drops the
    # row under explode; never builds sequence(0, -1)
    max_copies = int(max_epochs) + 1
    template = F.sequence(F.lit(0), F.lit(max_copies - 1))
    out = (
        df.join(F.broadcast(rates), group_col)
        .withColumn("__n", n)
        .withColumn(copy_col, F.explode(F.slice(template, 1, F.col("__n"))))
        .drop("__n")
    )
    if rate_col:
        return out.withColumn(rate_col, F.col("__rate")).drop("__rate")
    return out.drop("__rate")


def dsir_select(
    df: DataFrame,
    is_target: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    temperature: float = 1.0,
    seed: int = 42,
    uniform: Column | None = None,
    smoothing: float = 1.0,
    n_buckets: int | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """DSIR-style data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every raw document by the log importance ratio of two add-one-
    smoothed unigram LMs — one fitted on the ``is_target`` rows (the
    domain sample), one on the rest (the raw pool) — then draw ``k``
    raw documents WITHOUT replacement proportionally to
    ``exp(logweight / temperature)`` via the Gumbel top-k trick with a
    deterministic per-doc uniform.

    Returns the k selected docs: (id, n_tokens, logweight, gumbel_key,
    rank). Scale shape: one token explode feeding a vocab-sized count
    aggregate (both LMs in a single pass, partial-agg'd map-side), the
    log-ratio table joined back onto raw tokens (AQE broadcasts it
    while it fits; ``n_buckets`` hashes tokens into a bounded feature
    space first — the paper's hashed-ngram device — making the table
    O(n_buckets) at any corpus size, at the cost of engine-portable
    replay), a per-doc sum, and a TakeOrdered top-k — no global sort,
    no driver-side scoring. The final ``rank`` window orders k rows on
    one partition, k being driver-bounded by construction.
    """
    from photon_ml_spark.operators.text import tokens_expr

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not temperature > 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    tok = F.explode(tokens_expr(text_col, tokens_col)).alias("__tok")
    toks = df.select(F.col(id_col), is_target.alias("__tgt"), tok)
    if n_buckets is not None:
        toks = toks.withColumn(
            "__tok", F.pmod(F.xxhash64("__tok", F.lit(seed)), n_buckets)
        )
    counts = toks.groupBy("__tok").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__ct"),
        F.sum(F.when(~F.col("__tgt"), 1).otherwise(0)).alias("__cr"),
    )
    totals = counts.agg(
        F.sum("__ct").alias("__tt"),
        F.sum("__cr").alias("__tr"),
        F.count(F.lit(1)).alias("__v"),
    )
    s = float(smoothing)
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "__tok",
        (
            F.log((F.col("__ct") + s) / (F.col("__tt") + s * F.col("__v")))
            - F.log((F.col("__cr") + s) / (F.col("__tr") + s * F.col("__v")))
        ).alias("__lr"),
    )
    scores = (
        toks.filter(~F.col("__tgt"))
        .join(lm, "__tok")
        .groupBy(id_col)
        .agg(
            F.sum("__lr").alias("logweight"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    u = uniform if uniform is not None else hash_uniform(F.col(id_col), seed)
    keyed = (
        df.filter(~is_target)
        .select(id_col)
        .join(scores, id_col, "left")
        .select(
            id_col,
            F.coalesce("logweight", F.lit(0.0)).alias("logweight"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "gumbel_key",
            F.col("logweight") / float(temperature) - F.log(-F.log(u)),
        )
    )
    topk = keyed.orderBy(F.desc("gumbel_key"), F.col(id_col)).limit(k)
    # ranking k rows: the single-group partition spec is deliberate —
    # the frame is ≤ k rows by the limit above, single-task by
    # construction (pmod(id, 1) rather than a literal so Catalyst's
    # constant folding can't erase the partition spec)
    # type-agnostic constant key (xxhash64 takes any column type —
    # pmod over the raw id would break on string doc ids under ANSI)
    rank_win = Window.partitionBy(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(1))
    ).orderBy(F.desc("gumbel_key"), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(rank_win))


def filter_entities_by_support(
    df: DataFrame,
    entity_col: str,
    min_support: int,
    exempt: DataFrame | None = None,
) -> DataFrame:
    """P9 (RandomEffectDataset.scala:586-606): drop all rows of entities
    with fewer than ``min_support`` rows, unless the entity appears in
    ``exempt`` (entities with a prior model, J12 semantics).

    Implemented as count-aggregate + semi-join — Catalyst partial-
    aggregates the count map-side, and AQE picks broadcast when the
    surviving entity set is small.
    """
    support = (
        df.groupBy(entity_col).agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_support)
        .select(entity_col)
    )
    if exempt is not None:
        support = support.unionByName(exempt.select(entity_col)).distinct()
    return df.join(support, entity_col, "left_semi")


def per_entity_cap(
    df: DataFrame,
    entity_col: str,
    cap: int,
    weight_col: str | None = "weight",
    uid_col: str = "uid",
    seed: int = 42,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """T2 bounded per-entity reservoir (RandomEffectDataset.scala:454-527
    + MinHeapWithFixedCapacity.scala): keep ≤ ``cap`` rows per entity,
    chosen by deterministic hash order; survivors' weights are rescaled
    by total/kept so each entity's total weight is preserved.

    Spark-first: a rank window per entity replaces the reference's
    combineByKey min-heap — the window shuffles once on entity and
    sorts within partitions; no driver involvement. ``order_cols``
    overrides the hash ordering (oracle determinism).

    This cap is what makes the per-entity solves over Arrow batches of
    entities (ml/random_effects.py) safe: it bounds the rows one entity
    carries into a batch (the reference's 2 GB/partition assumption,
    RandomEffectDataset.scala:38-45).
    """
    if order_cols:
        order = [F.col(c) for c in order_cols]
    else:
        order = [F.xxhash64(F.col(uid_col), F.lit(seed)), F.col(uid_col)]
    win = Window.partitionBy(entity_col).orderBy(*order)
    cnt_win = Window.partitionBy(entity_col)
    out = (
        df.withColumn("__rn", F.row_number().over(win))
        .withColumn("__total", F.count(F.lit(1)).over(cnt_win))
        .filter(F.col("__rn") <= cap)
    )
    if weight_col:
        out = out.withColumn(
            weight_col,
            F.col(weight_col)
            * F.col("__total")
            / F.least(F.col("__total"), F.lit(cap)).cast("double"),
        )
    return out.drop("__rn", "__total")


# ------------------------------------------------------- global shuffle


def shuffle_assignment(
    df: DataFrame,
    uid_col: str = "uid",
    n_shards: int = 8,
    seed: int = 17,
    uniform: Column | None = None,
    order_key: Column | None = None,
) -> DataFrame:
    """Deterministic global-shuffle assignment for training-data export:
    adds ``shard`` (pseudo-random shard id) and ``ord`` (within-shard
    order key) as pure column expressions.

    (shard, ord, uid) totally orders the dataset as a pseudo-random
    permutation — the pre-training "shuffle the corpus" step — without
    a global sort: the physical layout needs ONE hash exchange on
    shard plus a per-partition sort (``write_training_shards``), so
    the plan scales to any corpus size. Defaults use the
    engine-portable Park–Miller LCG (exact BIGINT arithmetic, oracle-
    replayable); production can pass ``uniform=hash_uniform(...)`` /
    ``order_key=xxhash64(...)`` for stronger mixing.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    uid = F.col(uid_col)

    # Two LCG rounds, not one: a single Park–Miller step is linear in
    # uid with multiplier 48271, so a block of consecutive uids smaller
    # than M/48271 ≈ 44k maps to one narrow interval — every row lands
    # in shard 0. The composition (A²·x mod M, effective multiplier
    # ≈ 1.8e8) wraps every ~12 consecutive uids and spreads them
    # uniformly, while remaining a bijection on Z_M (tie-free order
    # keys for distinct uids < M) and exact in BIGINT on any engine.
    def lcg2(x):
        h1 = (F.lit(_LCG_A) * (x % _LCG_M)) % _LCG_M
        return (F.lit(_LCG_A) * h1) % _LCG_M

    u = (
        uniform
        if uniform is not None
        else lcg2(uid + F.lit(seed)).cast("double") / float(_LCG_M)
    )
    o = order_key if order_key is not None else lcg2(uid + F.lit(seed + 1))
    return df.withColumns(
        {
            "shard": F.floor(u * n_shards).cast("long"),
            "ord": o.cast("long"),
        }
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    uid_col: str = "uid",
    seed: int = 17,
    fmt: str = "parquet",
) -> None:
    """Materialize the shuffled corpus as ``path/shard=K/`` directories,
    one sorted file per shard: one hash exchange on shard + a local
    (shard, ord, uid) sort — no global ordering operator anywhere in
    the plan. Readers stream shards independently; concatenating
    shard 0..n-1 replays the full pseudo-random permutation."""
    out = shuffle_assignment(df, uid_col=uid_col, n_shards=n_shards, seed=seed)
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "ord", uid_col)
        .write.partitionBy("shard")
        .format(fmt)
        .mode("overwrite")
        .save(path)
    )
