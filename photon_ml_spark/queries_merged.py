"""Suite gate rows: one row per component family, composed explicitly.

The correctness gate is the 50 rows of ``queries.GATE_ORDER``:
31 register in their home modules, and the 19 here are suites. A suite
names its constituents directly. Each constituent is a plain function
in its home module (``queries_core``/``_ml``/``_pipeline``/
``_streaming``) next to its oracle SQL, a module constant named
``<FUNCTION>_SQL``; it is never registered. A suite runs its
constituents, combines the frames in one of three shapes, and builds
its oracle from theirs in the same shape:

- cross join of 1-row frames, columns prefixed per constituent
  (``_widen``/``_widen_sql``: a9, m1);
- variant-tagged union, with NULL-typed slots where a variant has no
  value (x6, x9, e1, x17, p5, e6, x21, x3, x14, x18, m2);
- melt of each constituent's numeric columns to (variant, key, k, v)
  (``_melt_df``/``_melt_sql``: xm1, f5, a4, x19, x12, x1).

Suites that take ``stamps`` are the bench's stamped rows
(``bench.STAMPED_SUITES``): with a dict, each block is timed and
materialized under its own key (``_stamp``, ``queries.timed``); with
None, on every correctness path, the suite stays one lazy plan.

Exactness: cross joins of 1-row frames and UNION ALL of already-
hash-matching constituents introduce no new float arithmetic; integer
casts to double are exact below 2^53.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from photon_ml_spark import (
    queries_core as core,
    queries_ml as ml,
    queries_pipeline as pipe,
    queries_streaming as streaming,
)
from photon_ml_spark.materialize import checkpoint, persist
from photon_ml_spark.queries import _t, register, timed


class _Part(NamedTuple):
    """A constituent of a widened, melted or ANN suite: its run
    function, its oracle SQL, its tag (column prefix or variant) and
    the output columns the suite keeps."""

    run: Callable
    sql: str
    tag: str
    cols: list[str]


def _stamp(stamps, name, df):
    """Materialize one suite block under ``stamps[name]`` (bench
    attribution). ``df`` may be a zero-arg thunk, so plan construction
    and any eager work in the block's run() land in its stamp, not in
    the row's overhead. The block is an EAGER checkpoint: a
    ``persist()`` here was silently defeated, because the final
    union's DeduplicateRelations re-aliases each child so the rewritten
    subtree no longer matches the cache entry, and the union recomputed
    every block. A checkpoint truncates lineage, so the re-aliased
    LogicalRDD still reads the materialized blocks, which the bench
    row's scope owns. When ``stamps`` is None this is an identity and
    the suite stays one lazy plan."""
    if stamps is None:
        return df() if callable(df) else df
    with timed(stamps, name):
        if callable(df):
            df = df()
        df = checkpoint(df, level=StorageLevel.MEMORY_AND_DISK_DESER)
    return df


def _widen(spark, sf_dir, parts, stamps=None):
    """Cross join 1-row frames, prefixing columns per constituent.

    Each frame coalesces to one partition first: a cartesian product
    multiplies partition counts (three 8-partition 1-row frames would
    schedule 512 tasks for a single output row)."""
    out = None
    for p in parts:
        # thunk: plan construction is part of the block's stamp
        df = _stamp(
            stamps,
            p.tag,
            lambda p=p: p.run(spark, sf_dir)
            .select([F.col(c).alias(f"{p.tag}_{c}") for c in p.cols])
            .coalesce(1),
        )
        # broadcast the 1-row frame: compiles the cross join to
        # BroadcastNestedLoopJoin on a single-row side instead of a
        # CartesianProduct operator
        out = df if out is None else out.crossJoin(F.broadcast(df))
    return out


def _widen_sql(parts) -> str:
    sel = ", ".join(
        f"t{i}.{c} AS {p.tag}_{c}" for i, p in enumerate(parts) for c in p.cols
    )
    frm = " CROSS JOIN ".join(
        f"({p.sql.strip()}) t{i}" for i, p in enumerate(parts)
    )
    return f"SELECT {sel} FROM {frm}"


def _melt_df(part, df, key_col, key_out):
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in part.cols)
    return df.selectExpr(
        f"{key_col} AS {key_out}", f"stack({len(part.cols)}, {pairs}) AS (k, v)"
    ).select(F.lit(part.tag).alias("variant"), key_out, "k", "v")


def _melt_sql(part, key="doc_id") -> str:
    sql = part.sql.strip()
    return " UNION ALL ".join(
        f"SELECT '{part.tag}' AS variant, {key}, '{c}' AS k, "
        f'CAST("{c}" AS DOUBLE) AS v FROM ({sql}) m_{part.tag}_{c}'
        for c in part.cols
    )


def _union(frames):
    return reduce(lambda a, b: a.unionByName(b), frames)


# ------------------------------------------------------ cross-joined suites

_METRIC_PARTS = [
    _Part(core.a9_scalar_metrics, core.A9_SCALAR_METRICS_SQL, "a9",
          ["rmse", "mae", "logistic_loss", "n"]),
    _Part(core.a9b_loss_kernels, core.A9B_LOSS_KERNELS_SQL, "a9b",
          ["poisson_loss", "smoothed_hinge_loss", "n"]),
    _Part(core.a10_auroc, core.A10_AUROC_SQL, "a10", ["auroc"]),
    _Part(core.a10b_aupr, core.A10B_AUPR_SQL, "a10b", ["aupr"]),
    _Part(core.a11_grouped_precision_at_k, core.A11_GROUPED_PRECISION_AT_K_SQL,
          "a11", ["mean_precision_at_k", "n_groups"]),
    _Part(core.a11b_grouped_auc, core.A11B_GROUPED_AUC_SQL, "a11b",
          ["mean_group_auc", "n_groups"]),
    _Part(ml.a12_peak_f1_aic, ml.A12_PEAK_F1_AIC_SQL, "a12",
          ["peak_f1", "loglik", "aic", "aicc", "p_loglik", "p_aic", "p_aicc"]),
    _Part(core.a13_eval_suite, core.A13_EVAL_SUITE_SQL, "a13",
          ["rmse", "mae", "logistic_loss", "squared_loss", "weight_sum", "n"]),
    _Part(core.a14_feature_quantiles, core.A14_FEATURE_QUANTILES_SQL, "a14",
          [f"{c}_q{p}"
           for c in ("l_quantity", "l_extendedprice", "l_discount")
           for p in (25, 50, 75, 99)]),
]


@register("a9_metric_suite", oracle=_widen_sql(_METRIC_PARTS))
def a9_metric_suite(spark, sf_dir, stamps=None):
    """A9/A10/A11/A12/A13/T5 metric-evaluator suite in ONE gate row:
    RMSE/MAE/logloss, Poisson+smoothed-hinge kernels, weighted AUROC,
    AUPR, grouped precision@5, grouped AUC, peak-F1/AIC, one-pass
    EvaluationSuite and feature quantiles — cross join of the nine
    1-row constituents"""
    return _widen(spark, sf_dir, _METRIC_PARTS, stamps=stamps)


_SOLVER_PARTS = [
    _Part(ml.m1b_box_fixed_effect, ml.M1B_BOX_FIXED_EFFECT_SQL, "box",
          ["coef", "intercept", "optimizer"]),
    _Part(ml.m1c_tron_fixed_effect, ml.M1C_TRON_FIXED_EFFECT_SQL, "tron",
          ["coef", "intercept", "optimizer", "converged"]),
    _Part(ml.m9b_fixed_effect_prior, ml.M9B_FIXED_EFFECT_PRIOR_SQL, "prior",
          ["coef", "intercept", "optimizer"]),
    _Part(ml.j7_byjoin_scoring, ml.J7_BYJOIN_SCORING_SQL, "byjoin",
          ["bcast_sum", "shuffle_sum", "n"]),
]


@register("m1_custom_solvers", oracle=_widen_sql(_SOLVER_PARTS))
def m1_custom_solvers(spark, sf_dir, stamps=None):
    """M1/M4/M9/A2/J7 custom distributed solvers + wide-model scoring in
    ONE gate row: LBFGSB box-constrained fit, TRON trust-region Newton
    (offset + CG Hessian-vector rounds), Gaussian-prior fixed-effect
    fit, and score_by_join through both its broadcast (J7) and shuffle
    physical strategies — cross join of the four 1-row constituents"""
    return _widen(spark, sf_dir, _SOLVER_PARTS, stamps=stamps)


# ------------------------------------------------------------ union suites

_X5_MELT_SQL = " UNION ALL ".join(
    f"SELECT 'signatures' AS variant, doc_id AS id_a, "
    f"CAST({i} AS BIGINT) AS id_b, CAST(mh{i} AS DOUBLE) AS stat "
    f"FROM ({pipe.X5_MINHASH_SIGNATURES_SQL.strip()}) x5_{i}"
    for i in range(8)
)


@register(
    "x6_neardup_pairs",
    oracle=f"""
SELECT 'minhash_lsh' AS variant, id_a, id_b, jaccard AS stat
FROM ({pipe.X6_MINHASH_LSH_PAIRS_SQL.strip()}) t0
UNION ALL
SELECT 'simhash' AS variant, id_a, id_b, CAST(hamming AS DOUBLE) AS stat
FROM ({pipe.X7_SIMHASH_NEARDUP_SQL.strip()}) t1
UNION ALL
SELECT 'embedding' AS variant, id_a, id_b, cosine AS stat
FROM ({pipe.X8_EMBEDDING_NEARDUP_SQL.strip()}) t2
UNION ALL
{_X5_MELT_SQL}
UNION ALL
SELECT variant, id_a, id_b, stat
FROM ({pipe.X32_INCREMENTAL_NEARDUP_SQL.strip()}) t32
UNION ALL
SELECT variant, id_a, id_b, stat
FROM ({pipe.X33_STREAM_NEARDUP_SQL.strip()}) t33
""",
)
def x6_neardup_pairs(spark, sf_dir, stamps=None):
    """pipeline/dedup near-dup pair suite in ONE gate row: MinHash+LSH
    (stat=verified jaccard), SimHash bands (stat=hamming), embedding
    cosine blocks (stat=cosine), the portable minhash SIGNATURE rows
    themselves (x5, melted to id_a=doc, id_b=hash index, stat=minhash
    value — exact integers), plus the PERSISTED-INDEX flows:
    incremental near-dedup against an on-disk minhash index
    (inc_pairs/inc_survivors) and the 2-micro-batch streaming replay
    with staged batch=<id> publishes (stream, id_b=publish batch) —
    variant-tagged union"""
    from photon_ml_spark.operators.dedup import token_ids

    # one scan and one cached shingle-id relation feed every shingle-
    # based constituent (all shingle at n=2), so the vocabulary sort
    # runs once; serialized, it is one row per (doc, token) — corpus-
    # scale. Stamped, it is built AND materialized under its own stamp:
    # token_ids' zip_with_index checkpoints eagerly, so the vocabulary
    # sort runs at call time.
    docs = _t(spark, sf_dir, "documents")
    with timed(stamps, "token_ids_shared"):
        sids = persist(token_ids(docs, n=2))
        if stamps is not None:
            sids.count()
    lsh = _stamp(
        stamps, "minhash_lsh",
        pipe.x6_minhash_lsh_pairs(docs, sids).select(
            F.lit("minhash_lsh").alias("variant"),
            "id_a", "id_b", F.col("jaccard").alias("stat"),
        ),
    )
    sim = _stamp(
        stamps, "simhash",
        pipe.x7_simhash_neardup(docs, sids).select(
            F.lit("simhash").alias("variant"),
            "id_a", "id_b", F.col("hamming").cast("double").alias("stat"),
        ),
    )
    emb = _stamp(
        stamps, "embedding",
        pipe.x8_embedding_neardup(spark, sf_dir).select(
            F.lit("embedding").alias("variant"),
            "id_a", "id_b", F.col("cosine").alias("stat"),
        ),
    )
    sig_pairs = ", ".join(
        f"CAST({i} AS BIGINT), CAST(mh{i} AS DOUBLE)" for i in range(8)
    )
    sigs = _stamp(
        stamps, "signatures",
        pipe.x5_minhash_signatures(sids)
        .selectExpr("doc_id", f"stack(8, {sig_pairs}) AS (id_b, stat)")
        .select(
            F.lit("signatures").alias("variant"),
            F.col("doc_id").alias("id_a"), "id_b", "stat",
        ),
    )
    # x32/x33 build their persisted on-disk indexes EAGERLY inside
    # run() (real index IO is the flow under test), so each gets a
    # _build stamp for that phase next to the block stamp of its
    # returned pair relation. x33 also reports per-batch phase stamps
    # around its real actions; streaming_build is the residual glue.
    with timed(stamps, "incremental_build"):
        inc = pipe.x32_incremental_neardup(docs, sids)
    inc = _stamp(stamps, "incremental", inc)
    with timed(stamps, "streaming_build", phases="streaming") as ps:
        stream = pipe.x33_stream_neardup(docs, sids, phase_stamps=ps)
    stream = _stamp(stamps, "streaming", stream)
    return _union([lsh, sim, emb, sigs, inc, stream])


_ANN_COLS = ["query_id", "vec_id", "cosine", "rank"]
_ANN_PARTS = [
    _Part(pipe.x9_ann_brute_topk, pipe.X9_ANN_BRUTE_TOPK_SQL, "brute", _ANN_COLS),
    _Part(pipe.x9b_ann_blas_topk, pipe.X9B_ANN_BLAS_TOPK_SQL, "blas", _ANN_COLS),
    _Part(pipe.x10_ann_ivf_topk, pipe.X10_ANN_IVF_TOPK_SQL, "ivf", _ANN_COLS),
    _Part(pipe.x10b_ann_ivf_index_topk, pipe.X10B_ANN_IVF_INDEX_TOPK_SQL,
          "ivf_index", _ANN_COLS),
    _Part(pipe.x9c_ann_sq8_topk, pipe.X9C_ANN_SQ8_TOPK_SQL, "sq8", _ANN_COLS),
    _Part(pipe.x9d_ann_pq_topk, pipe.X9D_ANN_PQ_TOPK_SQL, "pq", _ANN_COLS),
]


@register(
    "x9_ann_topk",
    oracle=" UNION ALL ".join(
        f"SELECT '{p.tag}' AS variant, {', '.join(p.cols)} "
        f"FROM ({p.sql.strip()}) t{i}"
        for i, p in enumerate(_ANN_PARTS)
    ),
)
def x9_ann_topk(spark, sf_dir, stamps=None):
    """pipeline/similarity ANN suite in ONE gate row: exact brute-force
    cosine top-5, the Arrow/BLAS batch-matmul physical variant (same
    oracle rows — value-equal by construction), IVF cell-bucketed top-5,
    the PERSISTED-IVF index path — KMeans quantizer + cell-partitioned
    corpus saved to disk, full-probe query == brute force so the brute
    oracle pins it exactly — and the SQ8 and PQ quantized top-5s,
    oracle-exact via their integer reconstructions — variant-tagged
    union"""
    parts = []
    for p in _ANN_PARTS:
        # some parts do EAGER work inside run() (x10b's KMeans fit +
        # partitioned index write, sq8's min/max training pass): it is
        # added to the part's own stamp, not left in the row's overhead
        with timed(stamps, p.tag):
            df = p.run(spark, sf_dir)
        parts.append(_stamp(
            stamps, p.tag, df.select(F.lit(p.tag).alias("variant"), *p.cols)
        ))
    return _union(parts)


@register(
    "e1_event_windows",
    oracle=f"""
SELECT 'tumbling' AS variant, event_type AS key, window_start AS ts,
       n_events, value_sum
FROM ({streaming.E1_EVENT_WINDOW_AGG_SQL.strip()}) t0
UNION ALL
SELECT 'session' AS variant, CAST(user_id AS VARCHAR) AS key,
       session_start AS ts, n_events, value_sum
FROM ({streaming.E3_EVENT_SESSIONS_SQL.strip()}) t1
UNION ALL
SELECT 'scoring' AS variant, CAST(event_id AS VARCHAR) AS key,
       CAST(NULL AS VARCHAR) AS ts, CAST(NULL AS BIGINT) AS n_events,
       score AS value_sum
FROM ({streaming.E4_STREAM_SCORING_SQL.strip()}) t2
""",
)
def e1_event_windows(spark, sf_dir):
    """streaming event suite in ONE gate row: tumbling 15-min windows
    (key=event_type), 5-min-gap session windows (key=user_id), and
    stateless literal-model stream scoring (e4, key=event_id,
    value_sum=score) — variant-tagged union of the batch sides of the
    dual-use operators"""
    tumb = streaming.e1_event_window_agg(spark, sf_dir).select(
        F.lit("tumbling").alias("variant"),
        F.col("event_type").alias("key"),
        F.col("window_start").alias("ts"),
        "n_events", "value_sum",
    )
    sess = streaming.e3_event_sessions(spark, sf_dir).select(
        F.lit("session").alias("variant"),
        F.col("user_id").cast("string").alias("key"),
        F.col("session_start").alias("ts"),
        "n_events", "value_sum",
    )
    scoring = streaming.e4_stream_scoring(spark, sf_dir).select(
        F.lit("scoring").alias("variant"),
        F.col("event_id").cast("string").alias("key"),
        F.lit(None).cast("string").alias("ts"),
        F.lit(None).cast("long").alias("n_events"),
        F.col("score").alias("value_sum"),
    )
    return _union([tumb, sess, scoring])


@register(
    "x17_cluster_suite",
    oracle=f"""
SELECT 'text_lsh' AS variant, doc_id AS id, cluster_id, is_keep
FROM ({pipe.X17_DEDUP_CLUSTERS_SQL.strip()}) t0
UNION ALL
SELECT 'embedding' AS variant, vec_id AS id, cluster_id, is_keep
FROM ({pipe.X20_SEMANTIC_DEDUP_SQL.strip()}) t1
""",
)
def x17_cluster_suite(spark, sf_dir):
    """dup-cluster resolution suite in ONE gate row: LSH text near-dup
    clusters (connected components + canonical keeper over documents)
    and SemDedup embedding clusters (same components over
    hyperplane-cell cosine pairs) — variant-tagged union"""
    text = pipe.x17_dedup_clusters(spark, sf_dir).select(
        F.lit("text_lsh").alias("variant"),
        F.col("doc_id").alias("id"), "cluster_id", "is_keep",
    )
    emb = pipe.x20_semantic_dedup(spark, sf_dir).select(
        F.lit("embedding").alias("variant"),
        F.col("vec_id").alias("id"), "cluster_id", "is_keep",
    )
    return text.unionByName(emb)


@register(
    "p5_downsample_suite",
    oracle=f"""
SELECT 'random' AS variant, uid, CAST(NULL AS DOUBLE) AS label,
       CAST(NULL AS BIGINT) AS cnt, CAST(NULL AS DOUBLE) AS weight_sum
FROM ({core.P5_RANDOM_DOWNSAMPLE_SQL.strip()}) t0
UNION ALL
SELECT 'stratified' AS variant, CAST(NULL AS BIGINT) AS uid, label,
       cnt, weight_sum
FROM ({core.P6_STRATIFIED_DOWNSAMPLE_SQL.strip()}) t1
""",
)
def p5_downsample_suite(spark, sf_dir):
    """P5/P6 down-sampler suite in ONE gate row: the exact seeded
    uniform row set (portable Park-Miller gate) and the stratified
    keep-positives/gate-negatives class summary — variant-tagged union"""
    rand = core.p5_random_downsample(spark, sf_dir).select(
        F.lit("random").alias("variant"),
        "uid",
        F.lit(None).cast("double").alias("label"),
        F.lit(None).cast("long").alias("cnt"),
        F.lit(None).cast("double").alias("weight_sum"),
    )
    strat = core.p6_stratified_downsample(spark, sf_dir).select(
        F.lit("stratified").alias("variant"),
        F.lit(None).cast("long").alias("uid"),
        "label", "cnt", "weight_sum",
    )
    return rand.unionByName(strat)


@register(
    "e6_temporal_joins",
    oracle=f"""
SELECT 'asof' AS variant, event_id AS l_id, CAST(NULL AS BIGINT) AS r_id,
       user_id, ts AS l_ts, asof_ts AS r_ts, asof_snap_v AS payload
FROM ({streaming.E6_ASOF_JOIN_SQL.strip()}) t0
UNION ALL
SELECT 'range' AS variant, event_id AS l_id, anchor_id AS r_id, user_id,
       CAST(NULL AS VARCHAR) AS l_ts, CAST(NULL AS VARCHAR) AS r_ts,
       CAST(NULL AS BIGINT) AS payload
FROM ({streaming.E7_RANGE_JOIN_SQL.strip()}) t1
UNION ALL
SELECT 'interval' AS variant, l_event_id AS l_id, r_event_id AS r_id,
       user_id, l_ts, r_ts, CAST(NULL AS BIGINT) AS payload
FROM ({streaming.E8_INTERVAL_JOIN_SQL.strip()}) t2
""",
)
def e6_temporal_joins(spark, sf_dir):
    """temporal-join suite in ONE gate row: as-of join (merge-join shape
    — one shuffle + one ordered window, no join operator), bucketed
    range join (interval decomposition to an equi-join), and the batch
    side of the watermarked stream-stream interval join — variant-tagged
    union"""
    asof = streaming.e6_asof_join(spark, sf_dir).select(
        F.lit("asof").alias("variant"),
        F.col("event_id").alias("l_id"),
        F.lit(None).cast("long").alias("r_id"),
        "user_id",
        F.col("ts").alias("l_ts"),
        F.col("asof_ts").alias("r_ts"),
        F.col("asof_snap_v").alias("payload"),
    )
    rng = streaming.e7_range_join(spark, sf_dir).select(
        F.lit("range").alias("variant"),
        F.col("event_id").alias("l_id"),
        F.col("anchor_id").alias("r_id"),
        "user_id",
        F.lit(None).cast("string").alias("l_ts"),
        F.lit(None).cast("string").alias("r_ts"),
        F.lit(None).cast("long").alias("payload"),
    )
    iv = streaming.e8_interval_join(spark, sf_dir).select(
        F.lit("interval").alias("variant"),
        F.col("l_event_id").alias("l_id"),
        F.col("r_event_id").alias("r_id"),
        "user_id", "l_ts", "r_ts",
        F.lit(None).cast("long").alias("payload"),
    )
    return _union([asof, rng, iv])


@register(
    "x21_chunk_split",
    oracle=f"""
SELECT 'chunk' AS variant, doc_id, CAST(chunk_id AS BIGINT) AS idx,
       CAST(chunk_tokens AS BIGINT) AS n_tok, chunk_text AS tag
FROM ({pipe.X21_DOC_CHUNKING_SQL.strip()}) t0
UNION ALL
SELECT 'split' AS variant, doc_id, cluster_id AS idx,
       CAST(NULL AS BIGINT) AS n_tok, split AS tag
FROM ({pipe.X22_LEAKAGE_SAFE_SPLIT_SQL.strip()}) t1
UNION ALL
SELECT 'bpe_' || kind AS variant, CAST(NULL AS BIGINT) AS doc_id,
       idx, n AS n_tok, tag
FROM ({pipe.X29_BPE_TOKENIZER_SQL.strip()}) t2
UNION ALL
SELECT 'unigram' AS variant, CAST(NULL AS BIGINT) AS doc_id,
       score AS idx, n_pieces AS n_tok, word || '=' || seg AS tag
FROM ({pipe.X29B_UNIGRAM_TOKENIZER_SQL.strip()}) t3
""",
)
def x21_chunk_split(spark, sf_dir, stamps=None):
    """context-preparation suite in ONE gate row: token-window document
    chunking (pure-expression flatMap, zero shuffle), the leakage-safe
    train/test split keyed by LSH near-dup cluster, distributed BPE
    tokenizer training + per-language encode stats, and unigram-LM
    (sentencepiece-style) Viterbi segmentation of the corpus's distinct
    words under a fixed integer-scored vocabulary — the oracle replays
    the DP EXACTLY by enumerating all 2^(L-1) split masks per word with
    the same (score DESC, seg ASC) tie-break — variant-tagged union"""
    # the BPE/unigram constituents TRAIN their tokenizers eagerly inside
    # run(), and the split resolves its clusters eagerly: each build
    # phase gets a _build stamp next to its block stamp. x22 reports
    # pairs (LSH detection) and cluster phase stamps; split_build is
    # the residual tokenize/plan glue.
    with timed(stamps, "chunk_build"):
        chunk = pipe.x21_doc_chunking(spark, sf_dir)
    with timed(stamps, "split_build", phases="split") as ps:
        split = pipe.x22_leakage_safe_split(spark, sf_dir, phase_stamps=ps)
    with timed(stamps, "bpe_build"):
        bpe = pipe.x29_bpe_tokenizer(spark, sf_dir)
    with timed(stamps, "unigram_build"):
        unigram = pipe.x29b_unigram_tokenizer(spark, sf_dir)
    chunk = chunk.select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("idx"),
        F.col("chunk_tokens").cast("long").alias("n_tok"),
        F.col("chunk_text").alias("tag"),
    )
    split = split.select(
        F.lit("split").alias("variant"),
        "doc_id",
        F.col("cluster_id").alias("idx"),
        F.lit(None).cast("long").alias("n_tok"),
        F.col("split").alias("tag"),
    )
    bpe = bpe.select(
        F.concat(F.lit("bpe_"), F.col("kind")).alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "idx",
        F.col("n").alias("n_tok"),
        "tag",
    )
    unigram = unigram.select(
        F.lit("unigram").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("score").alias("idx"),
        F.col("n_pieces").alias("n_tok"),
        F.concat("word", F.lit("="), "seg").alias("tag"),
    )
    return _union([
        _stamp(stamps, "chunk", chunk),
        _stamp(stamps, "split", split),
        _stamp(stamps, "bpe", bpe),
        _stamp(stamps, "unigram", unigram),
    ])


@register(
    "x3_exact_dedup",
    oracle=f"""
SELECT 'doc' AS variant, dup_key AS key, n_docs AS a, keep_id AS b,
       CAST(NULL AS BIGINT) AS c
FROM ({pipe.X3_BOW_EXACT_DEDUP_SQL.strip()}) t0
UNION ALL
SELECT 'substring' AS variant, CAST(doc_id AS VARCHAR) AS key,
       span_start AS a, span_end AS b, n_windows AS c
FROM ({pipe.X24_SUBSTRING_SPANS_SQL.strip()}) t1
""",
)
def x3_exact_dedup(spark, sf_dir):
    """exact-dedup suite in ONE gate row: document-level exact dedup
    (hash-groupBy on the canonical bag-of-words signature) and
    substring-level exact dedup (duplicated 10-token windows merged to
    maximal per-doc spans, Lee et al. 2022) — variant-tagged union"""
    doc = pipe.x3_bow_exact_dedup(spark, sf_dir).select(
        F.lit("doc").alias("variant"),
        F.col("dup_key").alias("key"),
        F.col("n_docs").alias("a"),
        F.col("keep_id").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    sub = pipe.x24_substring_spans(spark, sf_dir).select(
        F.lit("substring").alias("variant"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("span_start").alias("a"),
        F.col("span_end").alias("b"),
        F.col("n_windows").alias("c"),
    )
    return doc.unionByName(sub)


@register(
    "x14_pack_shuffle",
    oracle=f"""
SELECT 'pack' AS variant, shard, pack_id AS a, n_docs AS b,
       pack_tokens AS c
FROM ({pipe.X14_SEQUENCE_PACKING_SQL.strip()}) t0
UNION ALL
SELECT 'shuffle' AS variant, shard, uid AS a, ord AS b,
       CAST(NULL AS BIGINT) AS c
FROM ({pipe.X25_GLOBAL_SHUFFLE_SQL.strip()}) t1
""",
)
def x14_pack_shuffle(spark, sf_dir):
    """batch-layout suite in ONE gate row: fixed-budget sequence packing
    (shard-local running sums) and the deterministic global corpus
    shuffle (pseudo-random shard + tie-free order key, one exchange +
    local sort, no global sort) — variant-tagged union"""
    pack = pipe.x14_sequence_packing(spark, sf_dir).select(
        F.lit("pack").alias("variant"),
        "shard",
        F.col("pack_id").alias("a"),
        F.col("n_docs").alias("b"),
        F.col("pack_tokens").alias("c"),
    )
    shuf = pipe.x25_global_shuffle(spark, sf_dir).select(
        F.lit("shuffle").alias("variant"),
        "shard",
        F.col("uid").alias("a"),
        F.col("ord").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    return pack.unionByName(shuf)


@register(
    "x18_corpus_mix",
    oracle=f"""
SELECT 'mix' AS variant, doc_id, source AS tag,
       CAST(NULL AS BIGINT) AS idx, CAST(NULL AS BIGINT) AS n,
       rate AS val
FROM ({pipe.X18_SHARE_MIX_SQL.strip()}) t0
UNION ALL
SELECT 'epochs' AS variant, doc_id, source AS tag, copy_idx AS idx,
       CAST(NULL AS BIGINT) AS n, rate AS val
FROM ({pipe.X28_EPOCH_OVERSAMPLE_SQL.strip()}) t1
UNION ALL
SELECT 'dsir' AS variant, doc_id, CAST(NULL AS VARCHAR) AS tag,
       CAST(rank AS BIGINT) AS idx, n_tokens AS n, gumbel_key AS val
FROM ({pipe.X27_DSIR_SELECT_SQL.strip()}) t2
""",
)
def x18_corpus_mix(spark, sf_dir):
    """corpus mixing/selection suite in ONE gate row: share-targeted
    downsampling (x18), epoch-capped UniMax oversampling with copy tags
    (x28), and DSIR Gumbel-top-k importance resampling toward a target
    domain LM (x27) — variant-tagged union"""
    mix = pipe.x18_share_mix(spark, sf_dir).select(
        F.lit("mix").alias("variant"),
        "doc_id",
        F.col("source").alias("tag"),
        F.lit(None).cast("long").alias("idx"),
        F.lit(None).cast("long").alias("n"),
        F.col("rate").alias("val"),
    )
    epochs = pipe.x28_epoch_oversample(spark, sf_dir).select(
        F.lit("epochs").alias("variant"),
        "doc_id",
        F.col("source").alias("tag"),
        F.col("copy_idx").alias("idx"),
        F.lit(None).cast("long").alias("n"),
        F.col("rate").alias("val"),
    )
    dsir = pipe.x27_dsir_select(spark, sf_dir).select(
        F.lit("dsir").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("tag"),
        F.col("rank").cast("long").alias("idx"),
        F.col("n_tokens").alias("n"),
        F.col("gumbel_key").alias("val"),
    )
    return _union([mix, epochs, dsir])


@register(
    "m2_per_entity_ridge",
    oracle=f"""{ml.M2_RIDGE_BLOCKS_SQL.strip()}
UNION ALL
SELECT 'poisson' AS variant, entity, g_x AS coef, g_int AS intercept,
       n_samples
FROM ({ml.M2B_PER_ENTITY_POISSON_SQL.strip()}) m2b
""",
)
def m2_per_entity_ridge(spark, sf_dir, stamps=None):
    """M2 per-entity solver suite, four blocks: the ridge/subspace/exempt
    closed-form blocks plus the POISSON family through the same Newton
    solver over Arrow batches of entities, verified by its distributed
    stationarity oracle (m2b: coef/intercept carry the recomputed
    penalized gradient, which must round to 0) — variant-tagged union"""
    base = _stamp(stamps, "ridge", lambda: ml.m2_ridge_blocks(spark, sf_dir))
    poisson = _stamp(
        stamps,
        "poisson",
        lambda: ml.m2b_per_entity_poisson(spark, sf_dir).select(
            F.lit("poisson").alias("variant"),
            "entity",
            F.col("g_x").alias("coef"),
            F.col("g_int").alias("intercept"),
            "n_samples",
        ),
    )
    return base.unionByName(poisson)


# ------------------------------------------------------------- melt suites

_XM_PARTS = [
    _Part(pipe.xm1_multimodal_decode_resize,
          pipe.XM1_MULTIMODAL_DECODE_RESIZE_SQL, "image",
          ["width", "height", "mean_luma", "out_w", "out_h", "pad_x", "pad_y"]),
    _Part(pipe.xm2_frame_sample_plan, pipe.XM2_FRAME_SAMPLE_PLAN_SQL, "video",
          ["n_frames", "last_ts"]),
    _Part(pipe.xm3_audio_decode_resample, pipe.XM3_AUDIO_DECODE_RESAMPLE_SQL,
          "audio",
          ["sample_rate", "n_samples", "rms", "duration_us", "out_samples"]),
    _Part(pipe.xm4_video_decode, pipe.XM4_VIDEO_DECODE_SQL, "video",
          ["width", "height", "fps", "n_frames", "duration_sec", "mean_luma"]),
]


@register(
    "xm1_multimodal_suite",
    oracle=" UNION ALL ".join(_melt_sql(p) for p in _XM_PARTS),
)
def xm1_multimodal_suite(spark, sf_dir, stamps=None):
    """pipeline/multimodal suite in ONE gate row: image decode+letterbox
    resize plan, video frame-sampling plan, audio decode+resample plan
    and video decode — each constituent's numeric outputs melted to
    (variant, doc_id, k, v) and unioned (deterministic-fake decoders
    for the oracle). Both video blocks stamp under ``video``."""
    parts = []
    for p in _XM_PARTS:
        pairs = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in p.cols)
        melted = (
            p.run(spark, sf_dir)
            .selectExpr("doc_id", f"stack({len(p.cols)}, {pairs}) AS (k, v)")
            .select(F.lit(p.tag).alias("variant"), "doc_id", "k", "v")
        )
        parts.append(_stamp(stamps, p.tag, melted))
    return _union(parts)


_KERNEL_PARTS = [
    _Part(core.f5_link_functions, core.F5_LINK_FUNCTIONS_SQL, "links",
          ["sigmoid", "exp_mean", "log1p_exp"]),
    _Part(core.f6_vector_ops, core.F6_VECTOR_OPS_SQL, "vectors",
          ["dot_ab", "norm_a", "cosine_ab"]),
]


@register(
    "f5_scalar_kernels",
    oracle=" UNION ALL ".join(_melt_sql(p, key="uid") for p in _KERNEL_PARTS),
)
def f5_scalar_kernels(spark, sf_dir):
    """F5/F6 scalar-kernel suite in ONE gate row: logistic/exp/log1p-exp
    link kernels and dot/L2-norm/cosine vector kernels, each
    constituent's columns melted to (variant, uid, k, v) — pure Catalyst
    expressions both"""
    return _union([
        _melt_df(p, p.run(spark, sf_dir), "uid", "uid") for p in _KERNEL_PARTS
    ])


_FEATURE_STATS = _Part(
    core.a4_feature_stats, core.A4_FEATURE_STATS_SQL, "feature",
    ["cnt", "mean", "variance", "min", "max", "l1", "l2", "mean_abs", "nnz"],
)
_DATASET_STATS = _Part(
    core.a8_dataset_stats, core.A8_DATASET_STATS_SQL, "dataset",
    ["n", "response_sum_100k", "response_mean", "response_stddev"],
)
_A8_KEY = "'dataset' AS feature"


@register(
    "a4_stats_suite",
    oracle=f"{_melt_sql(_FEATURE_STATS, key='feature')} UNION ALL "
    f"{_melt_sql(_DATASET_STATS, key=_A8_KEY)}",
)
def a4_stats_suite(spark, sf_dir):
    """A4/A8/F8/S10 statistics suite in ONE gate row: per-feature
    count/mean/var/min/max/L1/L2/meanAbs/nnz summary and the dataset
    response summary, melted to (variant, feature, k, v) — integer-exact
    sums on both sides"""
    feat = _melt_df(
        _FEATURE_STATS, _FEATURE_STATS.run(spark, sf_dir), "feature", "feature"
    )
    ds = _melt_df(
        _DATASET_STATS, _DATASET_STATS.run(spark, sf_dir), "'dataset'", "feature"
    )
    return feat.unionByName(ds)


_CURATION_PARTS = [
    _Part(pipe.x19_contamination, pipe.X19_CONTAMINATION_SQL, "contamination",
          ["n_shared_ngrams", "n_eval_docs"]),
    _Part(pipe.x23_unigram_perplexity, pipe.X23_UNIGRAM_PERPLEXITY_SQL,
          "perplexity", ["n_tokens", "ppl"]),
    _Part(pipe.x30_ngram_novelty, pipe.X30_NGRAM_NOVELTY_SQL, "novelty",
          ["n_ngrams", "n_novel", "novelty"]),
]


@register(
    "x19_curation_scores",
    oracle=" UNION ALL ".join(_melt_sql(p) for p in _CURATION_PARTS)
    + " UNION ALL \n"
    + "SELECT 'tfidf' AS variant, doc_id, term AS k, v FROM ("
    + pipe.X19B_TFIDF_KEYWORDS_SQL
    + ") tfidf_block\nUNION ALL\n"
    + "SELECT 'perplexity2' AS variant, doc_id, k, v FROM ("
    + pipe.X19C_BIGRAM_PERPLEXITY_SQL
    + ") ppl2_block\n",
)
def x19_curation_scores(spark, sf_dir):
    """curation-scoring suite in ONE gate row: benchmark-contamination
    detection (train/eval trigram collisions, shingle equi-join),
    CCNet-style add-one unigram-LM perplexity, per-doc trigram novelty
    (document-frequency join), tf-idf keyword extraction and
    INTERPOLATED bigram-LM perplexity — melted to (variant, doc_id, k,
    v)"""
    melted = [
        _melt_df(p, p.run(spark, sf_dir), "doc_id", "doc_id")
        for p in _CURATION_PARTS
    ]
    # the tf-idf and bigram blocks share one documents scan
    docs = _t(spark, sf_dir, "documents")
    tfidf = pipe.x19b_tfidf_keywords(docs).select(
        F.lit("tfidf").alias("variant"), "doc_id", F.col("term").alias("k"), "v"
    )
    ppl2 = pipe.x19c_bigram_perplexity(docs).select(
        F.lit("perplexity2").alias("variant"), "doc_id", "k", "v"
    )
    return _union(melted + [tfidf, ppl2])


_QUALITY_PARTS = [
    _Part(pipe.x12_quality_filter, pipe.X12_QUALITY_FILTER_SQL, "heuristic",
          ["n_kept", "tokens_kept", "mean_quality"]),
    _Part(pipe.x26_model_quality_filter, pipe.X26_MODEL_QUALITY_FILTER_SQL,
          "probe", ["probe_coef", "probe_intercept", "n_docs", "n_kept"]),
    _Part(pipe.x31_corpus_report, pipe.X31_CORPUS_REPORT_SQL, "report",
          ["n_docs", "n_tokens", "n_unique_docs", "n_pii_docs", "dup_doc_frac"]),
]


@register(
    "x12_quality_suite",
    oracle=" UNION ALL ".join(_melt_sql(p, key="lang") for p in _QUALITY_PARTS),
)
def x12_quality_suite(spark, sf_dir):
    """quality-filter suite in ONE gate row: the heuristic keep/drop
    filter (per-language survivor mass), the MODEL-based filter
    (heuristic distilled into a per-language linear probe by the
    distributed solver, keep = probe prediction >= cutoff), and the
    per-language corpus data card (doc/token counts, duplicate mass, PII
    incidence) — melted to (variant, lang, k, v)"""
    return _union([
        _melt_df(p, p.run(spark, sf_dir), "lang", "lang") for p in _QUALITY_PARTS
    ])


# x1 text-analysis suite: the x1 quality columns melt to (variant, id,
# k, v[, sv]); x11's md5 fingerprint is a STRING, so the suite carries
# a nullable string-value column sv alongside the double v — exact on
# both sides, no float formatting through strings.
_X1_COLS = ["n_tokens", "n_bpe_tokens", "stopword_ratio", "punct_ratio", "quality"]


def _x1_suite_sql() -> str:
    quality = " UNION ALL ".join(
        f"SELECT 'quality' AS variant, doc_id AS id, '{c}' AS k, "
        f"CAST({c} AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS sv "
        f"FROM ({pipe.X1_QUALITY_SCORES_SQL.strip()}) q_{c}"
        for c in _X1_COLS
    )
    fp = (
        "SELECT 'fingerprint' AS variant, doc_id AS id, 'fp' AS k, "
        "CAST(NULL AS DOUBLE) AS v, fp AS sv "
        f"FROM ({pipe.X11_FINGERPRINT_SQL.strip()}) t_fp"
    )
    hist = " UNION ALL ".join(
        f"SELECT 'histogram' AS variant, bucket AS id, '{c}' AS k, "
        f"CAST({c} AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS sv "
        f"FROM ({pipe.X13_TOKEN_HISTOGRAM_SQL.strip()}) h_{c}"
        for c in ("n_docs", "n_tokens")
    )
    rep = " UNION ALL ".join(
        f"SELECT 'repetition' AS variant, doc_id AS id, '{c}' AS k, "
        f"CAST({c} AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS sv "
        f"FROM ({pipe.X15_REPETITION_STATS_SQL.strip()}) r_{c}"
        for c in ("dup_token_frac", "dup_bigram_frac")
    )
    return " UNION ALL ".join([quality, fp, hist, rep])


@register("x1_text_quality", oracle=_x1_suite_sql())
def x1_text_quality(spark, sf_dir):
    """pipeline/text analysis suite in ONE gate row: token counts +
    stopword/punct ratios + composite quality (x1), md5 content
    fingerprint (x11, string value in sv), token-length histogram (x13,
    id=decade bucket), and Gopher-style repetition fractions (x15) —
    melted to (variant, id, k, v, sv)"""

    def melt_num(df, variant, key, cols):
        pairs = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
        return df.selectExpr(
            f"{key} AS id", f"stack({len(cols)}, {pairs}) AS (k, v)"
        ).select(
            F.lit(variant).alias("variant"), "id", "k", "v",
            F.lit(None).cast("string").alias("sv"),
        )

    quality = melt_num(
        pipe.x1_quality_scores(spark, sf_dir), "quality", "doc_id", _X1_COLS
    )
    fp = pipe.x11_fingerprint(spark, sf_dir).select(
        F.lit("fingerprint").alias("variant"),
        F.col("doc_id").alias("id"),
        F.lit("fp").alias("k"),
        F.lit(None).cast("double").alias("v"),
        F.col("fp").alias("sv"),
    )
    hist = melt_num(
        pipe.x13_token_histogram(spark, sf_dir),
        "histogram", "bucket", ["n_docs", "n_tokens"],
    )
    rep = melt_num(
        pipe.x15_repetition_stats(spark, sf_dir),
        "repetition", "doc_id", ["dup_token_frac", "dup_bigram_frac"],
    )
    return _union([quality, fp, hist, rep])
