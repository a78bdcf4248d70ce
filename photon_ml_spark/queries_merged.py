"""Suite queries: merged gate rows so every component family is
driver-verified.

The driver's correctness gate records the FIRST 50 entries of the
query registry (``all_queries()`` iteration order). Round 2 had 71
registrations, leaving 21 queries — including every streaming (e*) and
multimodal (xm*) component — outside the gate window, verified only by
the local oracle replica (tests/test_oracle.py).

This module folds near-duplicate registrations into suite queries that
exercise ALL constituents inside one oracle-compared result, shrinking
the registry to ≤ 50 gate slots for every family:

- ``a9_metric_suite``     = a9 × a9b × a10 × a10b × a11 × a11b × a12 × a13
                            (cross join of 1-row metric frames, columns
                            prefixed per constituent)
- ``m1_custom_solvers``   = m1b (LBFGSB box) × m1c (TRON) × m9b (prior)
- ``x6_neardup_pairs``    = x6 (MinHash+LSH) ∪ x7 (SimHash) ∪ x8
                            (embedding cosine), variant-tagged pair rows
- ``x9_ann_topk``         = x9 (brute) ∪ x9b (Arrow/BLAS) ∪ x10 (IVF),
                            variant-tagged top-k rows
- ``e1_event_windows``    = e1 (tumbling windows) ∪ e3 (session windows)
- ``xm1_multimodal_suite``= xm1 (image) ∪ xm2 (video frames) ∪ xm3
                            (audio), melted to (variant, doc_id, k, v)

Every constituent's run function keeps living (and is importable) in
its home module. Since round 4 the registry is EXACTLY the 50-name
gate window: the six variants that previously sat outside it (m2b
poisson stationarity, x5 signatures, e4 stream scoring, x11/x13/x15
text stats) are absorbed into their family suites (m2, x6, e1, x1)
at the bottom of this module — nothing is verified only locally
anymore (tests/test_registry.py pins this).

Round-4 block additions inside existing gate rows (no new slots):
x6 += minhash signatures (x5); e1 += stream scoring (e4); m2 +=
poisson stationarity (m2b); x1 = quality∪fingerprint∪histogram∪
repetition melt (x11/x13/x15); x21 += unigram-LM Viterbi segmentation
(enumeration oracle); x19 += tf-idf keywords + interpolated bigram
perplexity; s3 += hashing-trick indices; m11 += slice-sampled GP-EI;
a12 += Poisson log-likelihood/AIC; p4 = full validator suite.

Exactness: cross joins of 1-row frames and UNION ALL of already-
hash-matching constituents introduce no new float arithmetic; integer
casts to double are exact below 2^53.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Ensure every constituent registration exists before we capture it.
from photon_ml_spark import (  # noqa: F401
    queries_core,
    queries_ml,
    queries_pipeline,
    queries_streaming,
)
from photon_ml_spark.materialize import checkpoint, persist
from photon_ml_spark.queries import QUERY_REGISTRY, register
from photon_ml_spark.queries_pipeline import _TOKS_SQL

# name -> (prefix/variant tag, output columns) for each folded query
_FOLDED = {
    # 1-row metric scalars (cross-joined)
    "a9_metric_suite": ("a9", ["rmse", "mae", "logistic_loss", "n"]),
    "a9b_loss_kernels": ("a9b", ["poisson_loss", "smoothed_hinge_loss", "n"]),
    "a10_auroc": ("a10", ["auroc"]),
    "a10b_aupr": ("a10b", ["aupr"]),
    "a11_grouped_precision_at_k": ("a11", ["mean_precision_at_k", "n_groups"]),
    "a11b_grouped_auc": ("a11b", ["mean_group_auc", "n_groups"]),
    "a12_peak_f1_aic": (
        "a12",
        ["peak_f1", "loglik", "aic", "aicc", "p_loglik", "p_aic", "p_aicc"],
    ),
    "a13_eval_suite": (
        "a13",
        ["rmse", "mae", "logistic_loss", "squared_loss", "weight_sum", "n"],
    ),
    "a14_feature_quantiles": (
        "a14",
        [
            f"{c}_q{p}"
            for c in ("l_quantity", "l_extendedprice", "l_discount")
            for p in (25, 50, 75, 99)
        ],
    ),
    # 1-row custom-solver scalars (cross-joined)
    "m1b_box_fixed_effect": ("box", ["coef", "intercept", "optimizer"]),
    "m1c_tron_fixed_effect": ("tron", ["coef", "intercept", "optimizer", "converged"]),
    "m9b_fixed_effect_prior": ("prior", ["coef", "intercept", "optimizer"]),
    "j7_byjoin_scoring": ("byjoin", ["bcast_sum", "shuffle_sum", "n"]),
    # near-dup pair relations (unioned, stat column per variant)
    "x6_minhash_lsh_pairs": ("minhash_lsh", ["id_a", "id_b", "jaccard"]),
    "x7_simhash_neardup": ("simhash", ["id_a", "id_b", "hamming"]),
    "x8_embedding_neardup": ("embedding", ["id_a", "id_b", "cosine"]),
    # ANN top-k variants (unioned; identical schemas)
    "x9_ann_brute_topk": ("brute", ["query_id", "vec_id", "cosine", "rank"]),
    "x9b_ann_blas_topk": ("blas", ["query_id", "vec_id", "cosine", "rank"]),
    "x10_ann_ivf_topk": ("ivf", ["query_id", "vec_id", "cosine", "rank"]),
    "x10b_ann_ivf_index_topk": (
        "ivf_index",
        ["query_id", "vec_id", "cosine", "rank"],
    ),
    "x9c_ann_sq8_topk": ("sq8", ["query_id", "vec_id", "cosine", "rank"]),
    "x9d_ann_pq_topk": ("pq", ["query_id", "vec_id", "cosine", "rank"]),
    # event-time windows (unioned)
    "e1_event_window_agg": (
        "tumbling",
        ["window_start", "event_type", "n_events", "value_sum"],
    ),
    "e3_event_sessions": (
        "session",
        ["user_id", "session_start", "n_events", "value_sum"],
    ),
    # dup-cluster resolution over two modalities (unioned)
    "x17_dedup_clusters": ("text_lsh", ["doc_id", "cluster_id", "is_keep"]),
    "x20_semantic_dedup": ("embedding", ["vec_id", "cluster_id", "is_keep"]),
    # multimodal plans (melted + unioned)
    "xm1_multimodal_decode_resize": (
        "image",
        ["width", "height", "mean_luma", "out_w", "out_h", "pad_x", "pad_y"],
    ),
    "xm2_frame_sample_plan": ("video", ["n_frames", "last_ts"]),
    "xm3_audio_decode_resample": (
        "audio",
        ["sample_rate", "n_samples", "rms", "duration_us", "out_samples"],
    ),
    # round-3 folds: scalar kernels (melted on uid)
    "f5_link_functions": ("links", ["sigmoid", "exp_mean", "log1p_exp"]),
    "f6_vector_ops": ("vectors", ["dot_ab", "norm_a", "cosine_ab"]),
    # round-3 folds: stats (melted; a4 keyed by feature, a8 single-row)
    "a4_feature_stats": (
        "feature",
        ["cnt", "mean", "variance", "min", "max", "l1", "l2", "mean_abs", "nnz"],
    ),
    "a8_dataset_stats": (
        "dataset",
        ["n", "response_sum_100k", "response_mean", "response_stddev"],
    ),
    # round-3 folds: samplers (variant-tagged union, nullable slots)
    "p5_random_downsample": ("random", ["uid"]),
    "p6_stratified_downsample": ("stratified", ["label", "cnt", "weight_sum"]),
    # round-3 folds: temporal joins (variant-tagged union)
    "e6_asof_join": ("asof", ["event_id", "user_id", "ts", "asof_ts", "asof_snap_v"]),
    "e7_range_join": ("range", ["event_id", "anchor_id", "user_id"]),
    "e8_interval_join": (
        "interval",
        ["user_id", "l_event_id", "r_event_id", "l_ts", "r_ts"],
    ),
    # round-3 folds: curation scores (melted on doc_id)
    "x19_contamination": ("contamination", ["n_shared_ngrams", "n_eval_docs"]),
    "x23_unigram_perplexity": ("perplexity", ["n_tokens", "ppl"]),
    "x30_ngram_novelty": ("novelty", ["n_ngrams", "n_novel", "novelty"]),
    # round-3 folds: chunking / splitting / tokenizer (variant-tagged union)
    "x21_doc_chunking": ("chunk", ["chunk_id", "chunk_tokens", "chunk_text"]),
    "x22_leakage_safe_split": ("split", ["cluster_id", "split"]),
    "x29_bpe_tokenizer": ("bpe", ["kind", "idx", "tag", "n"]),
    # round-3 folds: exact dedup at doc and substring granularity
    "x3_bow_exact_dedup": ("doc", ["dup_key", "n_docs", "keep_id"]),
    "x24_substring_spans": (
        "substring",
        ["doc_id", "span_start", "span_end", "n_windows"],
    ),
    # round-3 folds: packing / export layout
    "x14_sequence_packing": ("pack", ["shard", "pack_id", "n_docs", "pack_tokens"]),
    "x25_global_shuffle": ("shuffle", ["uid", "shard", "ord"]),
    # round-3 folds: quality filtering, heuristic and model-based
    "x12_quality_filter": ("heuristic", ["n_kept", "tokens_kept", "mean_quality"]),
    "x31_corpus_report": (
        "report",
        ["n_docs", "n_tokens", "n_unique_docs", "n_pii_docs", "dup_doc_frac"],
    ),
    "x26_model_quality_filter": (
        "probe",
        ["probe_coef", "probe_intercept", "n_docs", "n_kept"],
    ),
    # round-3 folds: corpus mixing / selection (variant-tagged union)
    "x18_corpus_mix": ("mix", ["doc_id", "source", "rate"]),
    "x27_dsir_select": ("dsir", ["doc_id", "n_tokens", "gumbel_key", "rank"]),
    "x28_epoch_oversample": (
        "epochs",
        ["doc_id", "source", "copy_idx", "rate"],
    ),
    # round-4 folds: the six variants that sat outside the 50-row gate
    # window, each absorbed into its family suite
    "m2b_per_entity_poisson": (
        "poisson",
        ["entity", "g_x", "g_int", "n_samples"],
    ),
    "x5_minhash_signatures": (
        "signatures",
        ["doc_id"] + [f"mh{i}" for i in range(8)],
    ),
    "e4_stream_scoring": ("scoring", ["event_id", "score"]),
    "x11_fingerprint": ("fingerprint", ["doc_id", "fp"]),
    "x13_token_histogram": ("histogram", ["bucket", "n_docs", "n_tokens"]),
    "x15_repetition_stats": (
        "repetition",
        ["doc_id", "dup_token_frac", "dup_bigram_frac"],
    ),
    # round-5 folds: persisted-index incremental + streaming near-dedup
    # (already variant-tagged (variant, id_a, id_b, stat) — x6's shape)
    "x32_incremental_neardup": ("inc", ["variant", "id_a", "id_b", "stat"]),
    "x33_stream_neardup": ("stream", ["variant", "id_a", "id_b", "stat"]),
    # round-6 fold: video decode joins the multimodal suite
    "xm4_video_decode": (
        "video",
        ["width", "height", "fps", "n_frames", "duration_sec", "mean_luma"],
    ),
}

_SPEC = {name: QUERY_REGISTRY.pop(name) for name in _FOLDED}
# family anchors absorbed-and-re-registered by this module (their run
# functions are reused wholesale, so they live in _SPEC, not _FOLDED)
for _anchor in ("m2_per_entity_ridge", "x1_text_quality"):
    _SPEC[_anchor] = QUERY_REGISTRY.pop(_anchor)


def _stamp(stamps, name, df):
    """Per-constituent bench instrumentation (VERDICT r6 Missing #1:
    suite rows hid their blocks' costs, making regression-vs-box-
    variance attribution a forensic exercise). When ``stamps`` is a
    dict, the block is materialized via EAGER localCheckpoint under a
    wall-clock timer and ``stamps[name]`` records the seconds; the
    suite union then reads the checkpointed RDD blocks. Two r10
    lessons (VERDICT r9 Next #3 — m2's 'overhead' was 47% of its row):

    - a ``persist()`` here was silently defeated: DeduplicateRelations
      re-aliases each child's attributes inside the final union, the
      rewritten subtree no longer matches the cache entry, and the
      union write RECOMPUTED every block (m2: 2.9 s, attributed to
      overhead). localCheckpoint truncates lineage — a re-aliased
      LogicalRDD is still the materialized blocks.
    - ``df`` may be a zero-arg THUNK: construction then runs inside
      the timer, so driver-side plan building + any eager setup in the
      block's run() is attributed to the block, not to overhead
      (a9's nine constituent constructions were ~4 s of 'overhead').

    When ``stamps`` is None — every correctness/gate path — this is an
    identity: the suite stays one lazy plan."""
    if stamps is None:
        return df() if callable(df) else df
    import time as _time

    t0 = _time.perf_counter()
    if callable(df):
        df = df()
    # eager: materializes every partition; the bench row's scope owns
    # the blocks
    df = checkpoint(df, level=StorageLevel.MEMORY_AND_DISK_DESER)
    stamps[name] = round(_time.perf_counter() - t0, 3)
    return df


def _widen(spark, sf_dir, names, stamps=None):
    """Cross join 1-row frames, prefixing columns per constituent.

    Each frame coalesces to one partition first: a cartesian product
    multiplies partition counts (three 8-partition 1-row frames would
    schedule 512 tasks for a single output row)."""
    out = None
    for name in names:
        prefix, cols = _FOLDED[name]
        # thunk: plan construction is part of the block's stamp
        df = _stamp(
            stamps,
            prefix,
            lambda n=name, p=prefix, cs=cols: _SPEC[n]
            .run(spark, sf_dir)
            .select([F.col(c).alias(f"{p}_{c}") for c in cs])
            .coalesce(1),
        )
        # broadcast the 1-row frame: compiles the cross join to
        # BroadcastNestedLoopJoin on a single-row side instead of a
        # CartesianProduct operator (the plan-sweep audit's contract)
        out = df if out is None else out.crossJoin(F.broadcast(df))
    return out


def _widen_sql(names) -> str:
    sel = ", ".join(
        f"t{i}.{c} AS {_FOLDED[n][0]}_{c}"
        for i, n in enumerate(names)
        for c in _FOLDED[n][1]
    )
    frm = " CROSS JOIN ".join(
        f"({_SPEC[n].oracle.strip()}) t{i}" for i, n in enumerate(names)
    )
    return f"SELECT {sel} FROM {frm}"


_METRIC_PARTS = [
    "a9_metric_suite",
    "a9b_loss_kernels",
    "a10_auroc",
    "a10b_aupr",
    "a11_grouped_precision_at_k",
    "a11b_grouped_auc",
    "a12_peak_f1_aic",
    "a13_eval_suite",
    "a14_feature_quantiles",
]


@register(
    "a9_metric_suite",
    oracle=_widen_sql(_METRIC_PARTS),
    note="A9/A10/A11/A12/A13/T5 metric-evaluator suite in ONE gate row: "
    "RMSE/MAE/logloss, Poisson+smoothed-hinge kernels, weighted AUROC, "
    "AUPR, grouped precision@5, grouped AUC, peak-F1/AIC, one-pass "
    "EvaluationSuite — cross join of the eight 1-row constituent "
    "queries (each still importable standalone); constituent notes in "
    "queries_core.py",
)
def a9_metric_suite(spark, sf_dir, stamps=None):
    return _widen(spark, sf_dir, _METRIC_PARTS, stamps=stamps)


_SOLVER_PARTS = [
    "m1b_box_fixed_effect",
    "m1c_tron_fixed_effect",
    "m9b_fixed_effect_prior",
    "j7_byjoin_scoring",
]


@register(
    "m1_custom_solvers",
    oracle=_widen_sql(_SOLVER_PARTS),
    note="M1/M4/M9/A2/J7 custom distributed solvers + wide-model scoring "
    "in ONE gate row: LBFGSB box-constrained fit, TRON trust-region "
    "Newton (offset + CG Hessian-vector rounds), Gaussian-prior "
    "fixed-effect fit, and score_by_join through both its broadcast "
    "(J7) and shuffle physical strategies — cross join of the four "
    "1-row constituent queries; constituent notes in queries_ml.py",
)
def m1_custom_solvers(spark, sf_dir, stamps=None):
    return _widen(spark, sf_dir, _SOLVER_PARTS, stamps=stamps)


_X5_MELT_SQL = " UNION ALL ".join(
    f"SELECT 'signatures' AS variant, doc_id AS id_a, "
    f"CAST({i} AS BIGINT) AS id_b, CAST(mh{i} AS DOUBLE) AS stat "
    f"FROM ({_SPEC['x5_minhash_signatures'].oracle.strip()}) x5_{i}"
    for i in range(8)
)


@register(
    "x6_neardup_pairs",
    oracle=f"""
SELECT 'minhash_lsh' AS variant, id_a, id_b, jaccard AS stat
FROM ({_SPEC["x6_minhash_lsh_pairs"].oracle.strip()}) t0
UNION ALL
SELECT 'simhash' AS variant, id_a, id_b, CAST(hamming AS DOUBLE) AS stat
FROM ({_SPEC["x7_simhash_neardup"].oracle.strip()}) t1
UNION ALL
SELECT 'embedding' AS variant, id_a, id_b, cosine AS stat
FROM ({_SPEC["x8_embedding_neardup"].oracle.strip()}) t2
UNION ALL
{_X5_MELT_SQL}
UNION ALL
SELECT variant, id_a, id_b, stat
FROM ({_SPEC["x32_incremental_neardup"].oracle.strip()}) t32
UNION ALL
SELECT variant, id_a, id_b, stat
FROM ({_SPEC["x33_stream_neardup"].oracle.strip()}) t33
""",
    note="pipeline/dedup near-dup pair suite in ONE gate row: MinHash+LSH "
    "(stat=verified jaccard), SimHash bands (stat=hamming), embedding "
    "cosine blocks (stat=cosine), the portable minhash SIGNATURE "
    "rows themselves (x5, melted to id_a=doc, id_b=hash index, "
    "stat=minhash value — exact integers), plus the round-5 "
    "PERSISTED-INDEX flows: incremental near-dedup against an on-disk "
    "minhash index (inc_pairs/inc_survivors) and the 2-micro-batch "
    "streaming replay with staged batch=<id> publishes (stream, "
    "id_b=publish batch) — variant-tagged union; constituent notes in "
    "queries_pipeline.py",
)
def x6_neardup_pairs(spark, sf_dir, stamps=None):
    from photon_ml_spark.operators.dedup import (
        minhash_lsh_dedup,
        simhash_neardup_pairs,
        token_ids,
    )

    from photon_ml_spark.sources.datasets import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    # one cached shingle-id relation feeds both the minhash and simhash
    # constituents (both shingle at n=2) — the vocabulary sort runs
    # once; serialized, it is one row per (doc, token) — corpus-scale
    if stamps is None:
        sids = persist(token_ids(docs, n=2))
    else:
        # build AND materialize the SHARED relation under its own
        # stamp so its cost is attributed once, not smeared into the
        # first block — the CALL must sit inside the timer too:
        # token_ids' zip_with_index localCheckpoints eagerly, so the
        # vocabulary sort runs at call time (it was landing in the
        # row's `overhead`, not here)
        import time as _time

        t0 = _time.perf_counter()
        sids = persist(token_ids(docs, n=2))
        sids.count()
        stamps["token_ids_shared"] = round(_time.perf_counter() - t0, 3)
    lsh = minhash_lsh_dedup(docs, threshold=0.5, n=2, doc_sids=sids).select(
        F.lit("minhash_lsh").alias("variant"),
        "id_a", "id_b", F.col("jaccard").alias("stat"),
    )
    lsh = _stamp(stamps, "minhash_lsh", lsh)
    # pinned to the SQL-replayable LCG oracle shape (the function
    # DEFAULT is the wide xxhash scale form; see x7 in queries_pipeline)
    from photon_ml_spark.operators.dedup import SIMHASH_ORACLE_BITS

    sim = simhash_neardup_pairs(
        docs, max_hamming=3, n=2, doc_sids=sids,
        bits=SIMHASH_ORACLE_BITS, bit_hash="lcg",
    ).select(
        F.lit("simhash").alias("variant"),
        "id_a", "id_b", F.col("hamming").cast("double").alias("stat"),
    )
    sim = _stamp(stamps, "simhash", sim)
    emb = (
        _SPEC["x8_embedding_neardup"].run(spark, sf_dir)
        .select(
            F.lit("embedding").alias("variant"),
            "id_a", "id_b", F.col("cosine").alias("stat"),
        )
    )
    emb = _stamp(stamps, "embedding", emb)
    # the signatures block (x5) shares the suite's cached shingle-id
    # relation — same dense full-corpus vocabulary as its oracle, one
    # vocabulary sort for all three shingle-based constituents
    from photon_ml_spark.operators.dedup import minhash_signatures

    sig_pairs = ", ".join(
        f"CAST({i} AS BIGINT), CAST(mh{i} AS DOUBLE)" for i in range(8)
    )
    sigs = (
        minhash_signatures(
            sids.filter(F.col("doc_id") % 10 == 0), num_hashes=8
        )
        .selectExpr("doc_id", f"stack(8, {sig_pairs}) AS (id_b, stat)")
        .select(
            F.lit("signatures").alias("variant"),
            F.col("doc_id").alias("id_a"), "id_b", "stat",
        )
    )
    sigs = _stamp(stamps, "signatures", sigs)
    # round-5 blocks: the persisted-index flows reuse the suite's cached
    # full-corpus shingle-id relation (their sid_fn semi-joins it per
    # batch), so the vocabulary sort still runs exactly once
    # x32/x33 build their persisted on-disk indexes EAGERLY inside
    # run() (that IS the flow under test — real index IO), so each
    # gets a _build stamp for that phase plus the block stamp for the
    # returned pair relation; without the _build stamps ~80% of the
    # suite's wall time would be invisible in the constituents map.
    def _timed_run(key, name):
        if stamps is None:
            return _SPEC[name].run(spark, sf_dir, doc_sids=sids)
        import time as _time

        t0 = _time.perf_counter()
        df = _SPEC[name].run(spark, sf_dir, doc_sids=sids)
        stamps[key] = round(_time.perf_counter() - t0, 3)
        return df

    inc = _stamp(
        stamps, "incremental",
        _timed_run("incremental_build", "x32_incremental_neardup"),
    )
    # streaming_build itemized (VERDICT r9 Next #4): x33 reports per-
    # batch phase stamps around its real actions (fingerprint agg,
    # survivors publish — which carries the LSH compute — and the two
    # index-append writes); the residual streaming_build covers the
    # glue between actions. Everything still sums exactly.
    if stamps is None:
        stream_df = _SPEC["x33_stream_neardup"].run(
            spark, sf_dir, doc_sids=sids
        )
    else:
        import time as _time

        ps: dict = {}
        t0 = _time.perf_counter()
        stream_df = _SPEC["x33_stream_neardup"].run(
            spark, sf_dir, doc_sids=sids, phase_stamps=ps
        )
        elapsed = _time.perf_counter() - t0
        for k, v in ps.items():
            stamps[f"streaming_{k}"] = v
        stamps["streaming_build"] = max(
            round(elapsed - sum(ps.values()), 3), 0.0
        )
    stream = _stamp(stamps, "streaming", stream_df)
    return (
        lsh.unionByName(sim).unionByName(emb).unionByName(sigs)
        .unionByName(inc).unionByName(stream)
    )


_ANN_PARTS = [
    "x9_ann_brute_topk",
    "x9b_ann_blas_topk",
    "x10_ann_ivf_topk",
    "x10b_ann_ivf_index_topk",
    "x9c_ann_sq8_topk",
    "x9d_ann_pq_topk",
]


@register(
    "x9_ann_topk",
    oracle=" UNION ALL ".join(
        f"SELECT '{_FOLDED[n][0]}' AS variant, query_id, vec_id, cosine, rank "
        f"FROM ({_SPEC[n].oracle.strip()}) t{i}"
        for i, n in enumerate(_ANN_PARTS)
    ),
    note="pipeline/similarity ANN suite in ONE gate row: exact brute-force "
    "cosine top-5, the Arrow/BLAS batch-matmul physical variant (same "
    "oracle rows — value-equal by construction), IVF cell-bucketed "
    "top-5, (round 5) the PERSISTED-IVF index path — KMeans "
    "quantizer + cell-partitioned corpus saved to disk, full-probe "
    "query == brute force so the brute oracle pins it exactly — and "
    "(round 9) SQ8 scalar-quantized top-5 over 1-byte codes, oracle-"
    "exact via the integer reconstruction (x9c note) — variant-tagged "
    "union; constituent notes in queries_pipeline.py",
)
def x9_ann_topk(spark, sf_dir, stamps=None):
    parts = []
    for n in _ANN_PARTS:
        prefix = _FOLDED[n][0]
        if stamps is None:
            df = _SPEC[n].run(spark, sf_dir)
            build = 0.0
        else:
            # some parts do EAGER work inside run() — x10b's KMeans
            # fit + partitioned index write, sq8's min/max training
            # pass — which otherwise lands in the row's `overhead`
            # line; fold it into the part's own stamp (x6/x21 set the
            # pattern with their explicit _build stamps)
            import time as _time

            t0 = _time.perf_counter()
            df = _SPEC[n].run(spark, sf_dir)
            build = _time.perf_counter() - t0
        df = _stamp(
            stamps,
            prefix,
            df.select(
                F.lit(prefix).alias("variant"),
                "query_id", "vec_id", "cosine", "rank",
            ),
        )
        if stamps is not None:
            stamps[prefix] = round(stamps[prefix] + build, 3)
        parts.append(df)
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "e1_event_windows",
    oracle=f"""
SELECT 'tumbling' AS variant, event_type AS key, window_start AS ts,
       n_events, value_sum
FROM ({_SPEC["e1_event_window_agg"].oracle.strip()}) t0
UNION ALL
SELECT 'session' AS variant, CAST(user_id AS VARCHAR) AS key,
       session_start AS ts, n_events, value_sum
FROM ({_SPEC["e3_event_sessions"].oracle.strip()}) t1
UNION ALL
SELECT 'scoring' AS variant, CAST(event_id AS VARCHAR) AS key,
       CAST(NULL AS VARCHAR) AS ts, CAST(NULL AS BIGINT) AS n_events,
       score AS value_sum
FROM ({_SPEC["e4_stream_scoring"].oracle.strip()}) t2
""",
    note="streaming event suite in ONE gate row: tumbling 15-min windows "
    "(key=event_type), 5-min-gap session windows (key=user_id), and "
    "stateless literal-model stream scoring (e4, key=event_id, "
    "value_sum=score) — variant-tagged union of the batch sides of the "
    "dual-use operators; constituent notes in queries_streaming.py",
)
def e1_event_windows(spark, sf_dir):
    tumb = (
        _SPEC["e1_event_window_agg"].run(spark, sf_dir)
        .select(
            F.lit("tumbling").alias("variant"),
            F.col("event_type").alias("key"),
            F.col("window_start").alias("ts"),
            "n_events", "value_sum",
        )
    )
    sess = (
        _SPEC["e3_event_sessions"].run(spark, sf_dir)
        .select(
            F.lit("session").alias("variant"),
            F.col("user_id").cast("string").alias("key"),
            F.col("session_start").alias("ts"),
            "n_events", "value_sum",
        )
    )
    scoring = (
        _SPEC["e4_stream_scoring"].run(spark, sf_dir)
        .select(
            F.lit("scoring").alias("variant"),
            F.col("event_id").cast("string").alias("key"),
            F.lit(None).cast("string").alias("ts"),
            F.lit(None).cast("long").alias("n_events"),
            F.col("score").alias("value_sum"),
        )
    )
    return tumb.unionByName(sess).unionByName(scoring)


@register(
    "x17_cluster_suite",
    oracle=f"""
SELECT 'text_lsh' AS variant, doc_id AS id, cluster_id, is_keep
FROM ({_SPEC["x17_dedup_clusters"].oracle.strip()}) t0
UNION ALL
SELECT 'embedding' AS variant, vec_id AS id, cluster_id, is_keep
FROM ({_SPEC["x20_semantic_dedup"].oracle.strip()}) t1
""",
    note="dup-cluster resolution suite in ONE gate row: LSH text "
    "near-dup clusters (connected components + canonical keeper over "
    "documents) and SemDedup embedding clusters (same components over "
    "hyperplane-cell cosine pairs) — variant-tagged union; constituent "
    "notes in queries_pipeline.py",
)
def x17_cluster_suite(spark, sf_dir):
    text = (
        _SPEC["x17_dedup_clusters"].run(spark, sf_dir)
        .select(
            F.lit("text_lsh").alias("variant"),
            F.col("doc_id").alias("id"), "cluster_id", "is_keep",
        )
    )
    emb = (
        _SPEC["x20_semantic_dedup"].run(spark, sf_dir)
        .select(
            F.lit("embedding").alias("variant"),
            F.col("vec_id").alias("id"), "cluster_id", "is_keep",
        )
    )
    return text.unionByName(emb)


_XM_PARTS = [
    "xm1_multimodal_decode_resize",
    "xm2_frame_sample_plan",
    "xm3_audio_decode_resample",
    "xm4_video_decode",
]


def _melt_sql(name, key="doc_id") -> str:
    variant, cols = _FOLDED[name]
    sql = _SPEC[name].oracle.strip()
    return " UNION ALL ".join(
        f"SELECT '{variant}' AS variant, {key}, '{c}' AS k, "
        f'CAST("{c}" AS DOUBLE) AS v FROM ({sql}) m_{variant}_{c}'
        for c in cols
    )


@register(
    "xm1_multimodal_suite",
    oracle=" UNION ALL ".join(_melt_sql(n) for n in _XM_PARTS),
    note="pipeline/multimodal suite in ONE gate row: image decode+letterbox "
    "resize plan, video frame-sampling plan, audio decode+resample plan "
    "— each constituent's numeric outputs melted to (variant, doc_id, "
    "k, v) and unioned; constituent notes in queries_pipeline.py "
    "(decode stages are the capability-gated Arrow mapInPandas paths, "
    "deterministic-fake mode for the oracle)",
)
def xm1_multimodal_suite(spark, sf_dir, stamps=None):
    parts = []
    for name in _XM_PARTS:
        variant, cols = _FOLDED[name]
        df = _SPEC[name].run(spark, sf_dir)
        pairs = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in cols)
        melted = (
            df.selectExpr("doc_id", f"stack({len(cols)}, {pairs}) AS (k, v)")
            .select(F.lit(variant).alias("variant"), "doc_id", "k", "v")
        )
        parts.append(_stamp(stamps, variant, melted))
    return reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------- round-3 suites
# Round 3 added four new component families (temporal joins, curation
# scoring, chunk/split) on top of a registry already at the 50-row gate
# limit. The three suites below gate them; the three after fold existing
# near-neighbour gate rows (link∪vector kernels, random∪stratified
# samplers, feature∪dataset stats) to free the slots.


def _melt_df(df, variant, cols, key_col, key_out):
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
    return df.selectExpr(
        f"{key_col} AS {key_out}", f"stack({len(cols)}, {pairs}) AS (k, v)"
    ).select(F.lit(variant).alias("variant"), key_out, "k", "v")


@register(
    "f5_scalar_kernels",
    oracle=f"{_melt_sql('f5_link_functions', key='uid')} UNION ALL "
    f"{_melt_sql('f6_vector_ops', key='uid')}",
    note="F5/F6 scalar-kernel suite in ONE gate row: logistic/exp/"
    "log1p-exp link kernels and dot/L2-norm/cosine vector kernels, "
    "each constituent's columns melted to (variant, uid, k, v) — pure "
    "Catalyst expressions both; constituent notes in queries_core.py",
)
def f5_scalar_kernels(spark, sf_dir):
    links = _melt_df(
        _SPEC["f5_link_functions"].run(spark, sf_dir),
        "links", _FOLDED["f5_link_functions"][1], "uid", "uid",
    )
    vecs = _melt_df(
        _SPEC["f6_vector_ops"].run(spark, sf_dir),
        "vectors", _FOLDED["f6_vector_ops"][1], "uid", "uid",
    )
    return links.unionByName(vecs)


_A8_KEY = "'dataset' AS feature"


@register(
    "a4_stats_suite",
    oracle=f"{_melt_sql('a4_feature_stats', key='feature')} UNION ALL "
    f"{_melt_sql('a8_dataset_stats', key=_A8_KEY)}",
    note="A4/A8/F8/S10 statistics suite in ONE gate row: per-feature "
    "count/mean/var/min/max/L1/L2/meanAbs/nnz summary and the dataset "
    "response summary, melted to (variant, feature, k, v) — integer-"
    "exact sums on both sides; constituent notes in queries_core.py",
)
def a4_stats_suite(spark, sf_dir):
    feat = _melt_df(
        _SPEC["a4_feature_stats"].run(spark, sf_dir),
        "feature", _FOLDED["a4_feature_stats"][1], "feature", "feature",
    )
    ds = _melt_df(
        _SPEC["a8_dataset_stats"].run(spark, sf_dir),
        "dataset", _FOLDED["a8_dataset_stats"][1], "'dataset'", "feature",
    )
    return feat.unionByName(ds)


@register(
    "p5_downsample_suite",
    oracle=f"""
SELECT 'random' AS variant, uid, CAST(NULL AS DOUBLE) AS label,
       CAST(NULL AS BIGINT) AS cnt, CAST(NULL AS DOUBLE) AS weight_sum
FROM ({_SPEC["p5_random_downsample"].oracle.strip()}) t0
UNION ALL
SELECT 'stratified' AS variant, CAST(NULL AS BIGINT) AS uid, label,
       cnt, weight_sum
FROM ({_SPEC["p6_stratified_downsample"].oracle.strip()}) t1
""",
    note="P5/P6 down-sampler suite in ONE gate row: the exact seeded "
    "uniform row set (portable Park-Miller gate) and the stratified "
    "keep-positives/gate-negatives class summary — variant-tagged "
    "union; constituent notes in queries_core.py",
)
def p5_downsample_suite(spark, sf_dir):
    rand = _SPEC["p5_random_downsample"].run(spark, sf_dir).select(
        F.lit("random").alias("variant"),
        "uid",
        F.lit(None).cast("double").alias("label"),
        F.lit(None).cast("long").alias("cnt"),
        F.lit(None).cast("double").alias("weight_sum"),
    )
    strat = _SPEC["p6_stratified_downsample"].run(spark, sf_dir).select(
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
FROM ({_SPEC["e6_asof_join"].oracle.strip()}) t0
UNION ALL
SELECT 'range' AS variant, event_id AS l_id, anchor_id AS r_id, user_id,
       CAST(NULL AS VARCHAR) AS l_ts, CAST(NULL AS VARCHAR) AS r_ts,
       CAST(NULL AS BIGINT) AS payload
FROM ({_SPEC["e7_range_join"].oracle.strip()}) t1
UNION ALL
SELECT 'interval' AS variant, l_event_id AS l_id, r_event_id AS r_id,
       user_id, l_ts, r_ts, CAST(NULL AS BIGINT) AS payload
FROM ({_SPEC["e8_interval_join"].oracle.strip()}) t2
""",
    note="temporal-join suite in ONE gate row: as-of join (merge-join "
    "shape — one shuffle + one ordered window, no join operator), "
    "bucketed range join (interval decomposition to an equi-join), and "
    "the batch side of the watermarked stream-stream interval join — "
    "variant-tagged union; constituent notes in queries_streaming.py",
)
def e6_temporal_joins(spark, sf_dir):
    asof = _SPEC["e6_asof_join"].run(spark, sf_dir).select(
        F.lit("asof").alias("variant"),
        F.col("event_id").alias("l_id"),
        F.lit(None).cast("long").alias("r_id"),
        "user_id",
        F.col("ts").alias("l_ts"),
        F.col("asof_ts").alias("r_ts"),
        F.col("asof_snap_v").alias("payload"),
    )
    rng = _SPEC["e7_range_join"].run(spark, sf_dir).select(
        F.lit("range").alias("variant"),
        F.col("event_id").alias("l_id"),
        F.col("anchor_id").alias("r_id"),
        "user_id",
        F.lit(None).cast("string").alias("l_ts"),
        F.lit(None).cast("string").alias("r_ts"),
        F.lit(None).cast("long").alias("payload"),
    )
    iv = _SPEC["e8_interval_join"].run(spark, sf_dir).select(
        F.lit("interval").alias("variant"),
        F.col("l_event_id").alias("l_id"),
        F.col("r_event_id").alias("r_id"),
        "user_id", "l_ts", "r_ts",
        F.lit(None).cast("long").alias("payload"),
    )
    return asof.unionByName(rng).unionByName(iv)


@register(
    "x19_curation_scores",
    oracle=f"{_melt_sql('x19_contamination')} UNION ALL "
    f"{_melt_sql('x23_unigram_perplexity')} UNION ALL "
    f"{_melt_sql('x30_ngram_novelty')} UNION ALL "
    f"""
SELECT 'tfidf' AS variant, doc_id, term AS k, v FROM (
  WITH tk AS (
    SELECT doc_id, unnest({{toks}}) AS term
    FROM documents WHERE doc_id % 3 = 0
  ),
  tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
  dfq AS (SELECT term, COUNT(*) AS dfn FROM tf GROUP BY 1),
  nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tk),
  sc AS (
    SELECT doc_id, tf.term,
           ROUND(tf * LN(CAST(n_docs AS DOUBLE) / dfn), 6) AS v
    FROM tf JOIN dfq ON tf.term = dfq.term, nd
  ),
  rk AS (
    SELECT doc_id, term, v,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY v DESC, term ASC
           ) AS rn
    FROM sc
  )
  SELECT doc_id, term, v FROM rk WHERE rn <= 3
) tfidf_block
UNION ALL
SELECT 'perplexity2' AS variant, doc_id, k, v FROM (
  WITH dt AS (
    SELECT doc_id, {{toks}} AS toks FROM documents
  ),
  tr AS (
    SELECT doc_id, toks[i] AS u, toks[i + 1] AS w
    FROM dt, unnest(range(1, len(toks))) r(i)
    WHERE len(toks) >= 2
  ),
  bi AS (SELECT u, w, COUNT(*) AS bi_cnt FROM tr GROUP BY 1, 2),
  ctx AS (SELECT u, SUM(bi_cnt) AS ctx_cnt FROM bi GROUP BY 1),
  uni AS (
    SELECT w, COUNT(*) AS uni_cnt
    FROM (SELECT unnest({{toks}}) AS w FROM documents) GROUP BY 1
  ),
  tots AS (SELECT SUM(uni_cnt) AS total, COUNT(*) AS vocab FROM uni),
  sc AS (
    SELECT tr.doc_id,
           LN(0.7 * (CAST(bi.bi_cnt AS DOUBLE) / CAST(ctx.ctx_cnt AS DOUBLE))
              + 0.30000000000000004
                * (CAST(uni.uni_cnt + 1 AS DOUBLE)
                   / CAST(tots.total + tots.vocab AS DOUBLE))) AS lp
    FROM tr
    JOIN bi ON tr.u = bi.u AND tr.w = bi.w
    JOIN ctx ON tr.u = ctx.u
    JOIN uni ON tr.w = uni.w
    CROSS JOIN tots
  ),
  agg AS (
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(EXP(-SUM(lp) / COUNT(*)), 6) AS ppl2
    FROM sc GROUP BY doc_id
  )
  SELECT doc_id, 'n_bigrams' AS k, CAST(n_bigrams AS DOUBLE) AS v FROM agg
  UNION ALL
  SELECT doc_id, 'ppl2' AS k, ppl2 AS v FROM agg
) ppl2_block
""".replace("{toks}", _TOKS_SQL),
    note="curation-scoring suite in ONE gate row: benchmark-contamination "
    "detection (train/eval trigram collisions, shingle equi-join), "
    "CCNet-style add-one unigram-LM perplexity, INTERPOLATED bigram-LM "
    "perplexity (Jelinek-Mercer λ=0.7 toward the KenLM-class filters; "
    "two count aggregates + transition joins), per-doc trigram "
    "novelty (document-frequency join), and tf-idf keyword extraction "
    "(top-3 characteristic terms/doc: doc-term counts, term-keyed df "
    "join, broadcast 1-row corpus size, per-doc rank window with "
    "rounded-score + lexicographic tie-break) — melted to (variant, "
    "doc_id, k, v); constituent notes in queries_pipeline.py / "
    "operators/text.py",
)
def x19_curation_scores(spark, sf_dir):
    cont = _melt_df(
        _SPEC["x19_contamination"].run(spark, sf_dir),
        "contamination", _FOLDED["x19_contamination"][1], "doc_id", "doc_id",
    )
    ppl = _melt_df(
        _SPEC["x23_unigram_perplexity"].run(spark, sf_dir),
        "perplexity", _FOLDED["x23_unigram_perplexity"][1], "doc_id", "doc_id",
    )
    nov = _melt_df(
        _SPEC["x30_ngram_novelty"].run(spark, sf_dir),
        "novelty", _FOLDED["x30_ngram_novelty"][1], "doc_id", "doc_id",
    )
    from photon_ml_spark.operators.text import (
        bigram_perplexity,
        tfidf_top_terms,
    )

    from photon_ml_spark.sources.datasets import spread_scan

    all_docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    tfidf = tfidf_top_terms(
        all_docs.filter(F.col("doc_id") % 3 == 0), k=3
    ).select(
        F.lit("tfidf").alias("variant"),
        "doc_id",
        F.col("term").alias("k"),
        F.col("tfidf").alias("v"),
    )
    p2 = bigram_perplexity(all_docs, lam=0.7)
    ppl2 = _melt_df(
        p2.select("doc_id", "n_bigrams", F.round("ppl", 6).alias("ppl2")),
        "perplexity2", ["n_bigrams", "ppl2"], "doc_id", "doc_id",
    )
    return (
        cont.unionByName(ppl)
        .unionByName(nov)
        .unionByName(tfidf)
        .unionByName(ppl2)
    )


# Unigram-LM tokenizer gate block (folded into x21): Viterbi-segment
# the corpus's distinct words under a FIXED integer-scored vocabulary.
# Integer scores make segmentation totals exact across engines, and
# the (score DESC, segmentation ASC) tie-break is replayed by the
# oracle via brute-force enumeration of all 2^(L-1) split masks per
# word — an EXACT oracle for a dynamic program SQL cannot express
# directly (words capped at 12 chars keep the enumeration at ≤2048
# masks/word).
UNIGRAM_GATE_VOCAB = {
    **{c: -30 for c in "abcdefghijklmnopqrstuvwxyz"},
    "th": -9, "he": -11, "in": -10, "er": -12, "an": -13, "re": -14,
    "on": -15, "at": -16, "en": -17, "es": -18, "st": -19, "ar": -20,
    "te": -21, "ed": -22, "or": -23, "ti": -24, "al": -25, "nd": -26,
    "the": -8, "ing": -7, "ion": -12, "ent": -13, "ati": -14, "for": -15,
}


def _unigram_gate_sql() -> str:
    from photon_ml_spark.queries_pipeline import _TOKS_SQL

    case = " ".join(
        f"WHEN '{p}' THEN {s}" for p, s in sorted(UNIGRAM_GATE_VOCAB.items())
    )
    return f"""
WITH uw AS (
  SELECT DISTINCT w AS word FROM (
    SELECT unnest({_TOKS_SQL}) AS w FROM documents WHERE doc_id % 9 = 0
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 12
),
um AS (
  -- range() rejects lateral column args: enumerate to the 12-char max
  -- (2^11 masks) and filter per word
  SELECT word, r.range AS mask
  FROM uw, range(0, 2048) r
  WHERE r.range < (1 << (length(word) - 1))
),
uc AS (
  SELECT word,
         [0] || list_filter(range(1, length(word)),
                            i -> (mask >> (i - 1)) & 1 = 1)
             || [length(word)] AS cuts
  FROM um
),
up AS (
  SELECT word,
         list_transform(range(1, len(cuts)),
                        k -> substr(word, cuts[k] + 1, cuts[k+1] - cuts[k]))
           AS pieces
  FROM uc
),
us AS (
  SELECT word, pieces,
         list_transform(pieces, p -> CASE p {case} ELSE NULL END) AS psc
  FROM up
),
uv AS (
  SELECT word, array_to_string(pieces, ' ') AS seg,
         CAST(list_sum(psc) AS BIGINT) AS score,
         CAST(len(pieces) AS BIGINT) AS n_pieces,
         ROW_NUMBER() OVER (
           PARTITION BY word
           ORDER BY list_sum(psc) DESC, array_to_string(pieces, ' ') ASC
         ) AS rn
  FROM us
  WHERE len(list_filter(psc, x -> x IS NULL)) = 0
)
SELECT word, seg, score, n_pieces FROM uv WHERE rn = 1
"""


def _unigram_gate_run(spark, sf_dir):
    from photon_ml_spark.operators.text import tokens, unigram_encode_words

    from photon_ml_spark.sources.datasets import spread_scan

    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet")).filter(
        F.col("doc_id") % 9 == 0
    )
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(
            F.col("word").rlike("^[a-z]+$")
            & F.length("word").between(2, 12)
        )
        .distinct()
    )
    seg = unigram_encode_words(words, UNIGRAM_GATE_VOCAB)
    return seg.select(
        "word",
        F.array_join("syms", " ").alias("seg"),
        F.col("seg_score").cast("long").alias("score"),
        F.size("syms").cast("long").alias("n_pieces"),
    )



@register(
    "x21_chunk_split",
    oracle=f"""
SELECT 'chunk' AS variant, doc_id, CAST(chunk_id AS BIGINT) AS idx,
       CAST(chunk_tokens AS BIGINT) AS n_tok, chunk_text AS tag
FROM ({_SPEC["x21_doc_chunking"].oracle.strip()}) t0
UNION ALL
SELECT 'split' AS variant, doc_id, cluster_id AS idx,
       CAST(NULL AS BIGINT) AS n_tok, split AS tag
FROM ({_SPEC["x22_leakage_safe_split"].oracle.strip()}) t1
UNION ALL
SELECT 'bpe_' || kind AS variant, CAST(NULL AS BIGINT) AS doc_id,
       idx, n AS n_tok, tag
FROM ({_SPEC["x29_bpe_tokenizer"].oracle.strip()}) t2
UNION ALL
SELECT 'unigram' AS variant, CAST(NULL AS BIGINT) AS doc_id,
       score AS idx, n_pieces AS n_tok, word || '=' || seg AS tag
FROM ({_unigram_gate_sql().strip()}) t3
""",
    note="context-preparation suite in ONE gate row: token-window "
    "document chunking (pure-expression flatMap, zero shuffle), the "
    "leakage-safe train/test split keyed by LSH near-dup cluster, "
    "distributed BPE tokenizer training + per-language encode stats, "
    "and unigram-LM (sentencepiece-style) Viterbi segmentation of the "
    "corpus's distinct words under a fixed integer-scored vocabulary — "
    "the oracle replays the DP EXACTLY by enumerating all 2^(L-1) "
    "split masks per word with the same (score DESC, seg ASC) "
    "tie-break — variant-tagged union; constituent notes in "
    "queries_pipeline.py / operators/text.py",
)
def x21_chunk_split(spark, sf_dir, stamps=None):
    # the BPE/unigram constituents TRAIN their tokenizers eagerly
    # inside run() (driver-side bounded merge/EM over a distributed
    # word-frequency pass) — stamp those build phases like x6's index
    # builds, or ~90% of the row's wall time is unattributed
    def _timed_run(key, name):
        if stamps is None:
            return _SPEC[name].run(spark, sf_dir)
        import time as _time

        t0 = _time.perf_counter()
        df = _SPEC[name].run(spark, sf_dir)
        stamps[key] = round(_time.perf_counter() - t0, 3)
        return df

    chunk = _timed_run("chunk_build", "x21_doc_chunking").select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("idx"),
        F.col("chunk_tokens").cast("long").alias("n_tok"),
        F.col("chunk_text").alias("tag"),
    )
    # split_build itemized: x22 reports pairs (LSH detection) and
    # cluster (eager connected-components resolution) phase stamps;
    # the residual split_build covers tokenize/plan glue
    if stamps is None:
        split_src = _SPEC["x22_leakage_safe_split"].run(spark, sf_dir)
    else:
        import time as _time

        ps: dict = {}
        t0 = _time.perf_counter()
        split_src = _SPEC["x22_leakage_safe_split"].run(
            spark, sf_dir, phase_stamps=ps
        )
        elapsed = _time.perf_counter() - t0
        for k, v in ps.items():
            stamps[f"split_{k}"] = v
        stamps["split_build"] = max(
            round(elapsed - sum(ps.values()), 3), 0.0
        )
    split = split_src.select(
        F.lit("split").alias("variant"),
        "doc_id",
        F.col("cluster_id").alias("idx"),
        F.lit(None).cast("long").alias("n_tok"),
        F.col("split").alias("tag"),
    )
    bpe = _timed_run("bpe_build", "x29_bpe_tokenizer").select(
        F.concat(F.lit("bpe_"), F.col("kind")).alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "idx",
        F.col("n").alias("n_tok"),
        "tag",
    )
    if stamps is None:
        unigram_df = _unigram_gate_run(spark, sf_dir)
    else:
        import time as _time

        t0 = _time.perf_counter()
        unigram_df = _unigram_gate_run(spark, sf_dir)
        stamps["unigram_build"] = round(_time.perf_counter() - t0, 3)
    unigram = unigram_df.select(
        F.lit("unigram").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("score").alias("idx"),
        F.col("n_pieces").alias("n_tok"),
        F.concat("word", F.lit("="), "seg").alias("tag"),
    )
    chunk = _stamp(stamps, "chunk", chunk)
    split = _stamp(stamps, "split", split)
    bpe = _stamp(stamps, "bpe", bpe)
    unigram = _stamp(stamps, "unigram", unigram)
    return chunk.unionByName(split).unionByName(bpe).unionByName(unigram)


@register(
    "x3_exact_dedup",
    oracle=f"""
SELECT 'doc' AS variant, dup_key AS key, n_docs AS a, keep_id AS b,
       CAST(NULL AS BIGINT) AS c
FROM ({_SPEC["x3_bow_exact_dedup"].oracle.strip()}) t0
UNION ALL
SELECT 'substring' AS variant, CAST(doc_id AS VARCHAR) AS key,
       span_start AS a, span_end AS b, n_windows AS c
FROM ({_SPEC["x24_substring_spans"].oracle.strip()}) t1
""",
    note="exact-dedup suite in ONE gate row: document-level exact dedup "
    "(hash-groupBy on the canonical bag-of-words signature) and "
    "substring-level exact dedup (duplicated 10-token windows merged "
    "to maximal per-doc spans, Lee et al. 2022) — variant-tagged "
    "union; constituent notes in queries_pipeline.py",
)
def x3_exact_dedup(spark, sf_dir):
    doc = _SPEC["x3_bow_exact_dedup"].run(spark, sf_dir).select(
        F.lit("doc").alias("variant"),
        F.col("dup_key").alias("key"),
        F.col("n_docs").alias("a"),
        F.col("keep_id").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    sub = _SPEC["x24_substring_spans"].run(spark, sf_dir).select(
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
FROM ({_SPEC["x14_sequence_packing"].oracle.strip()}) t0
UNION ALL
SELECT 'shuffle' AS variant, shard, uid AS a, ord AS b,
       CAST(NULL AS BIGINT) AS c
FROM ({_SPEC["x25_global_shuffle"].oracle.strip()}) t1
""",
    note="batch-layout suite in ONE gate row: fixed-budget sequence "
    "packing (shard-local running sums) and the deterministic global "
    "corpus shuffle (pseudo-random shard + tie-free order key, one "
    "exchange + local sort, no global sort) — variant-tagged union; "
    "constituent notes in queries_pipeline.py",
)
def x14_pack_shuffle(spark, sf_dir):
    pack = _SPEC["x14_sequence_packing"].run(spark, sf_dir).select(
        F.lit("pack").alias("variant"),
        "shard",
        F.col("pack_id").alias("a"),
        F.col("n_docs").alias("b"),
        F.col("pack_tokens").alias("c"),
    )
    shuf = _SPEC["x25_global_shuffle"].run(spark, sf_dir).select(
        F.lit("shuffle").alias("variant"),
        "shard",
        F.col("uid").alias("a"),
        F.col("ord").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    return pack.unionByName(shuf)


@register(
    "x12_quality_suite",
    oracle=f"{_melt_sql('x12_quality_filter', key='lang')} UNION ALL "
    f"{_melt_sql('x26_model_quality_filter', key='lang')} UNION ALL "
    f"{_melt_sql('x31_corpus_report', key='lang')}",
    note="quality-filter suite in ONE gate row: the heuristic keep/drop "
    "filter (per-language survivor mass), the MODEL-based filter "
    "(heuristic distilled into a per-language linear probe by the "
    "distributed solver, keep = probe prediction >= cutoff), and the "
    "per-language corpus data card (doc/token counts, duplicate mass, "
    "PII incidence) — melted to (variant, lang, k, v); constituent "
    "notes in queries_pipeline.py",
)
def x12_quality_suite(spark, sf_dir):
    heur = _melt_df(
        _SPEC["x12_quality_filter"].run(spark, sf_dir),
        "heuristic", _FOLDED["x12_quality_filter"][1], "lang", "lang",
    )
    probe = _melt_df(
        _SPEC["x26_model_quality_filter"].run(spark, sf_dir),
        "probe", _FOLDED["x26_model_quality_filter"][1], "lang", "lang",
    )
    report = _melt_df(
        _SPEC["x31_corpus_report"].run(spark, sf_dir),
        "report", _FOLDED["x31_corpus_report"][1], "lang", "lang",
    )
    return heur.unionByName(probe).unionByName(report)


@register(
    "x18_corpus_mix",
    oracle=f"""
SELECT 'mix' AS variant, doc_id, source AS tag,
       CAST(NULL AS BIGINT) AS idx, CAST(NULL AS BIGINT) AS n,
       rate AS val
FROM ({_SPEC["x18_corpus_mix"].oracle.strip()}) t0
UNION ALL
SELECT 'epochs' AS variant, doc_id, source AS tag, copy_idx AS idx,
       CAST(NULL AS BIGINT) AS n, rate AS val
FROM ({_SPEC["x28_epoch_oversample"].oracle.strip()}) t1
UNION ALL
SELECT 'dsir' AS variant, doc_id, CAST(NULL AS VARCHAR) AS tag,
       CAST(rank AS BIGINT) AS idx, n_tokens AS n, gumbel_key AS val
FROM ({_SPEC["x27_dsir_select"].oracle.strip()}) t2
""",
    note="corpus mixing/selection suite in ONE gate row: share-targeted "
    "downsampling (x18), epoch-capped UniMax oversampling with copy "
    "tags (x28), and DSIR Gumbel-top-k importance resampling toward a "
    "target domain LM (x27) — variant-tagged union; constituent notes "
    "in queries_pipeline.py",
)
def x18_corpus_mix(spark, sf_dir):
    mix = _SPEC["x18_corpus_mix"].run(spark, sf_dir).select(
        F.lit("mix").alias("variant"),
        "doc_id",
        F.col("source").alias("tag"),
        F.lit(None).cast("long").alias("idx"),
        F.lit(None).cast("long").alias("n"),
        F.col("rate").alias("val"),
    )
    epochs = _SPEC["x28_epoch_oversample"].run(spark, sf_dir).select(
        F.lit("epochs").alias("variant"),
        "doc_id",
        F.col("source").alias("tag"),
        F.col("copy_idx").alias("idx"),
        F.lit(None).cast("long").alias("n"),
        F.col("rate").alias("val"),
    )
    dsir = _SPEC["x27_dsir_select"].run(spark, sf_dir).select(
        F.lit("dsir").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("tag"),
        F.col("rank").cast("long").alias("idx"),
        F.col("n_tokens").alias("n"),
        F.col("gumbel_key").alias("val"),
    )
    return mix.unionByName(epochs).unionByName(dsir)


# --------------------------------------------------------- round-4 suites
# Round 3 left six registered queries outside the 50-row gate window
# (verified only by the local oracle replica). Round 4 absorbs each into
# its family suite so EVERY registered query is inside the driver gate.


@register(
    "m2_per_entity_ridge",
    oracle=f"""{_SPEC["m2_per_entity_ridge"].oracle.strip()}
UNION ALL
SELECT 'poisson' AS variant, entity, g_x AS coef, g_int AS intercept,
       n_samples
FROM ({_SPEC["m2b_per_entity_poisson"].oracle.strip()}) m2b
""",
    note="M2 per-entity solver suite, now four blocks: the round-3 "
    "ridge/subspace/exempt closed-form blocks (notes in queries_ml.py) "
    "plus the POISSON family through the same Newton solver over Arrow "
    "batches of entities, verified by its distributed stationarity oracle (m2b: "
    "coef/intercept carry the recomputed penalized gradient, which "
    "must round to 0) — variant-tagged union",
)
def m2_per_entity_ridge(spark, sf_dir, stamps=None):
    base = _stamp(
        stamps,
        "ridge",
        lambda: _SPEC["m2_per_entity_ridge"].run(spark, sf_dir),
    )
    poisson = _stamp(
        stamps,
        "poisson",
        lambda: _SPEC["m2b_per_entity_poisson"].run(spark, sf_dir).select(
            F.lit("poisson").alias("variant"),
            "entity",
            F.col("g_x").alias("coef"),
            F.col("g_int").alias("intercept"),
            "n_samples",
        ),
    )
    return base.unionByName(poisson)


# x1 text-analysis suite: the x1 quality columns melt to (variant, id,
# k, v[, sv]); x11's md5 fingerprint is a STRING, so the suite carries
# a nullable string-value column sv alongside the double v — exact on
# both sides, no float formatting through strings.
_X1_COLS = ["n_tokens", "n_bpe_tokens", "stopword_ratio", "punct_ratio", "quality"]


def _x1_suite_sql() -> str:
    quality = " UNION ALL ".join(
        f"SELECT 'quality' AS variant, doc_id AS id, '{c}' AS k, "
        f"CAST({c} AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS sv "
        f"FROM ({_SPEC['x1_text_quality'].oracle.strip()}) q_{c}"
        for c in _X1_COLS
    )
    fp = (
        "SELECT 'fingerprint' AS variant, doc_id AS id, 'fp' AS k, "
        "CAST(NULL AS DOUBLE) AS v, fp AS sv "
        f"FROM ({_SPEC['x11_fingerprint'].oracle.strip()}) t_fp"
    )
    hist = " UNION ALL ".join(
        f"SELECT 'histogram' AS variant, bucket AS id, '{c}' AS k, "
        f"CAST({c} AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS sv "
        f"FROM ({_SPEC['x13_token_histogram'].oracle.strip()}) h_{c}"
        for c in ("n_docs", "n_tokens")
    )
    rep = " UNION ALL ".join(
        f"SELECT 'repetition' AS variant, doc_id AS id, '{c}' AS k, "
        f"CAST({c} AS DOUBLE) AS v, CAST(NULL AS VARCHAR) AS sv "
        f"FROM ({_SPEC['x15_repetition_stats'].oracle.strip()}) r_{c}"
        for c in ("dup_token_frac", "dup_bigram_frac")
    )
    return " UNION ALL ".join([quality, fp, hist, rep])


@register(
    "x1_text_quality",
    oracle=_x1_suite_sql(),
    note="pipeline/text analysis suite in ONE gate row: token counts + "
    "stopword/punct ratios + composite quality (x1), md5 content "
    "fingerprint (x11, string value in sv), token-length histogram "
    "(x13, id=decade bucket), and Gopher-style repetition fractions "
    "(x15) — melted to (variant, id, k, v, sv); constituent notes in "
    "queries_pipeline.py",
)
def x1_text_quality(spark, sf_dir):
    def melt_num(df, variant, key, cols):
        pairs = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
        return df.selectExpr(
            f"{key} AS id", f"stack({len(cols)}, {pairs}) AS (k, v)"
        ).select(
            F.lit(variant).alias("variant"), "id", "k", "v",
            F.lit(None).cast("string").alias("sv"),
        )

    quality = melt_num(
        _SPEC["x1_text_quality"].run(spark, sf_dir),
        "quality", "doc_id", _X1_COLS,
    )
    fp = _SPEC["x11_fingerprint"].run(spark, sf_dir).select(
        F.lit("fingerprint").alias("variant"),
        F.col("doc_id").alias("id"),
        F.lit("fp").alias("k"),
        F.lit(None).cast("double").alias("v"),
        F.col("fp").alias("sv"),
    )
    hist = melt_num(
        _SPEC["x13_token_histogram"].run(spark, sf_dir),
        "histogram", "bucket", ["n_docs", "n_tokens"],
    )
    rep = melt_num(
        _SPEC["x15_repetition_stats"].run(spark, sf_dir),
        "repetition", "doc_id", ["dup_token_frac", "dup_bigram_frac"],
    )
    return quality.unionByName(fp).unionByName(hist).unionByName(rep)
