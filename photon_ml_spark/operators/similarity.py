"""Similarity search over embedding columns (array<float>).

Two strategies:

- ``cosine_topk`` — exact brute force: query set joined against the
  corpus (broadcast when small), JVM-side dot products (zip_with +
  aggregate — no Python), window top-k. The correctness baseline.
- ``ivf_topk`` — scale path: search only within a coarse cell
  (precomputed cluster/partition id, e.g. an IVF centroid assignment
  or any routing key). Join key = cell id → the candidate set per
  query drops by the cell fan-out; recall measured against the brute
  force baseline in tests.

Also ``cosine_neardup_pairs`` (embedding near-duplicate detection,
the fifth dedup family).

All dot products run on cast-to-double arrays; the oracle queries
quantize embeddings to integers first so sums are exact and
engine-portable (see queries_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from photon_ml_spark.functions.vectors import cosine_similarity, dense_dot, l2_norm
from photon_ml_spark.materialize import checkpoint, persist, release


def _cosine_prenormed(qv, vv, qn, vn):
    """``cosine_similarity(qv, vv)`` with the two l2 norms read from
    precomputed columns instead of re-derived per pair. The norm of a
    vector is a function of ONLY its own side, so evaluating it once
    per row BEFORE the pair join (instead of once per joined pair)
    yields bit-identical doubles — same expression over the same
    array, then the same dot/‖q‖/‖v‖ division order — while cutting
    the per-pair interpreted higher-order-function work from three
    array folds (dot + both norms) to one (guide §1.2 step 2:
    per-task work; the pair relation is |corpus|×|queries|-sized,
    the sides are linear)."""
    return F.when(
        (qn > 0) & (vn > 0), dense_dot(qv, vv) / qn / vn
    ).otherwise(F.lit(0.0))


def hyperplane_cell(vec, patterns: list[list[float]]):
    """Random-hyperplane LSH cell id: bit b = sign(vec · pattern_b).
    Patterns are fixed literal vectors (seeded offline) — deterministic,
    engine-portable, and JVM-evaluated. Cell id ∈ [0, 2^len(patterns))."""
    cell = F.lit(0)
    for i, pat in enumerate(patterns):
        lit = F.array(*[F.lit(float(p)) for p in pat])
        dot = dense_dot(vec, lit)
        cell = cell + F.when(dot > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return cell


def alternating_patterns(dim: int, n_planes: int = 2) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: plane b flips sign every 2^b
    coordinates (Walsh-Hadamard rows — orthogonal, no RNG needed)."""
    return [
        [1.0 if (i >> b) % 2 == 0 else -1.0 for i in range(dim)]
        for b in range(n_planes)
    ]


def kmeans_cells(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    out_col: str = "cell",
    seed: int = 42,
    max_iter: int = 20,
    train_df: DataFrame | None = None,
):
    """Learned IVF coarse quantizer: spark.ml KMeans over the embedding
    column; the centroid assignment becomes the routing cell for
    ``ivf_topk``. Unlike fixed hyperplanes, centroids adapt to the data
    distribution — balanced cells, higher recall at the same fan-out.

    ``train_df`` (optional): fit the quantizer on this (sub)relation
    instead of ``df`` — the FAISS practice of training the coarse
    quantizer on a bounded sample while ASSIGNING every corpus row
    (save_ivf_index's sampled-training path). Assignment always covers
    ``df`` in full.

    Returns (df + cell column, fitted KMeansModel). Score-time
    assignment of new vectors is ``model.transform`` — the centroid
    table broadcasts with the model (k × dim doubles).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def _vectorize(d: DataFrame) -> DataFrame:
        return d.withColumn(
            "__v",
            array_to_vector(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ),
        )

    vdf = _vectorize(df)
    fit_on = vdf if train_df is None else _vectorize(train_df)
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="__v", predictionCol=out_col
    ).fit(fit_on)
    return model.transform(vdf).drop("__v"), model


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan shape: corpus ⋈ queries (broadcast-nested-loop when the query
    set is small — the usual ANN-request regime), one pass computing
    cosine, then rank-window per query. Ties break on corpus id for
    determinism. Self-matches (same id) are excluded when the id
    columns share values.
    """
    # per-SIDE norms precomputed before the pair join (r13: the per-pair
    # expression used to re-fold both norms for every joined pair)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    if broadcast_queries:
        q = F.broadcast(q)
    joined = corpus.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__vn")
    ).crossJoin(q).filter(F.col(id_col) != F.col(query_id_col))
    # query-side norm divides first: the oracle contract fixes the
    # division order (see functions.vectors.cosine_similarity)
    scored = joined.withColumn(
        "cosine",
        _cosine_prenormed(
            F.col("__qv"), F.col(vec_col), F.col("__qn"), F.col("__vn")
        ),
    )
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine — Arrow/BLAS path.

    Same semantics as ``cosine_topk``, with the per-pair arithmetic
    dot / |q| / |v| in the same IEEE order — bit-identical results on
    integer-quantized vectors (the oracle convention; the matmul
    reassociates the dot-product sum, which only matters for
    non-integer summands, where results agree to ~1 ulp), but
    the corpus streams through ``mapInPandas`` and each Arrow batch
    scores against ALL queries in one numpy matmul — BLAS throughput
    instead of per-pair expression evaluation over an exploded
    cross-join relation. Per batch only the local top-k per query
    survives (ties broken by corpus id, like the final window), so the
    shuffle input shrinks from |corpus|×|queries| rows to
    k×n_batches×|queries|; a partitioned rank window picks the global
    top-k from those candidates.

    The query set is collected to a broadcast matrix — the same
    "queries are small" regime the broadcast cross-join assumes
    (guarded: raises above ``1e6`` queries; use IVF at that scale).
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    if len(qrows) > 1_000_000:
        raise ValueError(
            "cosine_topk_blas broadcasts the query set; route >1e6 "
            "queries through ivf_topk instead"
        )
    qids_np = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    Q = np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    bc = spark.sparkContext.broadcast((qids_np, Q, qn))

    def score_batches(batches):
        qids, Qm, qnorm = bc.value
        m = len(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(
                [[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64
            )
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vn = np.sqrt((C * C).sum(axis=1))
            # (m, b): dot / |q| / |v| — division order fixed by the
            # cosine_similarity oracle contract
            S = (Qm @ C.T) / qnorm[:, None] / vn[None, :]
            S[qids[:, None] == ids[None, :]] = -np.inf  # self matches
            kk = min(k, S.shape[1])
            out_q, out_id, out_c = [], [], []
            for i in range(m):
                # exact local order: cosine desc, id asc (lexsort keys
                # are last-significant-first)
                order = np.lexsort((ids, -S[i]))[:kk]
                keep = order[np.isfinite(S[i][order])]
                out_q.append(np.full(len(keep), qids[i], dtype=np.int64))
                out_id.append(ids[keep])
                out_c.append(S[i][keep])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_id),
                    "cosine": np.concatenate(out_c),
                }
            )

    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score_batches,
        schema=f"{query_id_col} long, {id_col} long, cosine double",
    )
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe_bits: int = 0,
) -> DataFrame:
    """IVF-style top-k: candidates restricted to the query's coarse
    cell (equi-join on ``cell_col`` instead of a cross join). With C
    balanced cells this cuts compared pairs by ~C×; recall depends on
    the quality of the cell assignment (measured, not assumed — see
    tests). The cell id is any precomputed routing key: a KMeans
    centroid assignment, an LSH bucket, or a data label.

    ``n_probe_bits > 0`` enables multi-probe (for hyperplane-cell
    layouts): each query additionally searches every cell reachable by
    flipping one of the lowest ``n_probe_bits`` cell bits — vectors
    near a hyperplane boundary land in a neighboring cell, and probing
    those cells recovers most of the recall single-cell search loses,
    at (1 + n_probe_bits)× candidate cost instead of brute force's
    2^bits×."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        F.col(cell_col),
    )
    if n_probe_bits > 0:
        probes = F.array(
            F.col(cell_col),
            *[
                F.col(cell_col).bitwiseXOR(F.lit(1 << b))
                for b in range(n_probe_bits)
            ],
        )
        q = q.select(
            query_id_col, "__qv", "__qn", F.explode(probes).alias(cell_col)
        )
    joined = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("__vn"),
        F.col(cell_col),
    ).join(
        F.broadcast(q), cell_col
    ).filter(F.col(id_col) != F.col(query_id_col))
    scored = joined.withColumn(
        "cosine",
        _cosine_prenormed(
            F.col("__qv"), F.col(vec_col), F.col("__qn"), F.col("__vn")
        ),
    )
    win = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def collapse_exact_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    key_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Collapse rows with BIT-IDENTICAL embeddings onto one
    representative — the embedding twin of
    ``dedup.collapse_exact_sets`` (exact duplicate documents embed
    identically, land in the same LSH cell, and explode the
    within-cell self-join quadratically). Fingerprint = two-seed
    ``xxhash64`` over the vector column (order-sensitive, as vector
    equality requires). ``key_cols``: extra grouping keys joined into
    the fingerprint — rows collapse only when they ALSO agree on
    these (pass the blocking column when the block is not a pure
    function of the vector, e.g. blocking by source or language, so
    the collapse cannot merge across blocks). Returns ``(membership,
    reps)``: membership = (``id_col``, ``__rep``); reps = ``df``
    restricted to min-id representatives (all other columns intact,
    so block/cell columns survive)."""
    keys = list(key_cols or [])
    fp = df.select(
        F.col(id_col),
        *[F.col(c) for c in keys],
        F.xxhash64(vec_col).alias("__h1"),
        F.xxhash64(F.lit(0x9E3779B9), vec_col).alias("__h2"),
    )
    groups = fp.groupBy("__h1", "__h2", *keys).agg(
        F.min(id_col).alias("__rep")
    )
    membership = fp.join(groups, ["__h1", "__h2"] + keys).select(
        id_col, "__rep"
    )
    reps = df.join(
        membership.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    return membership, reps


FULL_CROSS_MAX_ROWS = 100_000


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = False,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold.

    With ``block_col`` the self-join runs per block (the scalable
    form — blocks from LSH buckets / IVF cells bound the quadratic
    term); without it this is a FULL self cross-join — n²/2 candidate
    comparisons — guarded by an eager row-count check that raises
    above ``FULL_CROSS_MAX_ROWS`` (100k rows ≈ 5e9 comparisons)
    unless ``allow_full_cross=True`` (the same raise-instead-of-OOM
    discipline as the tokenizer ``max_vocab_rows`` caps). The guard
    persists the input before its LIMIT-bounded count, so the success
    case pays ONE execution of the upstream lineage total (the count
    materializes the cache; both cross-join sides read the
    localCheckpointed blocks) and the misuse case still fails fast
    via CollectLimit's incremental execution — callers in a loop no
    longer pay a second full pass per call (r12 ADVICE).

    ``collapse_exact``: hot-cell guard — bit-identical embeddings
    collapse to one representative before the self-join
    (``collapse_exact_vectors``), within-group pairs expand back at
    cosine exactly 1.0 (the uncollapsed pipeline computes the same
    pairs at 1.0 ± float rounding), cross-group pairs inherit their
    reps' cosine. When ``block_col`` is set it joins the collapse key,
    so rows in different blocks never merge even when their vectors
    are bit-identical — the collapsed run emits exactly the blocked
    run's pairs whether or not the block is a function of the vector.
    Output is quadratic in duplicate-group size BY SPEC; cluster
    consumers compose ``dedup.neardup_cluster_edges`` instead.
    """
    if collapse_exact:
        from photon_ml_spark.operators.dedup import expand_collapsed_pairs

        membership, reps = collapse_exact_vectors(
            df, id_col, vec_col,
            key_cols=[block_col] if block_col else None,
        )
        rep_pairs = cosine_neardup_pairs(
            reps, threshold, block_col, id_col, vec_col,
            allow_full_cross=allow_full_cross,
        )
        return expand_collapsed_pairs(
            rep_pairs, membership, id_col,
            value_col="cosine", within_value=1.0,
        )
    if block_col is None and not allow_full_cross:
        cached = persist(df, StorageLevel.MEMORY_AND_DISK_DESER)
        if df.limit(FULL_CROSS_MAX_ROWS + 1).count() > FULL_CROSS_MAX_ROWS:
            release(cached)
            raise ValueError(
                "cosine_neardup_pairs(block_col=None) is a full self "
                f"cross-join; input exceeds {FULL_CROSS_MAX_ROWS} rows. "
                "Block the corpus (LSH cells / IVF cells via block_col) "
                "or pass allow_full_cross=True to accept the quadratic "
                "cost."
            )
        # both cross-join sides below read the checkpoint blocks, never
        # the upstream lineage
        df = checkpoint(cached)
        release(cached)
    a_cols = [
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    ]
    b_cols = [
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    ]
    if block_col:
        a_cols.append(F.col(block_col))
        b_cols.append(F.col(block_col))
    a = df.select(*a_cols)
    b = df.select(*b_cols)
    joined = (a.join(b, block_col) if block_col else a.crossJoin(b)).filter(
        F.col("id_a") < F.col("id_b")
    )
    return (
        joined.withColumn(
            "cosine",
            _cosine_prenormed(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    patterns: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication over an embedding column (the SemDedup
    pattern, Abbas et al., "SemDeDup", arXiv:2303.09540): rows whose
    embeddings are near-parallel are semantic duplicates even when
    their text differs, so one canonical representative per semantic
    cluster survives.

    Pipeline (all existing bucketed primitives composed — no new
    shuffle shapes): hyperplane-LSH cell assignment (deterministic
    literal planes) → within-cell cosine ≥ threshold pairs
    (``cosine_neardup_pairs`` blocked by cell, bounding the quadratic
    term to cell populations) → distributed connected components →
    min-id keeper per cluster (``dedup.cluster_and_keep``).

    Returns every input row annotated (id, cluster_id, is_keep);
    ``filter(is_keep)`` is the dedup. Recall trade: near-dup pairs
    split across cells are missed with probability 1 − (1 − θ/π)^planes
    per plane-side flip — fewer planes = bigger cells = higher recall
    and more comparisons, the standard LSH dial (multi-probe over
    neighboring cells narrows it further, see ``ivf_topk``).
    """
    from photon_ml_spark.operators.dedup import cluster_and_keep

    cells = df.withColumn("__cell", hyperplane_cell(F.col(vec_col), patterns))
    pairs = cosine_neardup_pairs(
        cells, threshold, block_col="__cell", id_col=id_col, vec_col=vec_col
    ).select("id_a", "id_b")
    return cluster_and_keep(df, pairs, id_col=id_col)


# ------------------------------------------------------ persisted IVF index


def recall_at_k(truth: DataFrame, predicted: DataFrame, k: int,
                query_id_col: str = "query_id",
                id_col: str = "vec_id") -> float:
    """Mean recall@k of ``predicted`` against exact ``truth`` (both in
    the (query_id, vec_id, rank) top-k shape the search functions
    return) — THE number a 100 TB ANN user tunes n_probe against.
    Queries missing from ``predicted`` entirely count as recall 0 (a
    probe set that missed every true neighbor must not be dropped from
    the mean). One inner join + two tiny aggregates."""
    t = truth.filter(F.col("rank") <= k).select(
        F.col(query_id_col).alias("__q"), F.col(id_col).alias("__v")
    )
    p = predicted.filter(F.col("rank") <= k).select(
        F.col(query_id_col).alias("__q"), F.col(id_col).alias("__v")
    )
    hits = t.join(p, ["__q", "__v"], "left_semi")
    n_queries = t.select("__q").distinct().count()
    if n_queries == 0:
        raise ValueError("recall_at_k: empty truth set")
    total_true = t.count()
    return hits.count() / total_true if total_true else 0.0


#: Default coarse-quantizer training-sample bound for save_ivf_index
#: (FAISS-style: a couple hundred thousand training points saturate a
#: k≤1024 coarse quantizer; more rows only slow the Lloyd rounds).
#: Corpora at or below this size train on every row — the sf0.001/sf0.01
#: recall fixtures and the sf0.1 gate corpus are all below it, so their
#: pinned centroids (and the x10b full-probe gate row, which is
#: centroid-independent anyway) are untouched; the 30x/100x stress
#: scales activate the sampling.
IVF_TRAIN_SAMPLE = 1 << 17


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sq8: bool = False,
    dim: int = 64,
    pq: bool = False,
    pq_m: int = 8,
    pq_ksub: int = 16,
    pq_codebook: str = "kmeans",
    train_sample: int | None = IVF_TRAIN_SAMPLE,
) -> None:
    """Materialize the ANN state for repeated query batches — the
    similarity twin of ``dedup.save_minhash_index``:

    - ``{path}/centroids``: (cell, centroid) — k rows, the coarse
      quantizer; broadcast-sized by construction.
    - ``{path}/vectors``: (id, embedding) parquet PARTITIONED BY cell —
      a probed query touches only its cells' files. With the
      centroid side of the scoring join broadcast, Spark's dynamic
      partition pruning skips unprobed cells at scan time; at 100 TB
      that is the difference between reading n_probe/k of the corpus
      and reading all of it.
    - ``sq8=True`` composes both index levers (FAISS IVF+SQ): the
      partitioned table stores 1-byte SQ8 CODES instead of float
      vectors (~4x smaller on disk — see the scalar-quantization
      section) plus ``{path}/meta.json`` with the min-max grid; search
      reconstructs candidates in-plan.
    - ``pq=True`` composes IVF with PRODUCT quantization instead
      (FAISS IVF-PQ, the canonical billion-scale layout): the
      partitioned table stores ``pq_m``-byte codes (dim·4/pq_m× smaller
      than float32) with the sampled codebook in ``meta.json``; search
      is asymmetric (raw query vs reconstructed candidates).
      Mutually exclusive with ``sq8``.

    Build cost is one KMeans fit + one partitioned write (plus one
    min/max pass when ``sq8``); rebuild when the corpus distribution
    drifts (the quantizer, not the data, decides recall).

    ``train_sample`` (r14, FAISS practice): when the corpus exceeds
    this row count, the coarse quantizer trains on a deterministic
    id-hash sample of about this many rows instead of the full corpus
    — each KMeans pass (takeSample init + maxIter Lloyd rounds) scans
    the sample, not 100 TB. Cell ASSIGNMENT still covers every row,
    and every search path is unchanged; only the centroid positions
    can differ, which full-probe search provably cannot observe (IVF
    identity) and partial-probe recall floors are re-measured against
    (tests/test_ann_recall.py — corpora below the threshold train on
    the full relation, so those pins are sample-independent). ``None``
    restores full-corpus training.
    """
    if sq8 and pq:
        # validate BEFORE the KMeans fit and the centroids overwrite —
        # raising after them would leave a previously valid index with
        # new centroids over old vectors
        raise ValueError("save_ivf_index: choose sq8 OR pq, not both")
    train_df = None
    if train_sample is not None:
        n = corpus.count()
        if n > train_sample:
            # deterministic id-hash thinning to ~train_sample rows —
            # replayable across runs/retries (guide §2.5: never derive
            # a sample from rand() under possible task retry)
            denom = 1 << 20
            keep = max(1, (train_sample * denom) // n)
            train_df = corpus.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)) < keep
            )
    assigned, model = kmeans_cells(
        corpus, k=k, vec_col=vec_col, out_col="cell",
        seed=seed, max_iter=max_iter, train_df=train_df,
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "cell int, centroid array<double>",
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    if pq:
        import json

        from photon_ml_spark.sources.model_io import _hadoop_write_text

        trainer = {
            "kmeans": pq_train_kmeans,
            "sampled": pq_train_sampled,
        }.get(pq_codebook)
        if trainer is None:
            raise ValueError(
                "pq_codebook must be 'kmeans' or 'sampled', got "
                f"{pq_codebook!r}"
            )
        codebook = trainer(
            corpus, m=pq_m, ksub=pq_ksub, vec_col=vec_col,
            id_col=id_col, dim=dim,
        )
        pq_encode(assigned, codebook, vec_col=vec_col).select(
            id_col, "pq", "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/vectors"
        )
        _hadoop_write_text(
            spark,
            f"{path}/meta.json",
            json.dumps(
                {"m": pq_m, "ksub": pq_ksub, "dim": dim,
                 "codebook": codebook}
            ),
        )
        return
    if sq8:
        import json

        from photon_ml_spark.sources.model_io import _hadoop_write_text

        lo, hi = sq8_train(corpus, vec_col=vec_col, dim=dim)
        sq8_encode(assigned, lo, hi, vec_col=vec_col).select(
            id_col, "sq8", "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/vectors"
        )
        _hadoop_write_text(
            spark,
            f"{path}/meta.json",
            json.dumps({"lo": lo, "hi": hi, "levels": 255}),
        )
    else:
        from photon_ml_spark.sources.model_io import _hadoop_delete

        assigned.select(id_col, vec_col, "cell").write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(f"{path}/vectors")
        # meta.json is the SQ8 format marker — if this path previously
        # held an sq8=True index, a stale marker would route reads to
        # the SQ8 branch against a float vectors table.
        _hadoop_delete(spark, f"{path}/meta.json")


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    refine: DataFrame | None = None,
    refine_factor: int = 4,
    refined_col: str | None = None,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index: each query is
    routed to its ``n_probe`` nearest centroids (classic IVF nprobe —
    probing MORE cells monotonically improves recall; n_probe = k
    degenerates to exact brute force over the partitioned corpus), then
    candidates come from one equi-join on the cell key.

    The centroid ranking is a broadcast cross join against k rows; the
    candidate join broadcasts the routed query set, so the only big-
    data operation is the partition-pruned corpus scan + per-query
    top-k window.

    ``refine``: the RAW corpus (``id_col``, ``vec_col``) for exact
    re-ranking of quantized results — the FAISS RefineFlat idiom: the
    quantized index retrieves ``k·refine_factor`` candidates by
    ADC/code distance, the true vectors of ONLY that shortlist join
    back in, and exact cosine re-ranks to k. Buys back most of the
    PQ/SQ8 recall gap for one k·refine_factor-row join per query —
    never a corpus rescan (plan: shortlist LEFT-joins the refine frame
    on ``id_col``, both sides pre-filtered; a shortlist id absent from
    ``refine`` keeps its quantized score rather than being dropped, so
    an incomplete refine corpus degrades gracefully instead of
    returning fewer than k rows per query). Pointless (scores already
    exact) on a float index, though accepted and harmless.

    The graceful path mixes scales: a kept quantized (ADC/SQ8) score
    is biased relative to the exact cosines it is ranked against, so
    an unrefined id can displace a true nearer neighbor. To make a
    truncated refine corpus OBSERVABLE rather than silent, pass
    ``refined_col`` (e.g. ``"refined"``): the output then carries a
    boolean column marking rows whose score was exactly re-ranked —
    ``filter(~col)`` / an agg over it quantifies the gap with no extra
    job on the search lineage (the alternative, an eager count of
    unrefined shortlist rows, would re-execute the whole ANN search)."""
    q = persist(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qv")
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    # the routed query set is broadcast into the candidate join below —
    # same "queries are small" regime (and the same 1e6 cap) as the
    # BLAS path. The guard runs a LIMIT-bounded count over the
    # persisted frame: in the normal (small) case the limit exceeds
    # the row count, so this one job fully materializes the cache and
    # the broadcast reads it — one execution of the query lineage
    # total; in the misuse case CollectLimit's incremental execution
    # stops after ~1e6 rows, so failing fast stays cheap and the
    # partial cache is dropped before raising.
    if q.limit(1_000_001).count() > 1_000_000:
        release(q)
        raise ValueError(
            "ivf_topk_from_index broadcasts the routed query set; "
            "batch >1e6 queries into multiple calls instead"
        )
    centroids = spark.read.parquet(f"{index_path}/centroids")
    routed = q.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim", cosine_similarity(F.col("__qv"), F.col("centroid"))
    )
    probe_win = Window.partitionBy(query_id_col).orderBy(
        F.desc("__sim"), F.asc("cell")
    )
    # Eagerly materialize the routed probe set (bounded by the 1e6
    # guard × n_probe) and cut its lineage, so the query cache can be
    # released now
    probes = checkpoint(
        routed.withColumn("__pr", F.row_number().over(probe_win))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, "__qv", "cell")
    )
    release(q)
    vectors = spark.read.parquet(f"{index_path}/vectors")
    from photon_ml_spark.sources.model_io import _hadoop_exists

    # r13 (guide §1.2 step 2): per-SIDE score inputs — the query's
    # (possibly grid-encoded) vector + norm on the probe frame, the
    # candidate's (possibly reconstructed) vector + norm on the corpus
    # frame — are computed BEFORE the cell join, once per row instead
    # of once per (query, candidate) pair; the per-pair expression is
    # then a single dot fold. Bit-identical: same expressions over the
    # same arrays, same dot/‖q‖/‖v‖ division order.
    if _hadoop_exists(spark, f"{index_path}/meta.json"):
        # quantizer-composed index: meta.json's keys identify the
        # format — "codebook" = PQ (save_ivf_index(pq=True)),
        # "lo" = SQ8 (sq8=True). Routing above used the RAW query
        # vector in both cases (the coarse quantizer is trained on raw
        # vectors, FAISS-style).
        import json

        from photon_ml_spark.sources.model_io import _hadoop_read_text

        meta = json.loads(_hadoop_read_text(spark, f"{index_path}/meta.json"))
        if "codebook" in meta:
            # PQ: asymmetric distance — raw query vs candidates
            # reconstructed from their m-byte codes (pq_topk semantics)
            qside = probes.withColumn("__qn", l2_norm(F.col("__qv")))
            vside = with_pq_reconstruct(
                vectors, meta["codebook"], codes_col="pq", out_col="__rz"
            ).withColumn("__vn", l2_norm(F.col("__rz")))
            qcol, vcol = "__qv", "__rz"
        else:
            # SQ8: put the QUERY through the same saved grid (encode +
            # reconstruct) so scores are code-vs-code, identical to
            # sq8_topk over the same candidate set
            lo, hi = meta["lo"], meta["hi"]
            # __qv stays the RAW query vector (the refine branch below
            # re-ranks with it); the grid-encoded copy scores the codes
            qside = probes.withColumn(
                "__rq",
                sq8_reconstruct(sq8_code_expr(F.col("__qv"), lo, hi), lo, hi),
            ).withColumn("__qn", l2_norm(F.col("__rq")))
            vside = vectors.withColumn(
                "__rz", sq8_reconstruct(F.col("sq8"), lo, hi)
            ).withColumn("__vn", l2_norm(F.col("__rz")))
            qcol, vcol = "__rq", "__rz"
    else:
        qside = probes.withColumn("__qn", l2_norm(F.col("__qv")))
        vside = vectors.withColumn("__vn", l2_norm(F.col(vec_col)))
        qcol, vcol = "__qv", vec_col
    joined = vside.join(F.broadcast(qside), "cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = joined.withColumn(
        "cosine",
        _cosine_prenormed(
            F.col(qcol), F.col(vcol), F.col("__qn"), F.col("__vn")
        ),
    )
    drop_cols = [c for c in (qcol, vcol) if c != vec_col and c != "__qv"]
    if drop_cols:
        scored = scored.drop(*drop_cols)
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    if refine is not None:
        if refine_factor < 1:
            raise ValueError(
                f"refine_factor must be >= 1, got {refine_factor}"
            )
        shortlist = (
            scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k * refine_factor)
            .select(
                query_id_col, id_col, "__qv",
                F.col("cosine").alias("__qscore"),
            )
        )
        # LEFT join: a shortlist id missing from the refine corpus keeps
        # its quantized score instead of silently vanishing (an
        # incomplete refine frame degrades recall gracefully rather than
        # returning < k rows per query)
        rescored = shortlist.join(
            refine.select(F.col(id_col), F.col(vec_col).alias("__tv")),
            id_col,
            "left",
        ).withColumn(
            "cosine",
            F.coalesce(
                cosine_similarity(F.col("__qv"), F.col("__tv")),
                F.col("__qscore"),
            ),
        )
        out_cols = [query_id_col, id_col, "cosine", "rank"]
        if refined_col is not None:
            rescored = rescored.withColumn(
                refined_col, F.col("__tv").isNotNull()
            )
            out_cols.append(refined_col)
        return (
            rescored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(*out_cols)
        )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ------------------------------------------------------- scalar quantization
#
# SQ8: the memory-bounded ANN index format (the FAISS
# ScalarQuantizer/QT_8bit idea) — each vector component is min-max
# quantized to one signed byte, so the persisted index is ~4x smaller
# than float32 (the lever that decides whether a 100 TB corpus's index
# fits the cluster's storage tier at all). Search dequantizes on the
# fly JVM-side and reuses the exact top-k machinery.
#
# Exactness device (the repo's oracle convention): scoring runs on the
# integer RECONSTRUCTION Z_j = levels*lo_j + d_j*(code_j + 128), which
# is levels × the dequantized value — cosine is scale-invariant, so
# cosine(Z_a, Z_b) == cosine(dequantized_a, dequantized_b) EXACTLY,
# while every Z component stays an exact integer whenever the input
# vectors are integer-valued (the quantized-embedding convention in
# queries_pipeline.py). The SQL oracle replays encode + reconstruct +
# cosine bit-identically.


def sq8_train(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> tuple[list[float], list[float]]:
    """Per-dimension (lo, hi) over the corpus: posexplode → groupBy(pos)
    min/max — O(dim) work per row, map-side combined, dim rows to the
    driver (O(dim) like a model vector). NOT per-dim ``element_at``
    aggregate expressions: ``element_at(<array expr>, i)`` re-evaluates
    the whole array expression per position, turning a computed vector
    column into O(dim²) per row."""
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("__p", "__x"))
        .groupBy("__p")
        .agg(
            F.min(F.col("__x").cast("double")).alias("__lo"),
            F.max(F.col("__x").cast("double")).alias("__hi"),
        )
        .collect()
    )
    got = {int(r["__p"]): (float(r["__lo"]), float(r["__hi"])) for r in rows}
    if sorted(got) != list(range(dim)):
        raise ValueError(
            f"sq8_train: expected dense {dim}-dim vectors, saw positions "
            f"{sorted(got)[:5]}...{sorted(got)[-3:]} ({len(got)} dims)"
        )
    lo = [got[i][0] for i in range(dim)]
    hi = [got[i][1] for i in range(dim)]
    return lo, hi


def _sq8_params(lo: list[float], hi: list[float]):
    """Literal array<struct<lo,d>> — zip_with'ed against the data so
    each row is ONE positional pass. (element_at on a computed array
    expression would re-evaluate it per position: O(dim²) per row —
    measured 39 s vs 0.9 s for the sf0.01 encode+reconstruct pass.)"""
    return F.array(
        *[
            F.struct(
                F.lit(float(l)).alias("lo"), F.lit(float(h - l)).alias("d")
            )
            for l, h in zip(lo, hi)
        ]
    )


def sq8_code_expr(vec, lo: list[float], hi: list[float]):
    """The encode EXPRESSION (array<tinyint>) over any vector column:
    code_j = round(255·(x_j − lo_j)/d_j) − 128 ∈ [−128, 127]
    (d_j = 0 → code −128, i.e. quantized 0). Components OUTSIDE the
    trained [lo, hi] grid clamp to the nearest edge (FAISS semantics):
    query batches are encoded with the INDEX's saved grid, so an
    unclamped out-of-range value would overflow the tinyint cast —
    an ANSI-mode ArithmeticException, or a silent wraparound that
    reconstructs the largest component as lo."""
    return F.zip_with(
        vec,
        _sq8_params(lo, hi),
        lambda x, p: (
            F.when(p["d"] == 0.0, F.lit(0.0)).otherwise(
                F.greatest(
                    F.lit(0.0),
                    F.least(
                        F.lit(255.0),
                        F.round(
                            F.lit(255.0)
                            * (x.cast("double") - p["lo"])
                            / p["d"],
                            0,
                        ),
                    ),
                )
            )
            - F.lit(128.0)
        ).cast("tinyint"),
    )


def sq8_encode(
    df: DataFrame,
    lo: list[float],
    hi: list[float],
    vec_col: str = "embedding",
    out_col: str = "sq8",
) -> DataFrame:
    """Append the 1-byte-per-dimension code column (``sq8_code_expr``).
    Pure Catalyst expression — no Python in the encode path."""
    return df.withColumn(out_col, sq8_code_expr(F.col(vec_col), lo, hi))


def sq8_reconstruct(
    codes_col, lo: list[float], hi: list[float]
):
    """array<double> Z with Z_j = 255·lo_j + d_j·(code_j + 128) — the
    scale-invariant integer reconstruction (see module comment); feed
    it to any cosine operator in place of the original vector."""
    return F.zip_with(
        codes_col,
        _sq8_params(lo, hi),
        lambda c, p: F.lit(255.0) * p["lo"]
        + p["d"] * (c.cast("double") + F.lit(128.0)),
    )


def sq8_topk(
    corpus_codes: DataFrame,
    query_codes: DataFrame,
    lo: list[float],
    hi: list[float],
    k: int,
    id_col: str = "vec_id",
    codes_col: str = "sq8",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine over the QUANTIZED representation: both
    sides reconstruct in-plan (JVM transform over the byte codes) and
    route through the brute-force machinery — same plan shape as
    ``cosine_topk`` (broadcast queries + rank window), the corpus side
    just scans 1-byte codes instead of float32."""
    rec = lambda df: df.withColumn(  # noqa: E731
        "__z", sq8_reconstruct(F.col(codes_col), lo, hi)
    )
    return cosine_topk(
        rec(corpus_codes),
        rec(query_codes),
        k,
        id_col=id_col,
        vec_col="__z",
        query_id_col=query_id_col,
    )


def save_sq8_index(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> None:
    """Persist the compact ANN index: ``{path}/codes`` (id +
    array<tinyint> — the ~4x-smaller artifact) and ``{path}/meta.json``
    (per-dim lo/hi, the dequantization parameters). Build cost is one
    min/max aggregation + one encode-and-write pass."""
    import json

    from photon_ml_spark.sources.model_io import _hadoop_write_text

    lo, hi = sq8_train(corpus, vec_col=vec_col, dim=dim)
    sq8_encode(corpus, lo, hi, vec_col=vec_col).select(
        id_col, "sq8"
    ).write.mode("overwrite").parquet(f"{path}/codes")
    _hadoop_write_text(
        corpus.sparkSession,
        f"{path}/meta.json",
        json.dumps({"lo": lo, "hi": hi, "levels": 255}),
    )


def sq8_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k search against a persisted SQ8 index: queries (raw float
    vectors) are encoded with the INDEX's saved quantization parameters
    — the index meta, not the query batch, defines the grid, exactly as
    a trained quantizer must — then scored code-vs-code."""
    import json

    from photon_ml_spark.sources.model_io import _hadoop_read_text

    meta = json.loads(_hadoop_read_text(spark, f"{index_path}/meta.json"))
    lo, hi = meta["lo"], meta["hi"]
    codes = spark.read.parquet(f"{index_path}/codes")
    q = sq8_encode(queries, lo, hi, vec_col=vec_col).select(
        F.col(id_col), F.col("sq8")
    )
    return sq8_topk(
        codes, q, lo, hi, k,
        id_col=id_col, codes_col="sq8", query_id_col=query_id_col,
    )


# ------------------------------------------------------ product quantization
def pq_train_sampled(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train a PQ codebook by DETERMINISTIC sampling: sub-quantizer j's
    centroids are the j-th subvectors of the first ``ksub`` corpus rows
    in ``id_col`` order (FAISS's k-means init is exactly "sample ksub
    points per subquantizer"; this is that init with zero Lloyd
    iterations). The sampled form is what the correctness gate runs —
    fully reproducible in SQL, so the DuckDB oracle can re-derive the
    exact same codebook, codes, and ADC scores. For production recall,
    compose with k-means per subquantizer (``kmeans_cells`` on sliced
    subvectors) — routing and storage are identical, only centroid
    quality differs.

    Returns ``codebook[j][c]`` = centroid ``c`` of sub-quantizer ``j``
    (m × ksub × dim/m floats — driver-resident like any quantizer,
    O(m·ksub·dsub) ≪ corpus).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if not 1 <= ksub <= 127:
        # codes are SIGNED tinyint (Spark has no unsigned byte): 127
        # centroids per sub-quantizer is the ceiling — overflowing into
        # negative codes would silently alias centroids
        raise ValueError(f"ksub must be in [1, 127], got {ksub}")
    dsub = dim // m
    seeds = (
        corpus.orderBy(id_col)
        .limit(ksub)
        .select(vec_col)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_train_sampled: empty corpus")
    return [
        [
            [float(x) for x in r[0][j * dsub:(j + 1) * dsub]]
            for r in seeds
        ]
        for j in range(m)
    ]


def pq_train_kmeans(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    train_rows: int = 65536,
    n_iter: int = 10,
) -> list[list[list[float]]]:
    """Train a PQ codebook with REAL per-subquantizer k-means (Lloyd)
    on a bounded deterministic sample — the production-recall path the
    sampled form (``pq_train_sampled``, kept for the SQL-reproducible
    correctness gate) trades away. Measured on the jittered recall
    sweep (scripts/ann_recall.py): sampled codebooks cap full-probe
    recall@10 around ~0.3 on unclustered data; Lloyd codebooks recover
    it (see BASELINE.md r11).

    Scale shape: the TRAINING sample is bounded (``train_rows``,
    FAISS's own regime — codebooks train on a sample, never the
    corpus), collected once; Lloyd runs driver-side in numpy over an
    (n × dsub) matrix per subquantizer — O(train_rows · ksub · dim)
    per iteration, milliseconds at the defaults. Sampling is
    deterministic (hash-mod on ``id_col``) so index builds are
    reproducible. Encoding the corpus stays distributed (pq_encode).
    Init = the first ksub sampled rows (the sampled codebook), so with
    ``n_iter=0`` this degrades to pq_train_sampled on the sample.
    """
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if not 1 <= ksub <= 127:
        raise ValueError(f"ksub must be in [1, 127], got {ksub}")
    n = corpus.count()
    if n == 0:
        raise ValueError("pq_train_kmeans: empty corpus")
    # deterministic thinning to ≤ train_rows (xxhash-mod keeps the
    # sample stable across partitionings); orderBy makes the collect
    # order — and therefore the init — reproducible
    denom = max(n // train_rows, 1)
    sample = (
        corpus.filter(F.pmod(F.xxhash64(id_col), F.lit(denom)) == 0)
        .orderBy(id_col)
        .limit(train_rows)
        .select(vec_col)
        .collect()
    )
    X = np.array([[float(x) for x in r[0]] for r in sample])
    if X.shape[0] < ksub:
        raise ValueError(
            f"pq_train_kmeans: sample has {X.shape[0]} rows < ksub {ksub}"
        )
    dsub = dim // m
    codebook = []
    for j in range(m):
        Xj = X[:, j * dsub:(j + 1) * dsub]
        C = Xj[:ksub].copy()
        for _ in range(max(n_iter, 0)):
            # assign: argmin ||x-c||² (ties → lowest index, matching
            # pq_encode); update: mean per cell, empty cells keep
            # their centroid (FAISS re-seeds; at bounded ksub the
            # difference is negligible and this stays deterministic)
            D = (
                (Xj * Xj).sum(axis=1)[:, None]
                - 2.0 * (Xj @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            a = np.argmin(D, axis=1)
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    C[c] = Xj[mask].mean(axis=0)
        codebook.append([[float(x) for x in row] for row in C])
    return codebook


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq",
) -> DataFrame:
    """Attach ``out_col`` = array<tinyint> of length m: for each
    sub-quantizer, the index of the L2-nearest centroid (ties -> lowest
    index, numpy argmin semantics — the SQL oracle orders by
    (distance, centroid)). Arrow-batched ``mapInPandas``: each batch is
    ONE numpy distance matrix per sub-quantizer
    (||x||² − 2xCᵀ + ||C||², BLAS throughput) — the encode is the
    compute-heavy inner loop where the sanctioned vectorized-Python
    path beats m×ksub Catalyst slice expressions (the HOF
    re-evaluation trap: slicing a computed vector per centroid
    re-evaluates it, PLANS.md rule)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    m = len(codebook)
    dsub = len(codebook[0][0])
    C = [np.asarray(codebook[j], dtype=np.float64) for j in range(m)]
    Cn = [(c * c).sum(axis=1) for c in C]
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.ArrayType(T.ByteType()), False)]
    )

    def encode(batches):
        for pdf in batches:
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(X) == 0:
                continue
            codes = np.empty((len(X), m), dtype=np.int8)
            for j in range(m):
                Xj = X[:, j * dsub:(j + 1) * dsub]
                # ||x−c||² up to the row-constant ||x||²: argmin of
                # −2xCᵀ + ||C||² (ties -> first index, like the oracle)
                D = -2.0 * (Xj @ C[j].T) + Cn[j]
                codes[:, j] = np.argmin(D, axis=1).astype(np.int8)
            pdf = pdf.copy()
            pdf[out_col] = [row.tolist() for row in codes]
            yield pdf

    return df.mapInPandas(encode, schema=out_schema)


def with_pq_reconstruct(
    df: DataFrame,
    codebook: list[list[list[float]]],
    codes_col: str = "pq",
    out_col: str = "__z",
) -> DataFrame:
    """Attach ``out_col`` = PQ reconstruction of ``codes_col`` with the
    codebook shipped as DATA — a 1-row broadcast nested-loop join whose
    single value is the full m×ksub×dsub nested array — instead of
    ``pq_reconstruct_expr``'s m·ksub·dsub inlined literal expressions.
    Plan size and codegen stay CONSTANT however big the codebook (at
    the ksub=127 ceiling with wide dims the literal form is tens of
    thousands of Catalyst nodes per site); the per-row work is the same
    zip_with/element_at gather, reading the joined attribute (a plain
    row value, evaluated once — no computed-array re-evaluation)."""
    cb = df.sparkSession.createDataFrame(
        [(codebook,)], "__cb array<array<array<double>>>"
    )
    rec = F.flatten(
        F.zip_with(
            F.col(codes_col),
            F.col("__cb"),
            lambda c, sub: F.element_at(sub, c.cast("int") + F.lit(1)),
        )
    )
    return (
        df.crossJoin(F.broadcast(cb)).withColumn(out_col, rec).drop("__cb")
    )


def pq_reconstruct_expr(codes_col, codebook: list[list[list[float]]]):
    """Reconstruction EXPRESSION: codes array<tinyint> → the
    concatenation of the chosen centroids (JVM-side; the codebook is a
    LITERAL nested array, so element_at here does not hit the
    computed-array re-evaluation trap — literals evaluate once).
    Expression-position convenience for SMALL codebooks only: every
    scalar becomes a Catalyst literal node, so production sites use
    ``with_pq_reconstruct`` (constant plan size) instead."""
    cb = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in centroid])
                    for centroid in sub
                ]
            )
            for sub in codebook
        ]
    )
    return F.flatten(
        F.zip_with(
            codes_col,
            cb,
            lambda c, sub: F.element_at(sub, c.cast("int") + F.lit(1)),
        )
    )


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    k: int,
    id_col: str = "vec_id",
    codes_col: str = "pq",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC (asymmetric distance) top-k: RAW query vectors against the
    RECONSTRUCTED corpus — the standard PQ search idiom (queries are
    few and exact; only the corpus pays the compression). Same plan
    shape as ``cosine_topk`` (broadcast queries + rank window); the
    corpus side scans m bytes per vector instead of dim floats."""
    rec = with_pq_reconstruct(
        corpus_codes, codebook, codes_col=codes_col, out_col="__z"
    )
    return cosine_topk(
        rec.select(F.col(id_col), F.col("__z")),
        queries.select(F.col(id_col), F.col(vec_col).alias("__z")),
        k,
        id_col=id_col,
        vec_col="__z",
        query_id_col=query_id_col,
    )


def save_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    codebook: str = "kmeans",
) -> None:
    """Persist the PQ index: ``{path}/codes`` (id + m-byte code array —
    dim·4/m× smaller than float32 per vector; at dim=64, m=8 that is
    32×) and ``{path}/meta.json`` (the codebook + geometry). The
    100 TB shape: a billion 64-dim float32 vectors are 256 GB raw;
    their PQ codes are 8 GB — broadcastable routing tables become
    scannable artifacts."""
    import json

    from photon_ml_spark.sources.model_io import _hadoop_write_text

    trainer = {
        "kmeans": pq_train_kmeans,
        "sampled": pq_train_sampled,
    }.get(codebook)
    if trainer is None:
        raise ValueError(
            f"codebook must be 'kmeans' or 'sampled', got {codebook!r}"
        )
    cb = trainer(
        corpus, m=m, ksub=ksub, vec_col=vec_col, id_col=id_col, dim=dim
    )
    pq_encode(corpus, cb, vec_col=vec_col).select(
        id_col, "pq"
    ).write.mode("overwrite").parquet(f"{path}/codes")
    _hadoop_write_text(
        corpus.sparkSession,
        f"{path}/meta.json",
        json.dumps({"m": m, "ksub": ksub, "dim": dim, "codebook": cb}),
    )


def pq_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k against a persisted PQ index (codes + saved codebook;
    the index defines the codebook, as a trained quantizer must)."""
    import json

    from photon_ml_spark.sources.model_io import _hadoop_read_text

    meta = json.loads(_hadoop_read_text(spark, f"{index_path}/meta.json"))
    codes = spark.read.parquet(f"{index_path}/codes")
    return pq_topk(
        codes, queries, meta["codebook"], k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )
