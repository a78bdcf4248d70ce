"""Oracle-checked queries for the training-data pipeline operators:
text analysis, dedup (exact/Jaccard/MinHash-LSH/SimHash/embedding),
and similarity search. Prefix x = pipeline extension (beyond the
reference's own operator set, per the build brief).

Portability conventions (see queries.py):
- ratios are exact rationals (int/int) — no rounding needed
- embedding math runs on round(x*1000) integer quantization — exact
  sums, order-independent, bit-identical across engines
- minhash/simhash permutations are linear congruences over a dense
  shingle-id dictionary — pure integer arithmetic
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.storagelevel import StorageLevel

from photon_ml_spark.materialize import persist, release
from photon_ml_spark.queries import _t, register, timed

# Shared SQL fragments -------------------------------------------------------

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
)
_BIGRAMS_SQL = f"""
  SELECT doc_id, toks FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
"""
_DOC_BIGRAM_SET_SQL = f"""
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS shingle
  FROM ({_BIGRAMS_SQL})
"""
# dense shingle dictionary + per-doc shingle ids (bigram)
_DOC_SIDS_SQL = f"""
  WITH sh AS ({_DOC_BIGRAM_SET_SQL}),
  vocab AS (
    SELECT shingle, CAST(ROW_NUMBER() OVER (ORDER BY shingle) AS BIGINT) AS sid
    FROM (SELECT DISTINCT shingle FROM sh)
  )
  SELECT doc_id, sid FROM sh JOIN vocab USING (shingle)
"""

_QE_SQL = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"


def _quantized(df):
    """Integer-quantized embedding column (oracle-exactness trick)."""
    return df.withColumn(
        "qe", F.transform("embedding", lambda x: F.round(x.cast("double") * 1000, 0))
    )


# ------------------------------------------------------------------ text


X1_QUALITY_SCORES_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents WHERE doc_id % 5 = 0
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_filter(toks, x -> x IN ('a','the','and','of','to'))) AS BIGINT)
         / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT)
         / CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio,
       (LEAST(len(toks), 100) / 100.0
        + LEAST(CAST(len(list_filter(toks, x -> x IN ('a','the','and','of','to'))) AS BIGINT)
                / CAST(len(toks) AS DOUBLE) * 4.0, 1.0)
        + GREATEST(1.0 - CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT)
                   / CAST(GREATEST(length(text), 1) AS DOUBLE) * 10.0, 0.0)) / 3.0 AS quality
FROM t
"""


def x1_quality_scores(spark, sf_dir):
    """pipeline/text: token counts (whitespace + BPE-ish regex),
    stopword/punct ratios, composite quality score — exact rational
    arithmetic"""
    from photon_ml_spark.operators.text import bpe_ish_token_count, quality_score

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    q = quality_score(docs)
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        "stopword_ratio",
        "punct_ratio",
        "quality",
    )


@register(
    "x2_language_id",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
hits AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS en,
         len(list_filter(toks, x -> x IN ('der','die','das','und','ein'))) AS de,
         len(list_filter(toks, x -> x IN ('le','la','et','un','une'))) AS fr,
         len(list_filter(toks, x -> x IN ('el','la','de','y','un'))) AS es
  FROM t
),
pred AS (
  SELECT doc_id,
         CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
              WHEN de = GREATEST(en, de, fr, es) THEN 'de'
              WHEN en = GREATEST(en, de, fr, es) THEN 'en'
              WHEN es = GREATEST(en, de, fr, es) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM hits
)
SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang_pred
""",
)
def x2_language_id(spark, sf_dir):
    """pipeline/text: stopword-profile language heuristic, argmax with
    lexicographic tie-break"""
    from photon_ml_spark.operators.text import identify_language

    docs = _t(spark, sf_dir, "documents")
    return (
        identify_language(docs)
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


X3_BOW_EXACT_DEDUP_SQL = f"""
WITH s AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ') AS dup_key
  FROM documents
)
SELECT dup_key, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keep_id
FROM s GROUP BY dup_key HAVING COUNT(*) > 1
"""


def x3_bow_exact_dedup(spark, sf_dir):
    """pipeline/dedup: exact dedup via hash-groupBy on the canonical
    bag-of-words signature"""
    from photon_ml_spark.operators.dedup import bow_exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return bow_exact_dedup(docs).select("dup_key", "n_docs", "keep_id")


X24_SUBSTRING_SPANS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
w AS (SELECT doc_id, unnest(range(0, len(toks) - 9)) AS pos, toks
      FROM t WHERE len(toks) >= 10),
k AS (SELECT doc_id, pos,
             array_to_string(list_slice(toks, pos + 1, pos + 10), ' ') AS wkey
      FROM w),
d AS (SELECT wkey FROM k GROUP BY wkey HAVING COUNT(*) >= 2),
h AS (SELECT doc_id, pos FROM k SEMI JOIN d USING (wkey)),
i AS (SELECT doc_id, pos,
        CASE WHEN MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             OR pos > MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS nw
      FROM h),
j AS (SELECT doc_id, pos, SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS island FROM i)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 10 AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM j GROUP BY doc_id, island
"""


def x24_substring_spans(spark, sf_dir):
    """pipeline/dedup: exact substring-level dedup (Lee et al. 2022
    arXiv:2107.06499 at token granularity) — every duplicated 10-token
    window corpus-wide, merged to maximal per-doc spans via
    gaps-and-islands (doc-partitioned windows). Gate row runs the exact
    string-window strategy; the rolling double-hash scale path (16
    bytes/window on the wire, explode folded map-side) is span-identical
    by regression test"""
    from photon_ml_spark.operators.dedup import duplicated_window_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_window_spans(docs, n=10, min_df=2).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_windows",
    )


@register(
    "x4_ngram_jaccard_pairs",
    oracle=f"""
WITH sh AS ({_DOC_BIGRAM_SET_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
       n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
""",
)
def x4_ngram_jaccard_pairs(spark, sf_dir):
    """pipeline/dedup: bigram-shingle Jaccard pairs >= 0.5 via shingle
    self-join (25 planted near-dup pairs in the synthetic corpus)"""
    from photon_ml_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, n=2).select(
        "id_a", "id_b", "n_inter", "jaccard"
    )


X5_MINHASH_SIGNATURES_SQL = f"""
WITH ds AS ({_DOC_SIDS_SQL})
SELECT doc_id,
       MIN((sid * 1000003 + 12345) % 2147483647) AS mh0,
       MIN((sid * 999983 + 54321) % 2147483647) AS mh1,
       MIN((sid * 823541 + 98765) % 2147483647) AS mh2,
       MIN((sid * 722377 + 11111) % 2147483647) AS mh3,
       MIN((sid * 611953 + 22222) % 2147483647) AS mh4,
       MIN((sid * 523717 + 33333) % 2147483647) AS mh5,
       MIN((sid * 424243 + 44444) % 2147483647) AS mh6,
       MIN((sid * 311111 + 55555) % 2147483647) AS mh7
FROM ds WHERE doc_id % 10 = 0 GROUP BY doc_id
"""


def x5_minhash_signatures(doc_sids):
    """pipeline/dedup: portable minhash signatures (linear permutations
    over dense bigram-shingle ids). ``doc_sids`` is the documents
    table's ``token_ids(n=2)`` relation, which the x6 suite builds once
    for its shingle-based constituents"""
    from photon_ml_spark.operators.dedup import minhash_signatures

    return minhash_signatures(
        doc_sids.filter(F.col("doc_id") % 10 == 0), num_hashes=8
    )


# MinHash+LSH candidate/verify pipeline as reusable CTEs (shared by the
# x6 pairs query and the x17 cluster query).
_LSH_PAIRS_CTES = f"""
ds AS ({_DOC_SIDS_SQL}),
sigs AS (
  SELECT doc_id,
         MIN((sid * 1000003 + 12345) % 2147483647) AS mh0,
         MIN((sid * 999983 + 54321) % 2147483647) AS mh1,
         MIN((sid * 823541 + 98765) % 2147483647) AS mh2,
         MIN((sid * 722377 + 11111) % 2147483647) AS mh3,
         MIN((sid * 611953 + 22222) % 2147483647) AS mh4,
         MIN((sid * 523717 + 33333) % 2147483647) AS mh5,
         MIN((sid * 424243 + 44444) % 2147483647) AS mh6,
         MIN((sid * 311111 + 55555) % 2147483647) AS mh7,
         MIN((sid * 217645 + 66666) % 2147483647) AS mh8,
         MIN((sid * 190979 + 77777) % 2147483647) AS mh9,
         MIN((sid * 160001 + 88888) % 2147483647) AS mh10,
         MIN((sid * 150151 + 99999) % 2147483647) AS mh11,
         MIN((sid * 140009 + 13579) % 2147483647) AS mh12,
         MIN((sid * 130003 + 24680) % 2147483647) AS mh13,
         MIN((sid * 120011 + 86420) % 2147483647) AS mh14,
         MIN((sid * 110017 + 97531) % 2147483647) AS mh15
  FROM ds GROUP BY doc_id
),
bucketed AS (
  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 || '_' || mh2 || '_' || mh3 AS bucket FROM sigs
  UNION ALL SELECT doc_id, 1, mh4 || '_' || mh5 || '_' || mh6 || '_' || mh7 FROM sigs
  UNION ALL SELECT doc_id, 2, mh8 || '_' || mh9 || '_' || mh10 || '_' || mh11 FROM sigs
  UNION ALL SELECT doc_id, 3, mh12 || '_' || mh13 || '_' || mh14 || '_' || mh15 FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bucketed a JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ds GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c JOIN ds a ON a.doc_id = c.id_a JOIN ds b ON b.doc_id = c.id_b AND b.sid = a.sid
  GROUP BY 1, 2
),
lsh_pairs AS (
  SELECT id_a, id_b,
         n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
)"""


# Standalone (subquery-safe) rendering of the LSH pipeline, for oracles
# that need the pair relation as ONE materialized CTE (the two-batch
# dedup replays reference it many times; see _CC_KEEP_SQL's note).
_LSH_ALL_PAIRS_SQL = (
    f"WITH {_LSH_PAIRS_CTES} SELECT id_a, id_b, jaccard FROM lsh_pairs"
)


X6_MINHASH_LSH_PAIRS_SQL = f"""
WITH {_LSH_PAIRS_CTES}
SELECT id_a, id_b, jaccard FROM lsh_pairs
"""


def x6_minhash_lsh_pairs(docs, doc_sids):
    """pipeline/dedup: full MinHash+LSH (16 hashes, 4 bands) candidate
    generation + exact-Jaccard verification; recall vs x4 is the LSH
    band-probability, reproduced exactly by the oracle. ``doc_sids``:
    see x5"""
    from photon_ml_spark.operators.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(docs, threshold=0.5, n=2, doc_sids=doc_sids)


X17_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_LSH_PAIRS_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM lsh_pairs
),
reach AS (
  SELECT DISTINCT u, u AS label FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_keep
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def x17_dedup_clusters(spark, sf_dir):
    """pipeline/dedup: LSH dup pairs -> connected components (min-label
    propagation + pointer jumping, 2 shuffles/iter, no driver state) ->
    one canonical keeper per dup cluster; oracle replays the closure
    with a recursive CTE"""
    from photon_ml_spark.operators.dedup import cluster_and_keep, minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, threshold=0.5, n=2).select("id_a", "id_b")
    return cluster_and_keep(docs, pairs).select("doc_id", "cluster_id", "is_keep")


# ---------------------------------------------- incremental / streaming dedup
#
# Both queries replay the persisted-index dedup flows end-to-end —
# index bootstrap on disk, LSH increment against the stored relations,
# first-seen resolution, published-survivor layout — with the dense
# SQL-portable shingle ids injected via ``sid_fn`` so the DuckDB oracle
# reproduces the LSH candidate sets exactly (production default is
# ``token_ids_hashed``; the two differ only in shingle-id assignment,
# every join/banding/verify/publish step below is the production code).
# Batch split: indexed/first batch = doc_id % 3 != 0, increment/second
# batch = doc_id % 3 == 0 (disjoint ids, both sides non-trivial).
# Corpus split: x32 runs on the EVEN doc ids, x33 on the ODD ones —
# disjoint halves that jointly cover the corpus, so the two replays
# exercise different duplicate structures at half the per-block cost
# (the flows are per-batch-linear; correctness is independent of the
# subset, scale evidence lives in scripts/stress_scale.py).


def _corpus_sid_fn(full_sids):
    """``sid_fn`` closure: per-batch shingle ids = the shared dense
    full-corpus ``token_ids`` relation semi-joined to the batch, so
    ids are stable across batches (the property ``token_ids_hashed``
    provides by construction) AND SQL-portable."""

    def sid_fn(batch, id_col, _text_col, _n):
        return full_sids.join(batch.select(id_col), id_col, "left_semi")

    return sid_fn


# Connected-components closure + min-id-keeper over an edge CTE: the
# recursive shape shared with x17's oracle, parameterized so the
# two-batch replays below reuse it. {tag}: unique CTE prefix, {pairs}:
# (id_a, id_b) CTE name, {members}: (doc_id) CTE of docs present.
# Non-recursive stages are MATERIALIZED: DuckDB inlines a CTE per
# reference, and the two-batch replays reference these chains several
# times each — inlining expands the whole upstream LSH pipeline
# combinatorially (observed: x33's oracle went from unbounded to
# seconds with the hints).
_CC_KEEP_SQL = """
{tag}_e AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM {pairs}
  UNION ALL SELECT id_b AS u, id_a AS v FROM {pairs}
),
{tag}_r AS (
  SELECT DISTINCT u, u AS label FROM {tag}_e
  UNION
  SELECT e.u, r.label FROM {tag}_e e JOIN {tag}_r r ON r.u = e.v
),
{tag}_c AS MATERIALIZED (
  SELECT u AS doc_id, MIN(label) AS cid FROM {tag}_r GROUP BY u
),
{tag}_l AS MATERIALIZED (
  SELECT m.doc_id, COALESCE(c.cid, m.doc_id) AS cid
  FROM {members} m LEFT JOIN {tag}_c c ON c.doc_id = m.doc_id
),
{tag}_k AS MATERIALIZED (
  SELECT cid, MIN(doc_id) AS keep_id FROM {tag}_l GROUP BY cid
),
{tag}_s AS MATERIALIZED (
  SELECT l.doc_id FROM {tag}_l l
  JOIN {tag}_k k ON l.cid = k.cid AND l.doc_id = k.keep_id
)"""


X32_INCREMENTAL_NEARDUP_SQL = f"""
WITH RECURSIVE {_LSH_PAIRS_CTES},
ip AS MATERIALIZED (
  SELECT id_a, id_b, jaccard FROM lsh_pairs
  WHERE id_a % 2 = 0 AND id_b % 2 = 0
    AND (id_a % 3 = 0 OR id_b % 3 = 0)
),
hit AS (
  SELECT id_b AS doc_id FROM ip WHERE id_a % 3 <> 0
  UNION
  SELECT id_a AS doc_id FROM ip WHERE id_b % 3 <> 0
),
sv AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 3 = 0
    AND doc_id NOT IN (SELECT doc_id FROM hit)
),
nn AS (SELECT id_a, id_b FROM ip WHERE id_a % 3 = 0 AND id_b % 3 = 0),
{_CC_KEEP_SQL.format(tag="i", pairs="nn", members="sv")}
SELECT 'inc_pairs' AS variant, id_a, id_b, jaccard AS stat FROM ip
UNION ALL
SELECT 'inc_survivors' AS variant, doc_id AS id_a,
       CAST(-1 AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS stat
FROM i_s
"""


def x32_incremental_neardup(docs, doc_sids):
    """pipeline/dedup: PERSISTED-INDEX incremental near-dedup over the
    even-doc-id half of the corpus — save_minhash_index bootstraps
    batch=-1 state on disk for the indexed 2/3, incremental_neardup
    LSH-joins the new 1/3 against the STORED relations (never a corpus
    rescan), drop_new_duplicates resolves first-seen survivors; oracle
    replays index-side ∪ batch-side banding + exact-Jaccard verify + the
    new-new component closure. ``docs``: the documents scan;
    ``doc_sids``: see x5"""
    import tempfile

    from photon_ml_spark.operators.dedup import (
        drop_new_duplicates,
        incremental_neardup,
        save_minhash_index,
    )

    half = docs.filter(F.col("doc_id") % 2 == 0)
    old = half.filter(F.col("doc_id") % 3 != 0)
    new = half.filter(F.col("doc_id") % 3 == 0)
    sid_fn = _corpus_sid_fn(doc_sids)
    idx = tempfile.mkdtemp(prefix="photon_inc_idx_")
    save_minhash_index(old, idx, n=2, num_hashes=16, sid_fn=sid_fn)
    # persisted: the pair relation feeds both the output block and the
    # multi-consumer resolution (see neardup_process_batch's note)
    pairs = persist(
        incremental_neardup(
            new, idx, threshold=0.5, n=2, num_hashes=16, bands=4,
            new_sids=sid_fn(new, "doc_id", "text", 2),
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    surv = drop_new_duplicates(new, pairs, old.select("doc_id"))
    return pairs.select(
        F.lit("inc_pairs").alias("variant"),
        "id_a", "id_b", F.col("jaccard").alias("stat"),
    ).unionByName(
        surv.select(
            F.lit("inc_survivors").alias("variant"),
            F.col("doc_id").alias("id_a"),
            F.lit(-1).cast("long").alias("id_b"),
            F.lit(None).cast("double").alias("stat"),
        )
    )


X33_STREAM_NEARDUP_SQL = f"""
WITH RECURSIVE lshp AS MATERIALIZED (
  SELECT * FROM ({_LSH_ALL_PAIRS_SQL}) lp0
  WHERE id_a % 2 = 1 AND id_b % 2 = 1
),
p0 AS MATERIALIZED (
  SELECT id_a, id_b FROM lshp WHERE id_a % 3 <> 0 AND id_b % 3 <> 0
),
b0 AS (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 1 AND doc_id % 3 <> 0
),
{_CC_KEEP_SQL.format(tag="s0", pairs="p0", members="b0")},
p1 AS MATERIALIZED (
  SELECT id_a, id_b FROM lshp
  WHERE (id_a % 3 = 0 OR id_b % 3 = 0)
    AND (id_a % 3 = 0 OR id_a IN (SELECT doc_id FROM s0_s))
    AND (id_b % 3 = 0 OR id_b IN (SELECT doc_id FROM s0_s))
),
hit1 AS MATERIALIZED (
  SELECT id_b AS doc_id FROM p1 WHERE id_a % 3 <> 0
  UNION
  SELECT id_a AS doc_id FROM p1 WHERE id_b % 3 <> 0
),
sv1 AS MATERIALIZED (
  SELECT doc_id FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 3 = 0
    AND doc_id NOT IN (SELECT doc_id FROM hit1)
),
nn1 AS (SELECT id_a, id_b FROM p1 WHERE id_a % 3 = 0 AND id_b % 3 = 0),
{_CC_KEEP_SQL.format(tag="s1", pairs="nn1", members="sv1")}
SELECT 'stream' AS variant, doc_id AS id_a, CAST(0 AS BIGINT) AS id_b,
       CAST(NULL AS DOUBLE) AS stat
FROM s0_s
UNION ALL
SELECT 'stream' AS variant, doc_id AS id_a, CAST(1 AS BIGINT) AS id_b,
       CAST(NULL AS DOUBLE) AS stat
FROM s1_s
"""


def x33_stream_neardup(docs, doc_sids, phase_stamps=None):
    """streaming/dedup: 2-micro-batch STREAMING near-dedup replay over
    the odd-doc-id half of the corpus — neardup_process_batch (the
    foreachBatch body) bootstraps the shared index from batch 0
    (batch-internal LSH dedup + staged batch=0 publish + _published
    marker), then batch 1 increments against ONLY batch 0's surviving
    state; output = published survivors with their publish-partition id,
    so the staged batch=<id> layout itself is under the value hash;
    oracle replays both batches (stream/batch parity of the wrapper is
    pytest-pinned). ``docs``: the documents scan; ``doc_sids``: see x5"""
    import tempfile

    from photon_ml_spark.streaming.curation import neardup_process_batch

    half = docs.filter(F.col("doc_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="photon_stream_dedup_")
    for bid, keep in ((0, F.col("doc_id") % 3 != 0), (1, F.col("doc_id") % 3 == 0)):
        t = None if phase_stamps is None else {}
        neardup_process_batch(
            half.filter(keep), f"{root}/index", f"{root}/docs",
            batch_id=bid, threshold=0.5, n=2, num_hashes=16, bands=4,
            sid_fn=_corpus_sid_fn(doc_sids), timings=t,
        )
        if t:
            # b0 = bootstrap (batch-internal LSH), b1 = incremental
            # (detect vs the persisted index) — per-batch phase stamps
            for k, v in t.items():
                phase_stamps[f"b{bid}_{k}"] = v
    return docs.sparkSession.read.parquet(f"{root}/docs").select(
        F.lit("stream").alias("variant"),
        F.col("doc_id").alias("id_a"),
        F.col("batch").cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("stat"),
    )


# Non-uniform target mix over the 20 synthetic sources (shares sum to 1).
_MIX_SHARES = {f"src{i}": (i % 4 + 1) / 50.0 for i in range(20)}
_MIX_SHARES_SQL = " UNION ALL ".join(
    f"SELECT 'src{i}' AS source, {i % 4 + 1} / 50.0 AS share" for i in range(20)
)


X18_SHARE_MIX_SQL = f"""
WITH shares AS ({_MIX_SHARES_SQL}),
counts AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
j AS (SELECT c.source, c.cnt, s.share FROM counts c JOIN shares s USING (source)),
tstar AS (SELECT MIN(cnt / share) AS t FROM j),
rates AS (
  SELECT source, LEAST(1.0, share * t / cnt) AS rate FROM j CROSS JOIN tstar
)
SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS rate
FROM documents d JOIN rates r USING (source)
WHERE CAST((48271 * ((d.doc_id * 104729 + 11) % 2147483647)) % 2147483647 AS DOUBLE)
      / 2147483647.0 < r.rate
"""


def x18_share_mix(spark, sf_dir):
    """pipeline/mixing: downsample sources to a target corpus mix
    (feasible-total rates computed in-plan, 1-row T* scalar cross-joined
    — no collect) + deterministic per-row Bernoulli keep; portable LCG
    gate lets the oracle reproduce the exact row set"""
    from photon_ml_spark.operators.sampling import corpus_mix, lcg_uniform

    docs = _t(spark, sf_dir, "documents")
    # doc_id is dense 0..N-1: pre-scale by a prime so the single LCG
    # step wraps the modulus and mixes (bare small ids map to u ≈ 0,
    # which would keep every row and never exercise the rates)
    out = corpus_mix(
        docs,
        "source",
        _MIX_SHARES,
        uid_col="doc_id",
        uniform=lcg_uniform(F.col("doc_id") * 104729, 11),
        rate_col="rate",
    )
    return out.select("doc_id", "source", F.round("rate", 6).alias("rate"))


X28_EPOCH_OVERSAMPLE_SQL = f"""
WITH shares AS ({_MIX_SHARES_SQL}),
counts AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
j AS (SELECT c.source, c.cnt, s.share FROM counts c JOIN shares s USING (source)),
tstar AS (SELECT MIN(cnt / share) AS t FROM j),
rates AS (SELECT source, share * t * 3.0 / cnt AS rate FROM j CROSS JOIN tstar),
base AS (
  SELECT d.doc_id, d.source, r.rate,
         CAST(FLOOR(r.rate) AS BIGINT)
         + CASE WHEN CAST((48271 * ((d.doc_id * 104729 + 13) % 2147483647))
                          % 2147483647 AS DOUBLE) / 2147483647.0
                     < r.rate - FLOOR(r.rate)
                THEN 1 ELSE 0 END AS n
  FROM documents d JOIN rates r USING (source)
)
SELECT doc_id, source,
       CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS copy_idx,
       ROUND(rate, 6) AS rate
FROM base WHERE n >= 1
"""


def x28_epoch_oversample(spark, sf_dir):
    """pipeline/mixing: epoch-capped oversampling to target shares
    (UniMax, Chung et al. 2023) — under-represented sources REPEATED up
    to max_epochs=3, over-represented downsampled, copies tagged;
    floor(rate) + deterministic-Bernoulli(frac) integerization makes the
    exact copy multiset engine-replayable"""
    from photon_ml_spark.operators.sampling import (
        lcg_uniform,
        oversample_to_shares,
    )

    docs = _t(spark, sf_dir, "documents")
    out = oversample_to_shares(
        docs,
        "source",
        _MIX_SHARES,
        max_epochs=3.0,
        uid_col="doc_id",
        uniform=lcg_uniform(F.col("doc_id") * 104729, 13),
        rate_col="rate",
    )
    return out.select(
        "doc_id", "source",
        F.col("copy_idx").cast("long").alias("copy_idx"),
        F.round("rate", 6).alias("rate"),
    )


X27_DSIR_SELECT_SQL = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'zh') AS tgt, unnest({_TOKS_SQL}) AS tok
  FROM documents
),
counts AS (
  SELECT tok, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
  FROM toks GROUP BY tok
),
totals AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr, COUNT(*) AS v FROM counts),
lm AS (
  SELECT tok,
         LN((ct + 1) / CAST(tt + v AS DOUBLE))
         - LN((cr + 1) / CAST(tr + v AS DOUBLE)) AS lr
  FROM counts CROSS JOIN totals
),
scores AS (
  SELECT t.doc_id, SUM(l.lr) AS logweight, COUNT(*) AS n_tokens
  FROM toks t JOIN lm l USING (tok) WHERE NOT t.tgt GROUP BY t.doc_id
),
keyed AS (
  SELECT d.doc_id,
         CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         COALESCE(s.logweight, 0.0)
         - LN(-LN(CAST((48271 * ((d.doc_id * 104729 + 11) % 2147483647))
                        % 2147483647 AS DOUBLE) / 2147483647.0)) AS gk
  FROM documents d LEFT JOIN scores s USING (doc_id)
  WHERE NOT (d.lang = 'zh')
)
SELECT doc_id, n_tokens, ROUND(gk, 6) + 0.0 AS gumbel_key,
       CAST(ROW_NUMBER() OVER (ORDER BY gk DESC, doc_id) AS INTEGER) AS rank
FROM keyed ORDER BY gk DESC, doc_id LIMIT 40
"""


def x27_dsir_select(spark, sf_dir):
    """pipeline/selection: DSIR importance resampling (Xie et al.
    NeurIPS 2023) — add-one unigram LMs over target (lang='zh') vs raw
    docs in ONE count pass, per-doc log importance ratio via a
    vocab-bounded join, Gumbel top-k (deterministic portable uniform)
    draws k=40 raw docs ∝ exp(logweight) without replacement;
    TakeOrdered top-k, no global sort"""
    from photon_ml_spark.operators.sampling import dsir_select, lcg_uniform

    docs = _t(spark, sf_dir, "documents")
    out = dsir_select(
        docs,
        F.col("lang") == "zh",
        k=40,
        uniform=lcg_uniform(F.col("doc_id") * 104729, 11),
    )
    return out.select(
        "doc_id", "n_tokens",
        (F.round("gumbel_key", 6) + 0.0).alias("gumbel_key"),
        "rank",
    )


X7_SIMHASH_NEARDUP_SQL = f"""
WITH ds AS ({_DOC_SIDS_SQL}),
sigs AS (
  SELECT doc_id, CAST(
    CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 0) & 1) >= COUNT(*) THEN 1 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 1) & 1) >= COUNT(*) THEN 2 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 2) & 1) >= COUNT(*) THEN 4 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 3) & 1) >= COUNT(*) THEN 8 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 4) & 1) >= COUNT(*) THEN 16 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 5) & 1) >= COUNT(*) THEN 32 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 6) & 1) >= COUNT(*) THEN 64 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 7) & 1) >= COUNT(*) THEN 128 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 8) & 1) >= COUNT(*) THEN 256 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 9) & 1) >= COUNT(*) THEN 512 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 10) & 1) >= COUNT(*) THEN 1024 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 11) & 1) >= COUNT(*) THEN 2048 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 12) & 1) >= COUNT(*) THEN 4096 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 13) & 1) >= COUNT(*) THEN 8192 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 14) & 1) >= COUNT(*) THEN 16384 ELSE 0 END
  + CASE WHEN 2*SUM(((sid * 1103515245 + 12345) % 65536 >> 15) & 1) >= COUNT(*) THEN 32768 ELSE 0 END
  AS BIGINT) AS simhash
  FROM ds GROUP BY doc_id
),
bucketed AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 4)) & 15 AS bucket
  FROM sigs, (SELECT unnest([0,1,2,3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
  FROM bucketed a JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def x7_simhash_neardup(docs, doc_sids):
    """pipeline/dedup: 16-bit SimHash over bigram shingles, hamming<=3
    pairs via 4-band pigeonhole buckets + popcount verify. ``doc_sids``:
    see x5"""
    from photon_ml_spark.operators.dedup import (
        SIMHASH_ORACLE_BITS,
        simhash_neardup_pairs,
    )

    # pinned to the narrow LCG shape the DuckDB oracle above replays in
    # ANSI SQL; the function DEFAULT is the wide xxhash scale form
    out = simhash_neardup_pairs(
        docs, max_hamming=3, n=2, doc_sids=doc_sids,
        bits=SIMHASH_ORACLE_BITS, bit_hash="lcg",
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# ------------------------------------------------------------- embeddings


X8_EMBEDDING_NEARDUP_SQL = f"""
WITH q AS (SELECT vec_id, label, {_QE_SQL} AS qe FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.qe, b.qe)
         / sqrt(list_dot_product(a.qe, a.qe)) / sqrt(list_dot_product(b.qe, b.qe)) AS cosine
FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.qe, b.qe)
        / sqrt(list_dot_product(a.qe, a.qe)) / sqrt(list_dot_product(b.qe, b.qe)) >= 0.4
"""


def x8_embedding_neardup(spark, sf_dir):
    """pipeline/dedup: embedding-cosine near-dup pairs >= 0.4,
    label-blocked self-join; integer-quantized dot products"""
    from photon_ml_spark.operators.similarity import cosine_neardup_pairs

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    return cosine_neardup_pairs(
        emb, threshold=0.4, block_col="label", vec_col="qe"
    )


_ANN_ORACLE_BASE = f"""
WITH q AS (SELECT vec_id, label, {_QE_SQL} AS qe FROM embeddings),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         list_dot_product(a.qe, b.qe)
           / sqrt(list_dot_product(a.qe, a.qe)) / sqrt(list_dot_product(b.qe, b.qe)) AS cosine
  FROM q a JOIN q b ON {{join_cond}}
  WHERE a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


X9_ANN_BRUTE_TOPK_SQL = _ANN_ORACLE_BASE.format(join_cond="TRUE")


def x9_ann_brute_topk(spark, sf_dir):
    """pipeline/similarity: exact brute-force cosine top-5 for 1-in-25
    query vectors (broadcast cross join + rank window)"""
    from photon_ml_spark.operators.similarity import cosine_topk

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return cosine_topk(emb, queries, k=5, vec_col="qe")


X9B_ANN_BLAS_TOPK_SQL = _ANN_ORACLE_BASE.format(join_cond="TRUE")


def x9b_ann_blas_topk(spark, sf_dir):
    """pipeline/similarity: the SAME exact brute-force top-5 as x9
    through the Arrow/BLAS path (mapInPandas batch matmul + per-batch
    partial top-k, broadcast query matrix) — identical oracle, so the
    two physical strategies are verified value-equal"""
    from photon_ml_spark.operators.similarity import cosine_topk_blas

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return cosine_topk_blas(emb, queries, k=5, vec_col="qe")


X10_ANN_IVF_TOPK_SQL = f"""
WITH base AS (SELECT vec_id, {_QE_SQL} AS qe FROM embeddings),
cells AS (
  SELECT vec_id, qe,
    CASE WHEN list_dot_product(qe, list_transform(range(0, 64),
         i -> CASE WHEN (i >> 0) % 2 = 0 THEN 1.0 ELSE -1.0 END)) > 0 THEN 1 ELSE 0 END
  + CASE WHEN list_dot_product(qe, list_transform(range(0, 64),
         i -> CASE WHEN (i >> 1) % 2 = 0 THEN 1.0 ELSE -1.0 END)) > 0 THEN 2 ELSE 0 END AS cell
  FROM base
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         list_dot_product(a.qe, b.qe)
           / sqrt(list_dot_product(a.qe, a.qe)) / sqrt(list_dot_product(b.qe, b.qe)) AS cosine
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE a.vec_id % 25 = 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def x10_ann_ivf_topk(spark, sf_dir):
    """pipeline/similarity: LSH/IVF-bucketed top-5 — candidates limited
    to the query's Walsh-hyperplane cell (the scale path; recall vs x9
    measured in tests)"""
    from photon_ml_spark.operators.similarity import (
        alternating_patterns,
        hyperplane_cell,
        ivf_topk,
    )

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    emb = emb.withColumn(
        "cell", hyperplane_cell(F.col("qe"), alternating_patterns(64, 2))
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk(emb, queries, k=5, cell_col="cell", vec_col="qe")


X10B_ANN_IVF_INDEX_TOPK_SQL = _ANN_ORACLE_BASE.format(join_cond="TRUE")


def x10b_ann_ivf_index_topk(spark, sf_dir):
    """pipeline/similarity: PERSISTED-IVF search — save_ivf_index
    materializes a KMeans coarse quantizer + the corpus parquet
    PARTITIONED BY cell on disk, ivf_topk_from_index routes each query
    to its n_probe nearest stored centroids and joins only those cells'
    files (partition-pruned scan). Gated at n_probe = n_cells (full
    probe), which is EXACT brute force by the IVF identity — so the
    brute oracle verifies the whole save→route→prune→score path
    value-equal regardless of quantizer assignment"""
    import tempfile

    from photon_ml_spark.operators.similarity import (
        ivf_topk_from_index,
        save_ivf_index,
    )

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    idx = tempfile.mkdtemp(prefix="photon_ivf_idx_")
    save_ivf_index(emb, idx, k=4, vec_col="qe", seed=42, max_iter=5)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk_from_index(
        spark, idx, queries, k=5, n_probe=4, vec_col="qe"
    )


X9C_ANN_SQ8_TOPK_SQL = f"""
WITH q AS (SELECT vec_id, {_QE_SQL} AS qe FROM embeddings),
dims AS (
  SELECT i, MIN(qe[i + 1]) AS lo, MAX(qe[i + 1]) - MIN(qe[i + 1]) AS d
  FROM q, range(64) r(i) GROUP BY i
),
meta AS (SELECT list(lo ORDER BY i) AS lo, list(d ORDER BY i) AS d FROM dims),
z AS (
  SELECT vec_id,
         list_transform(range(0, 64), i ->
           255 * meta.lo[i + 1] + meta.d[i + 1] *
           (CASE WHEN meta.d[i + 1] = 0 THEN 0
                 ELSE ROUND(255.0 * (qe[i + 1] - meta.lo[i + 1])
                            / meta.d[i + 1]) END)) AS zv
  FROM q, meta
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         list_dot_product(a.zv, b.zv)
           / sqrt(list_dot_product(a.zv, a.zv))
           / sqrt(list_dot_product(b.zv, b.zv)) AS cosine
  FROM z a JOIN z b ON TRUE
  WHERE a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def x9c_ann_sq8_topk(spark, sf_dir):
    """pipeline/similarity: SQ8 scalar-quantized top-5 (the FAISS
    QT_8bit idea — per-dim min-max codes in ONE signed byte, a ~4x
    smaller persisted index than float32): train (one min/max agg pass)
    -> encode to array<tinyint> -> score on the integer reconstruction Z
    = 255*lo + d*(code+128), which equals the dequantized cosine EXACTLY
    by scale invariance — so the oracle replays
    quantize+reconstruct+rank bit-identically; all Catalyst expressions,
    no Python in encode or search"""
    from photon_ml_spark.operators.similarity import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    lo, hi = sq8_train(emb, vec_col="qe", dim=64)
    enc = sq8_encode(emb, lo, hi, vec_col="qe")
    queries = enc.filter(F.col("vec_id") % 25 == 0)
    # raw cosine like the sibling ANN parts: integer reconstruction →
    # exact dot sums → bit-identical doubles on both engines, no round
    return sq8_topk(enc, queries, lo, hi, k=5)


X9D_ANN_PQ_TOPK_SQL = f"""
WITH q AS (SELECT vec_id, {_QE_SQL} AS qe FROM embeddings),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qe
  FROM q ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, j, c FROM (
    SELECT v.vec_id, r.j, s.c,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, r.j
             ORDER BY
               list_dot_product(v.qe[r.j*8+1 : r.j*8+8],
                                v.qe[r.j*8+1 : r.j*8+8])
               - 2 * list_dot_product(v.qe[r.j*8+1 : r.j*8+8],
                                      s.qe[r.j*8+1 : r.j*8+8])
               + list_dot_product(s.qe[r.j*8+1 : r.j*8+8],
                                  s.qe[r.j*8+1 : r.j*8+8]),
               s.c) AS rn
    FROM q v, range(8) r(j), seeds s
  ) WHERE rn = 1
),
recon AS (
  SELECT a.vec_id,
         flatten(list(s.qe[a.j*8+1 : a.j*8+8] ORDER BY a.j)) AS zv
  FROM assign a JOIN seeds s USING (c) GROUP BY a.vec_id
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         list_dot_product(a.qe, b.zv)
           / sqrt(list_dot_product(a.qe, a.qe))
           / sqrt(list_dot_product(b.zv, b.zv)) AS cosine
  FROM q a JOIN recon b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % 25 = 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def x9d_ann_pq_topk(spark, sf_dir):
    """pipeline/similarity: PQ product-quantized ADC top-5 (the FAISS
    IVF-PQ storage idea — m=8 sub-quantizers x ksub=16 centroids, one
    BYTE per subvector: dim*4/m = 32x smaller than float32). Gate
    variant uses the deterministic SAMPLED codebook (k-means init with
    zero Lloyd rounds) so the oracle re-derives codebook, codes (argmin
    with ties -> lowest centroid), reconstruction, and the asymmetric
    raw-query-vs-reconstructed-corpus cosine EXACTLY on
    integer-quantized vectors; encode is one numpy distance matrix per
    sub-quantizer per Arrow batch (mapInPandas), search is pure Catalyst
    over the literal codebook"""
    from photon_ml_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train_sampled,
    )

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    cb = pq_train_sampled(emb, m=8, ksub=16, vec_col="qe", dim=64)
    enc = pq_encode(emb.select("vec_id", "qe"), cb, vec_col="qe")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return pq_topk(enc, queries, cb, k=5, codes_col="pq", vec_col="qe")


X14_SEQUENCE_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT shard,
         CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens)
              // 2048 AS BIGINT) AS pack_id,
         n_tokens
  FROM t
)
SELECT shard, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM packed GROUP BY shard, pack_id
"""


def x14_sequence_packing(spark, sf_dir):
    """pipeline/text: sequence packing — docs assigned to fixed
    2048-token packs by shard-local running sum (deterministic,
    shard-parallel; the LLM-pretraining batch-packing op)"""
    from photon_ml_spark.operators.text import greedy_pack

    docs = _t(spark, sf_dir, "documents")
    packed = greedy_pack(docs, token_budget=2048, n_shards=8)
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


X25_GLOBAL_SHUFFLE_SQL = """
WITH d AS (
  SELECT l_orderkey * 100 + l_linenumber AS uid
  FROM lineitem WHERE l_orderkey % 7 = 0
)
SELECT uid,
       CAST(FLOOR(CAST((48271 * ((48271 * ((uid + 17) % 2147483647))
                                 % 2147483647)) % 2147483647
                       AS DOUBLE) / 2147483647.0 * 8) AS BIGINT) AS shard,
       CAST((48271 * ((48271 * ((uid + 18) % 2147483647)) % 2147483647))
            % 2147483647 AS BIGINT) AS ord
FROM d
"""


def x25_global_shuffle(spark, sf_dir):
    """pipeline/export: deterministic global shuffle — pseudo-random
    shard + tie-free within-shard order key as pure expressions
    (Park-Miller bijection), so the pre-training corpus shuffle costs
    one hash exchange + local sort, never a global sort; the physical
    writer (write_training_shards: one sorted file per shard dir) is
    round-trip tested in tests/test_pipeline_ops.py"""
    from photon_ml_spark.operators.sampling import shuffle_assignment

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    d = li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("uid")
    )
    return shuffle_assignment(d, uid_col="uid", n_shards=8, seed=17).select(
        "uid", "shard", "ord"
    )


X31_CORPUS_REPORT_SQL = r"""
WITH t AS (
  SELECT lang,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS fp,
         (len(regexp_extract_all(text,
              '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) > 0
          OR len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) > 0
          OR len(regexp_extract_all(text, '\b\d{16}\b')) > 0) AS pii
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_docs,
       CAST(SUM(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
       ROUND((COUNT(*) - COUNT(DISTINCT fp)) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_doc_frac
FROM t GROUP BY lang
"""


def x31_corpus_report(spark, sf_dir):
    """pipeline/text: per-language corpus data card — doc/token counts,
    exact-duplicate mass via normalized-fingerprint count-distinct, PII
    incidence; the summary a curation run publishes next to its shards"""
    from photon_ml_spark.operators.text import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents"))


X12_QUALITY_FILTER_SQL = f"""
WITH t AS (
  SELECT doc_id, text, lang, {_TOKS_SQL} AS toks FROM documents
),
q AS (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
         (LEAST(len(toks), 100) / 100.0
          + LEAST(CAST(len(list_filter(toks, x -> x IN ('a','the','and','of','to'))) AS BIGINT)
                  / CAST(len(toks) AS DOUBLE) * 4.0, 1.0)
          + GREATEST(1.0 - CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT)
                     / CAST(GREATEST(length(text), 1) AS DOUBLE) * 10.0, 0.0)) / 3.0 AS quality
  FROM t
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
       ROUND(SUM(quality) / COUNT(*), 6) AS mean_quality
FROM q WHERE quality >= 0.5 GROUP BY lang
"""


def x12_quality_filter(spark, sf_dir):
    """pipeline/text: the corpus-curation filter — quality >= threshold,
    surviving docs/token mass per language (the keep/drop decision a
    training-data pipeline runs at ingest)"""
    from photon_ml_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).filter(F.col("quality") >= 0.5)
    return q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
        F.round(F.sum("quality") / F.count(F.lit(1)), 6).alias("mean_quality"),
    )


X26_MODEL_QUALITY_FILTER_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents
),
f AS (
  SELECT doc_id, lang,
         ROUND(CAST(len(list_filter(toks, x -> x IN ('a','the','and','of','to'))) AS BIGINT)
               / CAST(len(toks) AS DOUBLE) * 1000) AS x_q,
         ROUND((LEAST(len(toks), 100) / 100.0
                + LEAST(CAST(len(list_filter(toks, x -> x IN ('a','the','and','of','to'))) AS BIGINT)
                        / CAST(len(toks) AS DOUBLE) * 4.0, 1.0)
                + GREATEST(1.0 - CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT)
                           / CAST(GREATEST(length(text), 1) AS DOUBLE) * 10.0, 0.0))
               / 3.0 * 1000) AS y_q
  FROM t
),
m AS (
  SELECT lang, COUNT(*) AS n, SUM(x_q) AS sx, SUM(y_q) AS sy,
         SUM(x_q*x_q) AS sxx, SUM(x_q*y_q) AS sxy
  FROM f GROUP BY lang
),
probe AS (
  SELECT lang,
         (n*sxy - sx*sy) / ((sxx + 10.0)*n - sx*sx) AS coef,
         ((sxx + 10.0)*sy - sx*sxy) / ((sxx + 10.0)*n - sx*sx) AS intercept
  FROM m
)
SELECT f.lang,
       ROUND(p.coef, 6) AS probe_coef,
       ROUND(p.intercept, 6) AS probe_intercept,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ROUND(p.coef * f.x_q + p.intercept, 6) >= 650.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM f JOIN probe p USING (lang)
GROUP BY f.lang, p.coef, p.intercept
"""


def x26_model_quality_filter(spark, sf_dir):
    """pipeline/curation: MODEL-based quality filtering — the heuristic
    quality score distilled into one linear probe per language (trained
    by the distributed per-entity solver, the fasttext-classifier-filter
    pattern), documents kept when the PROBE's prediction clears the
    cutoff; integer-quantized features keep the normal equations exact
    so the oracle replays the closed form (ridge l2=10, intercept
    unpenalized)"""
    from photon_ml_spark.operators.text import model_quality_filter

    docs = _t(spark, sf_dir, "documents")
    out = model_quality_filter(docs, group_col="lang", keep_cutoff=650.0)
    return out.groupBy("lang").agg(
        F.round(F.first("probe_coef"), 6).alias("probe_coef"),
        F.round(F.first("probe_intercept"), 6).alias("probe_intercept"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_keep").cast("long")).alias("n_kept"),
    )


X13_TOKEN_HISTOGRAM_SQL = f"""
WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents)
SELECT CAST(len(toks) // 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
FROM t GROUP BY 1
"""


def x13_token_histogram(spark, sf_dir):
    """pipeline/text: token-length histogram (decade buckets) — the
    length-distribution scan that sizes packing/truncation decisions"""
    from photon_ml_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text")))
    return (
        docs.select(F.floor(n / 10).cast("long").alias("bucket"), n.alias("__n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("n_tokens"),
        )
    )


X15_REPETITION_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id % 4 = 0
),
b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) > 1
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bigrams
  FROM t
)
SELECT doc_id,
       CASE WHEN len(toks) > 0
            THEN (len(toks) - len(list_distinct(toks)))
                 / CAST(len(toks) AS DOUBLE)
            ELSE 0.0 END AS dup_token_frac,
       CASE WHEN len(bigrams) > 0
            THEN (len(bigrams) - len(list_distinct(bigrams)))
                 / CAST(len(bigrams) AS DOUBLE)
            ELSE 0.0 END AS dup_bigram_frac
FROM b
"""


def x15_repetition_stats(spark, sf_dir):
    """pipeline/text: Gopher-style repetition filters — duplicate-token
    and duplicate-bigram fractions per document (boilerplate/spam cut);
    exact int/int rationals, pure Catalyst"""
    from photon_ml_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    return repetition_stats(docs).select(
        "doc_id", "dup_token_frac", "dup_bigram_frac"
    )


@register(
    "x16_pii_scan",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS INT)
         AS n_phones,
       CAST(len(regexp_extract_all(text, '\b\d{16}\b')) AS INT)
         AS n_card_numbers,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[PII]', 'g'),
         '\b\d{3}-\d{3}-\d{4}\b', '[PII]', 'g'),
         '\b\d{16}\b', '[PII]', 'g')) AS BIGINT) AS redacted_len
FROM documents WHERE doc_id % 6 = 0
""",
)
def x16_pii_scan(spark, sf_dir):
    """pipeline/text: PII scan stage — per-document email/phone/card
    regex match counts plus redacted-text length (matches replaced with
    [PII]); single-pass JVM regex, no Python"""
    from photon_ml_spark.operators.text import pii_scan

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    return pii_scan(docs).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_card_numbers",
        F.length("text_redacted").cast("long").alias("redacted_len"),
    )


_SHA_BYTE = """
  CAST(CASE WHEN substr(h, {p1}, 1) BETWEEN '0' AND '9'
            THEN ascii(substr(h, {p1}, 1)) - 48
            ELSE ascii(substr(h, {p1}, 1)) - 87 END * 16
     + CASE WHEN substr(h, {p2}, 1) BETWEEN '0' AND '9'
            THEN ascii(substr(h, {p2}, 1)) - 48
            ELSE ascii(substr(h, {p2}, 1)) - 87 END AS INT)
"""


XM1_MULTIMODAL_DECODE_RESIZE_SQL = f"""
WITH hashed AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 3 = 0
),
meta AS (
  SELECT doc_id,
         16 + {_SHA_BYTE.format(p1=1, p2=2)} % 240 AS width,
         16 + {_SHA_BYTE.format(p1=3, p2=4)} % 240 AS height,
         {_SHA_BYTE.format(p1=5, p2=6)} / 255.0 AS mean_luma
  FROM hashed
),
planned AS (
  SELECT *, LEAST(224.0 / width, 224.0 / height) AS scale FROM meta
)
SELECT doc_id, width, height, ROUND(mean_luma, 6) AS mean_luma,
       CAST(ROUND(width * scale) AS INT) AS out_w,
       CAST(ROUND(height * scale) AS INT) AS out_h,
       CAST(224 - ROUND(width * scale) AS INT) AS pad_x,
       CAST(224 - ROUND(height * scale) AS INT) AS pad_y
FROM planned
"""


def xm1_multimodal_decode_resize(spark, sf_dir):
    """pipeline/multimodal: binary payload -> mapInPandas fake decode
    (deterministic sha256 stub — real codec slot) + letterbox resize
    plan as pure expressions; oracle reproduces the digest arithmetic"""
    from photon_ml_spark.operators.multimodal import (
        attach_payload,
        decode_image,
        resize_plan,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    decoded = decode_image(attach_payload(docs), fake=True)
    planned = resize_plan(decoded, 224, 224)
    return planned.select(
        "doc_id", "width", "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
        "out_w", "out_h", "pad_x", "pad_y",
    )


XM3_AUDIO_DECODE_RESAMPLE_SQL = f"""
WITH hashed AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 5 = 1
),
meta AS (
  SELECT doc_id,
         CAST(list_value(8, 16, 22, 44)[{_SHA_BYTE.format(p1=1, p2=2)} % 4 + 1]
              * 1000 AS INT) AS sample_rate,
         CAST(1000 + ({_SHA_BYTE.format(p1=3, p2=4)} * 256
              + {_SHA_BYTE.format(p1=5, p2=6)}) * 37 AS BIGINT) AS n_samples,
         {_SHA_BYTE.format(p1=7, p2=8)} / 255.0 AS rms
  FROM hashed
)
SELECT doc_id, sample_rate, n_samples, ROUND(rms, 6) AS rms,
       CAST(FLOOR(n_samples * 1000000.0 / sample_rate) AS BIGINT)
         AS duration_us,
       CAST(CEIL(n_samples * 16000.0 / sample_rate) AS BIGINT) AS out_samples
FROM meta
"""


def xm3_audio_decode_resample(spark, sf_dir):
    """pipeline/multimodal: audio twin of xm1 — binary payload ->
    mapInPandas fake audio decode (sample rate / length / RMS from the
    sha256 digest — real codec slot) + 16 kHz resample plan as pure
    expressions; oracle reproduces the digest arithmetic"""
    from photon_ml_spark.operators.multimodal import (
        attach_payload,
        decode_audio,
        resample_plan,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 1)
    decoded = decode_audio(attach_payload(docs), fake=True)
    planned = resample_plan(decoded, target_rate=16000)
    return planned.select(
        "doc_id", "sample_rate", "n_samples",
        F.round(F.col("rms"), 6).alias("rms"),
        F.floor(F.col("duration_sec") * 1000000.0).cast("long")
        .alias("duration_us"),
        "out_samples",
    )


XM4_VIDEO_DECODE_SQL = f"""
WITH hashed AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 7 = 2
),
meta AS (
  SELECT doc_id,
         32 + {_SHA_BYTE.format(p1=1, p2=2)} % 224 AS width,
         32 + {_SHA_BYTE.format(p1=3, p2=4)} % 224 AS height,
         CAST(list_value(12, 24, 25, 30)[{_SHA_BYTE.format(p1=5, p2=6)}
              % 4 + 1] AS DOUBLE) AS fps,
         CAST(1 + ({_SHA_BYTE.format(p1=7, p2=8)} * 256
              + {_SHA_BYTE.format(p1=9, p2=10)}) % 2000 AS BIGINT)
           AS n_frames,
         {_SHA_BYTE.format(p1=11, p2=12)} / 255.0 AS mean_luma
  FROM hashed
)
SELECT doc_id, width, height, fps, n_frames,
       ROUND(n_frames / fps, 6) AS duration_sec,
       ROUND(mean_luma, 6) AS mean_luma
FROM meta
"""


def xm4_video_decode(spark, sf_dir):
    """pipeline/multimodal: video twin of xm1/xm3 — binary payload ->
    mapInPandas fake video decode (dims / fps / frame count / sampled
    luma from the sha256 digest — real codec slot: PyAV when present,
    stdlib YUV4MPEG2 decoder otherwise, REAL path tested
    unconditionally) + duration arithmetic; oracle reproduces the digest
    arithmetic"""
    from photon_ml_spark.operators.multimodal import (
        attach_payload,
        decode_video,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 2)
    decoded = decode_video(attach_payload(docs), fake=True)
    return decoded.select(
        "doc_id", "width", "height", "fps", "n_frames",
        F.round(F.col("duration_sec"), 6).alias("duration_sec"),
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


XM2_FRAME_SAMPLE_PLAN_SQL = """
WITH d AS (
  SELECT doc_id, n_chars / 10.0 AS duration FROM documents WHERE doc_id % 9 = 0
),
n AS (
  SELECT doc_id, duration,
         LEAST(CAST(FLOOR(duration * 2.0) AS INT), 16) AS nf
  FROM d
)
SELECT doc_id,
       CAST(CASE WHEN nf <= 0 THEN 1 ELSE nf END AS INT) AS n_frames,
       ROUND((CASE WHEN nf <= 0 THEN 1 ELSE nf END - 1) / 2.0, 6) AS last_ts
FROM n
"""


def xm2_frame_sample_plan(spark, sf_dir):
    """pipeline/multimodal: deterministic video frame-sampling plan
    (uniform stride fps=2, cap 16) — pure expressions, no Python;
    decoder stage consumes the timestamp array"""
    from photon_ml_spark.operators.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 0)
    planned = frame_sample_plan(
        docs.withColumn("duration", F.col("n_chars") / 10.0),
        duration_col="duration", fps=2.0, max_frames=16,
    )
    return planned.select(
        "doc_id",
        F.size("frame_ts").alias("n_frames"),
        F.round(F.element_at("frame_ts", -1), 6).alias("last_ts"),
    )


_TRIGRAM_SET_SQL = f"""
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM ({_BIGRAMS_SQL})
"""


X19_CONTAMINATION_SQL = f"""
WITH sh AS ({_TRIGRAM_SET_SQL}),
tr AS (SELECT * FROM sh WHERE doc_id % 4 <> 0),
ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 4 = 0)
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_ngrams,
       CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev USING (shingle)
GROUP BY tr.doc_id
HAVING COUNT(DISTINCT tr.shingle) >= 5
"""


def x19_contamination(spark, sf_dir):
    """pipeline/contamination: benchmark-contamination detection —
    word-trigram collisions between the training split and a held-out
    eval split (shingle equi-join + per-doc distinct counts; eval side
    broadcast-sized in practice); docs sharing >= 5 distinct trigrams
    flagged"""
    from photon_ml_spark.operators.dedup import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 4 != 0)
    ev = docs.filter(F.col("doc_id") % 4 == 0)
    out = contaminated_docs(train, ev, n=3)
    return out.filter(F.col("n_shared_ngrams") >= 5)


X30_NGRAM_NOVELTY_SQL = f"""
WITH sh AS ({_TRIGRAM_SET_SQL}),
dfreq AS (SELECT shingle, COUNT(*) AS dfq FROM sh GROUP BY shingle)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN dfq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN dfq = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM sh JOIN dfreq USING (shingle)
GROUP BY sh.doc_id
"""


def x30_ngram_novelty(spark, sf_dir):
    """pipeline/curation: per-doc trigram novelty — fraction of the
    doc's distinct word trigrams occurring in no other doc
    (document-frequency agg + join back on the shingle key, no
    all-pairs); low novelty flags boilerplate that survives pairwise
    near-dup thresholds"""
    from photon_ml_spark.operators.text import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    out = ngram_novelty(docs, n=3)
    return out.select(
        "doc_id", "n_ngrams", "n_novel", F.round("novelty", 6).alias("novelty")
    )


X20_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE base AS (SELECT vec_id, {_QE_SQL} AS qe FROM embeddings),
cells AS (
  SELECT vec_id, qe,
    CASE WHEN list_dot_product(qe, list_transform(range(0, 64),
         i -> CASE WHEN (i >> 0) % 2 = 0 THEN 1.0 ELSE -1.0 END)) > 0 THEN 1 ELSE 0 END
  + CASE WHEN list_dot_product(qe, list_transform(range(0, 64),
         i -> CASE WHEN (i >> 1) % 2 = 0 THEN 1.0 ELSE -1.0 END)) > 0 THEN 2 ELSE 0 END AS cell
  FROM base
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.qe, b.qe)
          / sqrt(list_dot_product(a.qe, a.qe)) / sqrt(list_dot_product(b.qe, b.qe)) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT DISTINCT u, u AS label FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS vec_id, MIN(label) AS cluster_id FROM reach GROUP BY u)
SELECT b.vec_id,
       COALESCE(c.cluster_id, b.vec_id) AS cluster_id,
       COALESCE(c.cluster_id, b.vec_id) = b.vec_id AS is_keep
FROM base b LEFT JOIN comp c USING (vec_id)
"""


def x20_semantic_dedup(spark, sf_dir):
    """pipeline/semantic-dedup: SemDedup pattern — hyperplane-LSH cells
    -> within-cell cosine >= 0.4 pairs -> distributed connected
    components -> min-id keeper per semantic cluster; oracle replays the
    closure with a recursive CTE (quantized-integer cosine)"""
    from photon_ml_spark.operators.similarity import (
        alternating_patterns,
        semantic_dedup,
    )

    emb = _quantized(_t(spark, sf_dir, "embeddings"))
    out = semantic_dedup(
        emb, threshold=0.4, patterns=alternating_patterns(64, 2), vec_col="qe"
    )
    return out.select("vec_id", "cluster_id", "is_keep")


X21_DOC_CHUNKING_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CASE WHEN n <= 120 THEN 1
                              ELSE 1 + CAST(CEIL((n - 120) / 100.0) AS BIGINT)
                         END)) AS cid
  FROM nz
)
SELECT doc_id, CAST(cid AS INT) AS chunk_id,
       CAST(len(list_slice(toks, cid * 100 + 1, cid * 100 + 120)) AS INT)
         AS chunk_tokens,
       array_to_string(list_slice(toks, cid * 100 + 1, cid * 100 + 120), ' ')
         AS chunk_text
FROM c
"""


def x21_doc_chunking(spark, sf_dir):
    """pipeline/chunking: token-window document chunking
    (max_tokens=120, overlap=20) — pure-expression flatMap (tokenize ->
    index arithmetic -> slice -> posexplode), no shuffle; the standard
    LLM context-window preparation upstream of packing (x14)"""
    from photon_ml_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=120, overlap=20)


X22_LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_LSH_PAIRS_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL SELECT id_b, id_a FROM lsh_pairs
),
reach AS (
  SELECT DISTINCT u, u AS label FROM edges
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id,
       CASE WHEN CAST((48271 * ((cluster_id * 104729 + 11) % 2147483647))
                      % 2147483647 AS DOUBLE) / 2147483647.0 < 0.25
            THEN 'test' ELSE 'train' END AS split
FROM labeled
"""


def x22_leakage_safe_split(spark, sf_dir, phase_stamps=None):
    """pipeline/splitting: leakage-safe train/test split — the split key
    is the LSH near-dup CLUSTER (connected components), so a doc and all
    its near-copies land on the same side; deterministic portable LCG
    gate at test_frac=0.25"""
    from photon_ml_spark.operators.dedup import minhash_lsh_dedup
    from photon_ml_spark.operators.sampling import (
        lcg_uniform,
        leakage_safe_split,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, threshold=0.5, n=2).select("id_a", "id_b")
    if phase_stamps is not None:
        # bench attribution only (the x21 suite): materialize the LSH
        # edge list under its own stamp so the split constituent
        # separates near-dup detection from cluster resolution
        pairs = persist(pairs, StorageLevel.MEMORY_AND_DISK_DESER)
        with timed(phase_stamps, "pairs"):
            pairs.count()
    with timed(phase_stamps, "cluster"):
        out = leakage_safe_split(
            docs, pairs, test_frac=0.25,
            uniform=lcg_uniform(F.col("cluster_id") * 104729, 11),
        )
    if phase_stamps is not None:
        # connected_components reads the edge list eagerly (its bounded
        # collect, or the distributed loop above the bound), so
        # cluster_and_keep was the edge list's last reader
        release(pairs)
    return out.select("doc_id", "cluster_id", "split")


X23_UNIGRAM_PERPLEXITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
totals AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab FROM counts)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(EXP(-SUM(LN((c.cnt + 1) / CAST(t.total + t.vocab AS DOUBLE)))
                 / COUNT(*)), 6) AS ppl
FROM toks JOIN counts c USING (tok) CROSS JOIN totals t
GROUP BY doc_id
"""


def x23_unigram_perplexity(spark, sf_dir):
    """pipeline/quality: CCNet-style perplexity filter — add-one unigram
    LM fitted on the corpus (vocab-sized count agg + 1-row total),
    per-doc ppl = exp(-mean ln p); token join + per-doc agg, fully in
    Catalyst"""
    from photon_ml_spark.operators.text import unigram_perplexity

    docs = _t(spark, sf_dir, "documents")
    out = unigram_perplexity(docs)
    return out.select(
        "doc_id", "n_tokens", F.round("ppl", 6).alias("ppl")
    )


X19B_TFIDF_KEYWORDS_SQL = f"""
  WITH tk AS (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term
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
"""


def x19b_tfidf_keywords(docs):
    """pipeline/curation: tf-idf keyword extraction over every third of
    ``docs`` (the documents table) — top-3 characteristic terms/doc:
    doc-term counts, term-keyed df join, broadcast 1-row corpus size,
    per-doc rank window with rounded-score + lexicographic tie-break"""
    from photon_ml_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(docs.filter(F.col("doc_id") % 3 == 0), k=3).select(
        "doc_id", "term", F.col("tfidf").alias("v")
    )


X19C_BIGRAM_PERPLEXITY_SQL = f"""
  WITH dt AS (
    SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
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
    FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY 1
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
"""


def x19c_bigram_perplexity(docs):
    """pipeline/quality: INTERPOLATED bigram-LM perplexity (Jelinek-
    Mercer λ=0.7 toward the KenLM-class filters; two count aggregates +
    transition joins) over ``docs`` (the documents table), per doc
    n_bigrams and ppl2 melted to (doc_id, k, v)"""
    from photon_ml_spark.operators.text import bigram_perplexity

    p2 = bigram_perplexity(docs, lam=0.7).select(
        "doc_id", "n_bigrams", F.round("ppl", 6).alias("ppl2")
    )
    return p2.selectExpr(
        "doc_id",
        "stack(2, 'n_bigrams', CAST(n_bigrams AS DOUBLE), "
        "'ppl2', CAST(ppl2 AS DOUBLE)) AS (k, v)",
    )


def _bpe_oracle_sql(n_merges: int, min_pair_count: int) -> str:
    """Generate the DuckDB replay of ``bpe_train`` + per-language encode
    stats: one CTE triple (pair counts → argmax → merge applied) per
    round. An empty argmax (no pair ≥ min_pair_count) leaves the word
    table unchanged via the LEFT JOIN + COALESCE, matching the
    operator's early stop — later rounds then stay empty too."""
    ctes = [
        f"""w0 AS (
  SELECT word, COUNT(*) AS cnt,
         '  ' || array_to_string(regexp_split_to_array(word, ''), '  ') || '  ' AS s
  FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents)
  WHERE regexp_matches(word, '^[a-z0-9]+$')
  GROUP BY word
)"""
    ]
    for i in range(n_merges):
        ctes.append(
            f"""p{i} AS (
  SELECT sy[i] AS l, sy[i+1] AS r, SUM(cnt) AS c
  FROM (SELECT cnt, regexp_split_to_array(trim(s), '  ') AS sy FROM w{i}),
       LATERAL unnest(generate_series(1, len(sy) - 1)) AS g(i)
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r, c FROM p{i} WHERE c >= {min_pair_count}
         ORDER BY c DESC, l, r LIMIT 1),
w{i + 1} AS (
  SELECT word, cnt,
         COALESCE(regexp_replace(s, ' ' || b.l || '  ' || b.r || ' ',
                                 ' ' || b.l || b.r || ' ', 'g'), s) AS s
  FROM w{i} LEFT JOIN b{i} b ON TRUE
)"""
        )
    ctes.append(
        f"""enc AS (
  SELECT word, regexp_split_to_array(trim(s), '  ') AS syms
  FROM w{n_merges}
),
dt AS (
  SELECT lang, word
  FROM (SELECT lang, unnest({_TOKS_SQL}) AS word FROM documents)
  WHERE regexp_matches(word, '^[a-z0-9]+$')
),
lang_tot AS (
  SELECT dt.lang, SUM(len(e.syms)) AS total
  FROM dt JOIN enc e USING (word) GROUP BY dt.lang
),
lang_vocab AS (
  SELECT lang, COUNT(DISTINCT sym) AS dv
  FROM (SELECT dt.lang, unnest(e.syms) AS sym
        FROM dt JOIN enc e USING (word))
  GROUP BY lang
)"""
    )
    merge_rows = " UNION ALL ".join(
        f"SELECT 'merge' AS kind, CAST({i} AS BIGINT) AS idx, "
        f"l || '>' || l || r AS tag, CAST(c AS BIGINT) AS n FROM b{i}"
        for i in range(n_merges)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\n{merge_rows}\n"
        + "UNION ALL\n"
        + "SELECT 'encode' AS kind, CAST(lv.dv AS BIGINT) AS idx, "
        + "lt.lang AS tag, CAST(lt.total AS BIGINT) AS n\n"
        + "FROM lang_tot lt JOIN lang_vocab lv USING (lang)"
    )


X29_BPE_TOKENIZER_SQL = _bpe_oracle_sql(6, 2)


def x29_bpe_tokenizer(spark, sf_dir):
    """pipeline/tokenizer: distributed BPE training (Sennrich et al.
    2016) on the WORD-FREQUENCY table — vocab-bounded state however
    large the corpus; per round one pair-count aggregate + argmax (count
    desc, lexicographic ties) + one global-leftmost regex merge,
    engine-replayable via the double-space symbol layout — plus
    per-language encode stats (total BPE tokens, distinct symbols) from
    the vocab-level encode joined back to documents"""
    from photon_ml_spark.operators.text import (
        bpe_encode_words,
        bpe_train,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    merges_df = bpe_train(docs, n_merges=6, min_pair_count=2)
    merges = merges_df.collect()
    merge_rows = merges_df.select(
        F.lit("merge").alias("kind"),
        F.col("merge_idx").cast("long").alias("idx"),
        F.concat("left", F.lit(">"), "merged").alias("tag"),
        F.col("pair_count").alias("n"),
    )
    # Encode-stats scale shape: aggregate the corpus to (lang, word)
    # counts FIRST (one map-side-combined pass), then join the
    # vocab-bounded count relation with the encoded vocab and compute
    # BOTH stats in one agg — Σ wc over the exploded syms IS
    # Σ wc·|syms| (total BPE tokens), countDistinct(sym) rides along.
    # Joining the raw exploded token stream with the vocab (twice)
    # instead goes corpus-sized the moment the vocab outgrows
    # broadcast: measured 27x wall at 10x data before this change.
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike(r"^[a-z0-9]+$"))
    wc = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("wc"))
    vocab = bpe_encode_words(wc.select("word").distinct(), merges)
    enc_rows = (
        wc.join(vocab, "word")
        .select("lang", "wc", F.explode("syms").alias("sym"))
        .groupBy("lang")
        .agg(
            F.sum("wc").alias("n"),
            F.countDistinct("sym").alias("dv"),
        )
        .select(
            F.lit("encode").alias("kind"),
            F.col("dv").cast("long").alias("idx"),
            F.col("lang").alias("tag"),
            F.col("n").cast("long").alias("n"),
        )
    )
    return merge_rows.unionByName(enc_rows)


# Unigram-LM tokenizer block (folded into the x21 suite): Viterbi-segment
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
_UNIGRAM_CASE = " ".join(
    f"WHEN '{p}' THEN {s}" for p, s in sorted(UNIGRAM_GATE_VOCAB.items())
)
X29B_UNIGRAM_TOKENIZER_SQL = f"""
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
         list_transform(pieces, p -> CASE p {_UNIGRAM_CASE} ELSE NULL END) AS psc
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


def x29b_unigram_tokenizer(spark, sf_dir):
    """pipeline/tokenizer: unigram-LM (sentencepiece-style) Viterbi
    segmentation of the distinct words of every ninth doc under
    ``UNIGRAM_GATE_VOCAB``; the oracle enumerates every split mask"""
    from photon_ml_spark.operators.text import tokens, unigram_encode_words

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 0)
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


X11_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS fp
FROM documents WHERE doc_id % 7 = 0
"""


def x11_fingerprint(spark, sf_dir):
    """pipeline/text: md5 content fingerprint of normalized text
    (portable digest)"""
    from photon_ml_spark.operators.text import fingerprint_md5

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
