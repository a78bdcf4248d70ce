"""Deduplication operators for training-data pipelines.

Five dedup families, each a pure-DataFrame pipeline designed for the
100 TB regime (shuffle on shingle/bucket keys, driver state only in
size-bounded collects, no cross joins except within tiny candidate
buckets):

- exact (hash-groupBy on a canonical fingerprint)
- n-gram Jaccard (shingle self-join with |A∩B| counting)
- MinHash + LSH (portable linear-permutation minhash → banded buckets
  → candidate pairs → exact-Jaccard verification)
- SimHash (bitwise majority over token hashes, hamming-ball pairs via
  band buckets)
- embedding cosine near-dup (see operators/similarity.py)

Portability: minhash/simhash use *linear permutations over a dense
token-id dictionary* ((a·id + b) mod p) instead of engine hash
functions, so every stage is reproducible in ANSI SQL for the oracle.
At production scale swap `token_ids` for xxhash64(token)
(`token_ids_hashed`) — same pipeline shape, one less join, and a real
permutation family: over a small dense vocabulary the linear hashes are
all increasing in the id (see `minhash_signatures`).
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from photon_ml_spark.materialize import checkpoint, persist, release
from photon_ml_spark.operators.text import (
    bow_signature_of,
    shingles_of,
    tokens,
    tokens_expr,
)

# 16 fixed (a, b) linear-permutation parameters over the Mersenne
# prime p = 2^31 - 1 (deterministic, engine-portable minhash family).
MINHASH_PRIME = 2147483647
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1_000_003, 12_345), (999_983, 54_321), (823_541, 98_765), (722_377, 11_111),
    (611_953, 22_222), (523_717, 33_333), (424_243, 44_444), (311_111, 55_555),
    (217_645, 66_666), (190_979, 77_777), (160_001, 88_888), (150_151, 99_999),
    (140_009, 13_579), (130_003, 24_680), (120_011, 86_420), (110_017, 97_531),
]


def exact_duplicates(
    df: DataFrame, key, id_col: str = "doc_id", key_name: str = "dup_key"
) -> DataFrame:
    """Exact dedup via hash-groupBy on a canonical key expression.
    Returns (dup_key, n_docs, keep_id=min id, doc_ids sorted) for keys
    with >1 member. One shuffle on the key; partial-aggregated."""
    return (
        df.select(key.alias(key_name), F.col(id_col))
        .groupBy(key_name)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, shingle) distinct pairs — the base relation for Jaccard,
    minhash, and LSH. ``tokens_col``: pre-built token array (the
    shared-tokenization seam — see ``text.tokens_expr``)."""
    sh = shingles_of(tokens_expr(text_col, tokens_col), n)
    return (
        df.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold — EXACT — under
    one of two physical strategies whose optimality depends on the
    corpus's document-frequency profile:

    - ``"copair"``: direct co-shingle self-join + pair groupBy count.
      Cost ≈ Σ_shingle df(shingle)² shuffled rows, all inside
      whole-stage codegen. Optimal when documents overlap densely
      (small vocabulary, high mean df): prefix filtering cannot prune
      a corpus where *every* shingle is hot, and the flat
      join→count→filter plan wins on constant factor.
    - ``"ppjoin"``: prefix filtering (AllPairs/PPJoin: Bayardo et al.,
      "Scaling Up All Pairs Similarity Search", WWW'07) with length
      and positional prunes. Cost ≈ surviving-candidates ×
      avg-set-size. Optimal for realistic Zipfian text corpora (large
      vocabulary, mean df ≈ small constant) where hot-shingle df²
      blowup kills the direct join but almost no pair shares a *rare*
      shingle, so candidates ≪ co-shingle pairs.
    - ``"auto"`` (default): one tiny aggregate over the shingle
      relation (rows ÷ distinct shingles = mean df) picks the
      strategy at plan-build time — mean df above
      ``_COPAIR_MEAN_DF_CUTOFF`` routes to copair, else ppjoin. The
      decision statistic costs one pass over the (cached) shingle
      relation, which both strategies scan anyway; the choice is
      logged in the plan via a literal tag. At 100 TB the same rule
      holds: web-scale text is Zipfian → ppjoin (or the MinHash/LSH
      pipeline, the true scale path); dense structured corpora →
      copair.

    Both strategies return identical results (equivalence is tested);
    both shuffle only on shingle/pair/doc keys with no driver state.

    PPJoin specifics: candidate generation joins only each doc's
    *prefix* — its first ``|A| − ⌈t·|A|⌉ + 1`` shingles under a global
    (df asc, shingle) order. Completeness: J(A,B) ≥ t ⟹
    |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so if the smallest common
    shingle (in the global order) sat outside A's prefix, A∩B would
    fit inside A's last ⌈t·|A|⌉ − 1 positions — contradiction;
    symmetrically for B. Hence every qualifying pair shares a
    prefix-prefix shingle and the join finds it. Ordering prefixes by
    df *ascending* pushes hot shingles out of the join, leaving rare
    shingles as candidate keys. Three further prunes cut the candidate
    set before any verification work:

    - length filter: J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t, applied on the
      candidate join output (sizes ride along with the prefixes);
    - positional filter: a co-prefix match at 1-based positions
      (p_a, p_b) bounds the intersection by
      ``min(p_a,p_b) + min(|A|−p_a, |B|−p_b)`` (common shingles before
      the match ≤ min(p_a,p_b)−1, the match itself, common after ≤
      min of the tails); pairs whose tightest bound falls below the
      required overlap ``⌈t/(1+t)·(|A|+|B|)⌉`` are pruned;
    - verification joins each surviving pair against *one row per doc*
      (the per-doc sorted shingle array) and counts |A∩B| JVM-side via
      ``array_intersect`` — shuffling |cand| rows, not
      |cand|·avg-set-size exploded rows.

    The per-doc (df asc, shingle asc) global order is materialized by
    sorting (df, shingle) structs inside one aggregation — no window,
    no second pass.

    Float-exactness: every ``⌈t·x⌉`` bound subtracts a 1e-9 epsilon
    before ``ceil`` so thresholds whose binary representation rounds
    up (e.g. 0.55·100 → 55.000000000000007) don't shorten the prefix
    below the exact rational bound and silently drop qualifying pairs.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if strategy not in ("auto", "copair", "ppjoin"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # serialized: one row per (doc, shingle) — corpus-scale; see the
    # connected_components storage note
    sh = persist(doc_shingles(df, id_col, text_col, n))
    if strategy == "auto":
        stats = sh.agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct("shingle").alias("vocab"),
        ).first()
        mean_df = stats.rows / max(stats.vocab, 1)
        strategy = "copair" if mean_df > _COPAIR_MEAN_DF_CUTOFF else "ppjoin"
    if strategy == "copair":
        # checkpoint the (small) pairs frame so the corpus-sized
        # shingle relation can be released before returning (the
        # ppjoin helper does the same with its doc_arr cache)
        out = checkpoint(_jaccard_copair(sh, threshold, id_col))
    else:
        out = _jaccard_ppjoin(sh, threshold, id_col)
    release(sh)
    return out


# Mean document frequency above which dense co-shingle counting beats
# prefix filtering (see ngram_jaccard_pairs docstring). Zipfian text
# corpora sit far below this; tiny-vocabulary synthetic/structured
# corpora sit far above — the boundary is not sensitive.
_COPAIR_MEAN_DF_CUTOFF = 16.0


def _jaccard_copair(sh: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Direct exact Jaccard: co-shingle self-join → per-pair
    intersection count → size join → threshold filter. df=1 shingles
    are dropped from the join (they produce only self-pairs); set
    sizes still count them, so the union is unchanged."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh2 = sh.join(dfreq.filter(F.col("df") >= 2).select("shingle"), "shingle")
    a = sh2.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh2.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "size_a", "size_b", "jaccard")
    )


def _jaccard_ppjoin(sh: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Prefix-filtered exact Jaccard (see ngram_jaccard_pairs)."""
    eps = 1e-9
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # one row per doc: shingles sorted by (df asc, shingle asc) — the
    # AllPairs canonical order — reused by prefix generation AND
    # verification, so it is persisted once
    doc_arr = persist(
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("ordered")
        )
        .withColumn("set_size", F.size("ordered"))
    )
    pref_len = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(eps))
        + F.lit(1)
    ).cast("int")
    # df=1 shingles can never co-occur in a pair: drop them from the
    # candidate join (set_size above still counts them — union unchanged)
    prefix = (
        doc_arr.select(
            F.col(id_col).alias("pid"),
            F.col("set_size").alias("psize"),
            F.posexplode(F.slice(F.col("ordered"), F.lit(1), pref_len)).alias(
                "pos0", "el"
            ),
        )
        .filter(F.col("el.df") >= 2)
        .select(
            "pid",
            "psize",
            F.col("el.shingle").alias("shingle"),
            (F.col("pos0") + 1).alias("pos"),
        )
    )
    pa = prefix.select(
        F.col("pid").alias("id_a"),
        F.col("psize").alias("size_a"),
        "shingle",
        F.col("pos").alias("pos_a"),
    )
    pb = prefix.select(
        F.col("pid").alias("id_b"),
        F.col("psize").alias("size_b"),
        "shingle",
        F.col("pos").alias("pos_b"),
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.col("size_b").cast("double")
            >= F.lit(threshold) * F.col("size_a") - F.lit(eps)
        )
        .filter(
            F.col("size_a").cast("double")
            >= F.lit(threshold) * F.col("size_b") - F.lit(eps)
        )
        .withColumn(
            "ub",
            F.least("pos_a", "pos_b")
            + F.least(
                F.col("size_a") - F.col("pos_a"), F.col("size_b") - F.col("pos_b")
            ),
        )
        # one row per pair (replaces a separate distinct()): keep the
        # tightest positional upper bound across the pair's matches
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.min("ub").alias("ub"))
        .filter(
            F.col("ub")
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("size_a") + F.col("size_b"))
                - F.lit(eps)
            )
        )
    )
    # plain string arrays for verification (struct compares are far
    # slower than string equality in array_intersect)
    arr = doc_arr.select(F.col(id_col), F.col("ordered.shingle").alias("shingles"))
    out = (
        cand.join(
            arr.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("arr_a")),
            "id_a",
        )
        .join(
            arr.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("arr_b")),
            "id_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "size_a", "size_b", "jaccard")
    )
    # Materialize before releasing doc_arr: the checkpoint truncates
    # lineage, so the per-doc ordered-shingle relation (one array per
    # doc — corpus-scale) does not outlive the call as a stale cache.
    out = checkpoint(out)
    release(doc_arr)
    return out


def token_ids(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              n: int = 1, tokens_col: str | None = None) -> DataFrame:
    """(doc, shingle_id) with a dense deterministic shingle dictionary —
    the portable base for minhash/simhash.

    Ids are 1-based in lexicographic shingle order — ``ROW_NUMBER()
    OVER (ORDER BY shingle)`` — computed WITHOUT a single-partition
    window and without leaving the JVM via the shared zipWithIndex
    device (operators/indexing.py: range-partitioned sort +
    per-partition ``row_number`` + broadcast-joined prefix-sum
    offsets; the localCheckpoint there pins the sampled range
    boundaries so the count job and the id job read the SAME
    partitioning). The broadcast join replaced an inline ``create_map``
    offset literal — a map literal is a linear key scan, O(n_partitions)
    per vocabulary row on a cluster running thousands of shuffle
    partitions. At scale replace with xxhash64(shingle)
    (``token_ids_hashed``) — same pipeline shape, one less join — at
    the cost of SQL-portable ids.

    Not a minhash input outside the oracle rows: with fewer than about
    2,147 distinct shingles every ``MINHASH_PARAMS`` hash is increasing
    in these ids (see ``minhash_signatures``), so LSH over them bands
    one value. The gate rows keep them because their SQL oracles pin
    this form.
    """
    from photon_ml_spark.operators.indexing import zip_with_index

    sh = doc_shingles(df, id_col, text_col, n, tokens_col=tokens_col)
    distinct = sh.select("shingle").distinct()
    vocab, _ = zip_with_index(distinct, "shingle", id_col="sid", start=1)
    return sh.join(vocab, "shingle").select(id_col, "sid")


def minhash_signatures(
    doc_sids: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """Minhash signature per doc: mh_i = min over shingles of
    (a_i·sid + b_i) mod p. One aggregation pass computes all i.

    The family permutes only ids spread over [0, p), as
    ``token_ids_hashed`` gives them. Every a_i is at most 1,000,003, so
    for sid below about 2,147 no term wraps mod p and each hash is
    increasing in the sid: on dense ``token_ids`` of a small vocabulary
    all components of a signature come from the doc's smallest sid, and
    the bands of ``lsh_candidate_pairs`` carry one value between them
    (every doc sharing that shingle becomes a candidate)."""
    aggs = [
        F.min((F.col("sid") * a + b) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    ]
    return doc_sids.groupBy(id_col).agg(*aggs)


def _banded(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket): the LSH banding shared by every minhash
    consumer (one definition — batch, incremental, and streaming dedup
    must derive IDENTICAL bucket keys or cross-flow joins silently
    miss)."""
    rows_per_band = num_hashes // bands
    # ONE posexplode pass instead of a bands-way union of selects over
    # the same signature subtree (r13, guide §2.4): the union form
    # scanned/aggregated the upstream once per band (ReuseExchange
    # dedupes the shuffle, but each branch still re-runs the final
    # aggregate and schedules its own stage); the exploded form reads
    # each signature row once and emits its ``bands`` (band, bucket)
    # rows in-place. posexplode's position IS the band index, so rows
    # are identical to the union's.
    buckets = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.posexplode(buckets).alias("band", "bucket")
    )


def _verify_jaccard_pairs(
    cand: DataFrame, sids: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs
    against a (id, sid) shingle relation — the shared tail of every
    LSH dedup flow. Returns (id_a, id_b, jaccard) at ≥ threshold.

    Only the candidates' documents are grouped into sid arrays (``sids``
    semi-joined to the ids in ``cand``), so an incremental run never
    groups the whole stored index; ``_verify_sid_lists`` does the rest.
    Contract: ``sids`` holds distinct, non-NULL (id, sid) rows, as
    ``token_ids``, ``token_ids_hashed`` and the stored index do."""
    ids = cand.select(F.col("id_a").alias(id_col)).unionByName(
        cand.select(F.col("id_b").alias(id_col))
    )
    lists = (
        sids.join(ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(_sid_list())
    )
    return _verify_sid_lists(cand, lists, id_col, threshold)


def _sid_list():
    """The aggregate giving each document its shingle ids as one array
    (``__sids``), the form ``_verify_sid_lists`` reads."""
    return F.collect_list("sid").alias("__sids")


def _verify_sid_lists(
    cand: DataFrame, lists: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate pairs on one row per document:
    ``lists`` is (``id_col``, ``__sids``), each document's shingle ids as
    an array. ``cand ⋈ lists(id_a) ⋈ lists(id_b)``, then
    ``n_inter = size(array_intersect)`` and
    ``n_inter / (size_a + size_b − n_inter)`` — the pair's two arrays
    meet in one row instead of one row per shared shingle.

    With distinct sids per document, ``array_intersect`` counts exactly
    the shared sids and the sizes are the set sizes, so the value is the
    exact set Jaccard. A pair with no shared shingle is never emitted,
    even at threshold 0 (``n_inter > 0``), and a candidate id without a
    list drops out."""
    a = lists.select(F.col(id_col).alias("id_a"), F.col("__sids").alias("__a"))
    b = lists.select(F.col(id_col).alias("id_b"), F.col("__sids").alias("__b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("__a", "__b")).alias("n_inter"),
            F.size("__a").alias("size_a"),
            F.size("__b").alias("size_b"),
        )
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    Shuffle key = (band_index, band_signature): duplicate-heavy buckets
    stay together, everything else never meets (the LSH point)."""
    bucketed = _banded(signatures, id_col, num_hashes, bands)
    a = bucketed.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b2 = bucketed.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def collapse_exact_sets(
    sids: DataFrame, id_col: str = "doc_id", verify: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Collapse docs with IDENTICAL shingle sets onto one representative
    — the hot-bucket guard for LSH at scale. A corpus with millions of
    copies of one boilerplate page puts every copy in the SAME band
    bucket (identical sets ⇒ identical minhash signatures), and
    ``lsh_candidate_pairs``'s within-bucket self-join then explodes
    quadratically. Grouping identical sets first makes the LSH join see
    one row per distinct set; the quadratic moves to the OUTPUT
    expansion, which only exists if the caller demands explicit pairs
    (cluster consumers take ``neardup_cluster_edges`` instead — linear).

    Returns ``(membership, rep_sids)``:

    - ``membership``: (``id_col``, ``__rep``) — every doc present in
      ``sids`` mapped to its group's min-id representative (singletons
      map to themselves).
    - ``rep_sids``: ``sids`` restricted to representatives.

    Group fingerprint = order-independent double hash of the set:
    (count, Σ pmod(xxhash64(sid), p₁), Σ pmod(xxhash64(seed', sid), p₂))
    over the substring-dedup Mersenne-scale primes — map-side
    combinable partial aggregates, no per-doc array materialization,
    and ANSI-safe (each term < 2³¹, so a doc needs > 2³² distinct
    shingles before the bigint sum can overflow). Two independent
    ~2³¹ sums + the cardinality make accidental collisions negligible
    (~2⁻⁶² per pair of distinct sets); same double-hash identity
    convention as the substring-dedup window keys
    (``_SUBDUP_HASHES``).

    TRADE-OFF (unverified merge): a fingerprint collision — two
    DISTINCT shingle sets agreeing on cardinality and both mod-2³¹
    hash sums — silently merges the docs as exact duplicates with no
    downstream Jaccard check (unlike the LSH candidate flow, where
    every candidate pair is exact-verified). The ~2⁻⁶² per-pair odds
    make this a non-event in practice, but the failure mode is
    invisible; audit runs can pass ``verify=True`` to exact-compare
    every non-singleton member's set against its representative's
    (one extra join over the doc×shingle relation + an eager count;
    raises ``ValueError`` on any mismatch).

    INPUT CONTRACT: ``sids`` rows should be distinct, non-NULL per
    (id, sid) — true for the ``token_ids`` / ``token_ids_hashed``
    producers and the stored index. With duplicate rows the row-count
    term of the fingerprint counts multiplicity, so two docs with the
    same SET but different duplication patterns land in different
    groups (a missed merge, never a wrong merge), and the Jaccard
    verification, which groups each candidate doc's rows into one sid
    array (``_verify_jaccard_pairs``), would count them in the array
    sizes but once in the intersection. The verify path is robust to
    duplicates either way: it checks one-sided containment plus
    per-group DISTINCT-sid cardinality, which together imply set
    equality regardless of row multiplicity."""
    fp = sids.groupBy(id_col).agg(*_fingerprint_aggs())
    membership = _membership_from_fingerprints(fp, id_col)
    reps = membership.filter(F.col(id_col) == F.col("__rep")).select(id_col)
    rep_sids = sids.join(reps, id_col, "left_semi")
    if verify:
        # member ⊆ rep (containment is multiplicity-blind) AND equal
        # DISTINCT cardinality ⇒ set equality — sound even if the
        # caller's relation carries duplicate (id, sid) rows, where
        # the fingerprint's raw row count alone would not be
        nonreps = membership.filter(F.col(id_col) != F.col("__rep"))
        mem = sids.join(nonreps, id_col).select(id_col, "__rep", "sid")
        rep_side = sids.select(
            F.col(id_col).alias("__rep"), F.col("sid")
        )
        not_contained = (
            mem.join(rep_side, ["__rep", "sid"], "left_anti")
            .select(id_col)
        )
        dcnt = sids.groupBy(id_col).agg(
            F.count_distinct("sid").alias("__n")
        )
        size_mismatch = (
            nonreps.join(dcnt, id_col)
            .join(
                dcnt.select(
                    F.col(id_col).alias("__rep"), F.col("__n").alias("__rn")
                ),
                "__rep",
            )
            .filter(F.col("__n") != F.col("__rn"))
            .select(id_col)
        )
        bad = not_contained.unionByName(size_mismatch).distinct()
        n_bad = bad.count()
        if n_bad:
            sample = [r[0] for r in bad.limit(5).collect()]
            raise ValueError(
                "collapse_exact_sets fingerprint collision: "
                f"{n_bad} doc(s) grouped with a representative whose "
                f"shingle set differs (sample ids: {sample})"
            )
    return membership, rep_sids


def expand_collapsed_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    id_col: str = "doc_id",
    value_col: str = "jaccard",
    within_value: float = 1.0,
) -> DataFrame:
    """Inverse of the collapse for the PAIRS api: representative-level
    (id_a, id_b, ``value_col``) back to all-member pairs. Within-group
    pairs carry ``within_value`` (identical sets: jaccard 1.0 /
    hamming 0); cross-group pairs inherit their reps' value (members
    have exactly their rep's set, so any set-derived similarity
    factors through the rep). Quadratic in group sizes BY OUTPUT SPEC
    — n identical docs genuinely have n·(n-1)/2 qualifying pairs;
    cluster consumers should use ``neardup_cluster_edges`` instead."""
    vtype = dict(rep_pairs.dtypes)[value_col]
    ma = membership.select("__rep", F.col(id_col).alias("id_a"))
    mb = membership.select("__rep", F.col(id_col).alias("id_b"))
    within = (
        ma.join(mb, "__rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.lit(within_value).cast(vtype).alias(value_col),
        )
    )
    # LEFT joins: a pair endpoint absent from ``membership`` (e.g. an
    # already-indexed doc in the incremental flow, where only the NEW
    # side was collapsed) passes through as its own singleton
    cross = (
        rep_pairs
        .join(
            membership.select(
                F.col("__rep").alias("id_a"), F.col(id_col).alias("__ma")
            ),
            "id_a",
            "left",
        )
        .join(
            membership.select(
                F.col("__rep").alias("id_b"), F.col(id_col).alias("__mb")
            ),
            "id_b",
            "left",
        )
        .select(
            F.least(
                F.coalesce("__ma", F.col("id_a")),
                F.coalesce("__mb", F.col("id_b")),
            ).alias("id_a"),
            F.greatest(
                F.coalesce("__ma", F.col("id_a")),
                F.coalesce("__mb", F.col("id_b")),
            ).alias("id_b"),
            value_col,
        )
    )
    return within.unionByName(cross)


def neardup_cluster_edges(
    rep_pairs: DataFrame, membership: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """LINEAR edge list whose connected components equal those of the
    fully expanded pair list: rep–rep edges plus member→rep star edges
    (a star connects exactly what the clique would). Feed straight to
    ``cluster_and_keep``/``connected_components`` — the 100 TB cluster
    path never materializes within-group cliques."""
    stars = membership.filter(F.col(id_col) != F.col("__rep")).select(
        F.col(id_col).alias("id_a"), F.col("__rep").alias("id_b")
    )
    return rep_pairs.select("id_a", "id_b").unionByName(stars)


def _fingerprint_aggs() -> list:
    """The order-independent exact-set fingerprint as AGGREGATES
    (count + two seeded mod-reduced hash sums — see
    ``collapse_exact_sets`` for the identity argument), so minhash
    flows can compute it INSIDE the signature groupBy: the collapse
    then costs one small per-doc groupBy instead of a second full pass
    over the doc×shingle relation (measured +~30 s on the x6 gate row
    at sf0.1 before fusing)."""
    (_, p1), (_, p2) = _SUBDUP_HASHES
    return [
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.pmod(F.xxhash64("sid"), F.lit(p1))).alias("__s1"),
        F.sum(
            F.pmod(F.xxhash64(F.lit(0x9E3779B9), "sid"), F.lit(p2))
        ).alias("__s2"),
    ]


def _membership_from_fingerprints(fp: DataFrame, id_col: str) -> DataFrame:
    """(id_col, __rep) from any frame carrying the __n/__s1/__s2
    fingerprint columns — min-id representative per identical-set
    group."""
    groups = fp.groupBy("__n", "__s1", "__s2").agg(
        F.min(id_col).alias("__rep")
    )
    return fp.join(groups, ["__n", "__s1", "__s2"]).select(id_col, "__rep")


def minhash_lsh_collapsed(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    doc_sids: DataFrame | None = None,
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The collapsed LSH pipeline's RAW outputs ``(rep_pairs,
    membership)`` for cluster consumers: representative-level verified
    pairs (id_a, id_b, jaccard) plus the doc→representative map.
    Compose with ``neardup_cluster_edges`` for a linear
    ``cluster_and_keep`` edge list, or ``expand_collapsed_pairs`` for
    the full pair relation (what ``minhash_lsh_dedup(collapse_exact=
    True)`` returns).

    Pass shape: ONE aggregation over the doc×shingle relation computes
    the minhash signatures, the exact-set fingerprint
    (``_fingerprint_aggs``) AND each doc's shingle-id array
    (``_sid_list``), checkpointed as one row per doc. Everything after
    it — the collapse, the LSH bucket join and the exact-Jaccard
    verification of the representatives' candidate pairs — reads that
    per-doc frame, so the doc×shingle relation is read by this one pass
    only (it is not cached here for that reason). ``doc_sids`` must hold
    distinct, non-NULL (id, sid) rows, as ``token_ids`` gives them (see
    ``collapse_exact_sets``); without it shingles are numbered by hash
    (``token_ids_hashed``; ``tokens_col`` feeds it), the ids over which
    ``MINHASH_PARAMS`` permutes (see ``minhash_signatures``)."""
    sids = (
        doc_sids
        if doc_sids is not None
        else token_ids_hashed(df, id_col, text_col, n, tokens_col=tokens_col)
    )
    aggs = [
        F.min((F.col("sid") * a + b) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    ] + _fingerprint_aggs() + [_sid_list()]
    sigfp = checkpoint(sids.groupBy(id_col).agg(*aggs))
    membership = _membership_from_fingerprints(
        sigfp.select(id_col, "__n", "__s1", "__s2"), id_col
    )
    reps = membership.filter(F.col(id_col) == F.col("__rep")).select(id_col)
    rep_rows = sigfp.join(reps, id_col, "left_semi")
    cand = lsh_candidate_pairs(
        rep_rows.select(id_col, *[f"mh{i}" for i in range(num_hashes)]),
        id_col, num_hashes, bands,
    )
    rep_pairs = _verify_sid_lists(
        cand, rep_rows.select(id_col, "__sids"), id_col, threshold
    )
    return rep_pairs, membership


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    doc_sids: DataFrame | None = None,
    tokens_col: str | None = None,
    collapse_exact: bool = False,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → minhash → banded
    buckets → candidate pairs → exact-Jaccard verification ≥ threshold.
    Returns (id_a, id_b, jaccard).

    ``doc_sids`` (optional): a pre-built ``token_ids`` frame, so one
    cached shingle-id relation can feed several dedup pipelines
    (minhash + simhash share it in the gate suite) instead of each
    re-running the vocabulary sort. ``tokens_col``: pre-built token
    array for the internal ``token_ids`` (see ``text.tokens_expr``);
    ignored when ``doc_sids`` is given."""
    sids = (
        doc_sids
        if doc_sids is not None
        else persist(
            token_ids(df, id_col, text_col, n, tokens_col=tokens_col),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
    )
    if collapse_exact:
        # hot-bucket guard (see collapse_exact_sets): LSH runs over one
        # representative per distinct shingle set; output pairs are
        # IDENTICAL to the uncollapsed run (identical sets share
        # signatures, so candidacy and jaccard both factor through the
        # rep) — but the bucket self-join never sees a duplicate-heavy
        # clique
        rep_pairs, membership = minhash_lsh_collapsed(
            df, threshold, id_col, text_col, n, num_hashes, bands,
            doc_sids=sids,
        )
        return expand_collapsed_pairs(rep_pairs, membership, id_col)
    # cache the 1-row/doc signature frame (r13, same rule as the simhash
    # path below and incremental_neardup): the bucket self-join puts the
    # banded relation on BOTH sides — when the planner broadcasts one
    # side, the broadcast build re-executes the whole signature
    # aggregation; cached, both sides read the materialized rows.
    sigs = persist(
        minhash_signatures(sids, id_col, num_hashes),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    return _verify_jaccard_pairs(cand, sids, id_col, threshold)


# Default = the SCALE form: 60 bits / 4 bands = 2^15 buckets per band.
# The narrow 16-bit LCG shape (SIMHASH_ORACLE_BITS, bit_hash="lcg") exists
# ONLY so the DuckDB gate oracle can replay the bit hash in ANSI SQL — it
# has 16 buckets/band, so the bucket self-join goes quadratic past ~10^4
# docs (measured 562x wall at 100x docs in the round-11 stress ledger).
# Call sites that need the oracle shape must opt in EXPLICITLY.
SIMHASH_BITS = 60
SIMHASH_ORACLE_BITS = 16
_SIMHASH_A = 1_103_515_245
_SIMHASH_B = 12_345


def simhash_signatures(
    doc_sids: DataFrame,
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    bit_hash: str = "xxhash",
) -> DataFrame:
    """SimHash over shingle ids: per bit j, majority vote of bit j of
    h(sid) across the doc's shingles; bit is 1 when ≥ half the
    shingles set it. One aggregation pass.

    ``bit_hash`` picks h:

    - ``"lcg"``: (a·sid + b) mod 2^bits — ANSI-SQL-replayable
      (the oracle path) but only fills ~log2(max_sid · a) low bits, so
      it is honest ONLY at small ``bits``; with dense dictionary ids
      the high bits are all zero and wide bands degenerate to one
      bucket. Opt-in for oracle replay (``bits=SIMHASH_ORACLE_BITS``).
    - ``"xxhash"`` (default): xxhash64(sid) — full 64-bit mixing, the
      SCALE path.
      Pick ``bits``/``bands`` so that 2^(bits/bands) ≫ corpus/target-
      occupancy: banded-bucket occupancy is ~n/2^(bits/bands), and the
      within-bucket self-join is quadratic in it (the round-11 100×
      ledger measured bits=16 going 354× on 100× docs for exactly this
      reason — 4-bit buckets). bits=60, bands=4 gives 32768 buckets
      per band.
    """
    if bit_hash == "lcg":
        if not 1 <= bits <= 62:
            raise ValueError(f"lcg bit_hash supports bits in [1,62], got {bits}")
        h = (F.col("sid") * _SIMHASH_A + _SIMHASH_B) % (2 ** bits)
    elif bit_hash == "xxhash":
        if not 1 <= bits <= 63:
            raise ValueError(
                f"xxhash bit_hash supports bits in [1,63], got {bits}"
            )
        # arithmetic shiftright + &1 extracts bit j correctly from the
        # signed two's-complement value for every j < 63
        h = F.xxhash64("sid")
    else:
        raise ValueError(f"bit_hash must be 'lcg' or 'xxhash', got {bit_hash!r}")
    n = F.count(F.lit(1))
    bit_terms = []
    for j in range(bits):
        ones = F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)))
        bit_terms.append(
            F.when(ones * 2 >= n, F.lit(2 ** j)).otherwise(F.lit(0))
        )
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return doc_sids.groupBy(id_col).agg(total.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    doc_sids: DataFrame | None = None,
    collapse_exact: bool = False,
    bit_hash: str = "xxhash",
) -> DataFrame:
    """Pairs within hamming distance ≤ max_hamming, found via banded
    buckets then exact popcount verification. Pigeonhole completeness:
    a pair differing in ≤ max_hamming bits must agree exactly on at
    least one band when ``bands > max_hamming`` — asserted here rather
    than assumed. ``doc_sids``: see ``minhash_lsh_dedup``.
    ``collapse_exact``: the same hot-bucket guard as
    ``minhash_lsh_dedup`` — identical shingle sets share a simhash, so
    duplicate-heavy corpora explode the bucket self-join; reps carry
    the LSH, within-group pairs expand back at hamming 0.
    ``bits``/``bit_hash``: signature width and per-bit hash (see
    ``simhash_signatures``) — the default is the SCALE form
    (``bits=60, bit_hash="xxhash"``: 2^15 buckets per band at
    bands=4); the SQL-replayable oracle shape
    (``bits=SIMHASH_ORACLE_BITS, bit_hash="lcg"``) is opt-in and is
    quadratic past ~10⁴ docs (only 2^(bits/bands) buckets per band —
    measured 562× wall at 100× docs)."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for complete candidate generation"
        )
    sids = doc_sids if doc_sids is not None else token_ids(df, id_col, text_col, n)
    if collapse_exact:
        membership, rep_sids = collapse_exact_sets(sids, id_col)
        rep_pairs = simhash_neardup_pairs(
            df, max_hamming, id_col, text_col, n, bits, bands,
            doc_sids=rep_sids, bit_hash=bit_hash,
        )
        return expand_collapsed_pairs(
            rep_pairs, membership, id_col,
            value_col="hamming", within_value=0,
        )
    sigs = persist(
        simhash_signatures(sids, id_col, bits, bit_hash=bit_hash),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    band_bits = bits // bands
    # one posexplode pass instead of a bands-way union over the cached
    # signature frame (r13 — same rewrite as the minhash ``_banded``):
    # the union form scheduled one cache scan per band per join side
    bucketed = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), j * band_bits)
                    .bitwiseAND(F.lit(2 ** band_bits - 1))
                    for j in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bucketed.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bucket")
    b = bucketed.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def bow_exact_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    tokens_col: str | None = None) -> DataFrame:
    """Convenience: exact dedup on the bag-of-words signature.
    ``tokens_col``: pre-built token array (see ``text.tokens_expr``)."""
    return exact_duplicates(
        df, bow_signature_of(tokens_expr(text_col, tokens_col)), id_col
    )


def contaminated_docs(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark-contamination detection: for every training document,
    count word n-gram collisions with an evaluation/benchmark corpus.

    Returns one row per CONTAMINATED training doc:
    (id, n_shared_ngrams = distinct n-grams also found anywhere in the
    eval set, n_eval_docs = distinct eval docs sharing ≥ 1 n-gram).
    Docs with zero overlap are absent — filter/anti-join downstream to
    quarantine or drop.

    Scale shape: both sides reduce to distinct (doc, shingle) pairs;
    the overlap is one equi-join on the shingle key + one groupBy on
    the training doc. Eval/benchmark sets are typically tiny next to
    a 100 TB training corpus, so Catalyst broadcasts the eval side
    (AQE decides from measured size — no hint needed); the train side
    is never shuffled except by the final doc-key aggregation.
    """
    tr = doc_shingles(train, id_col, text_col, n, tokens_col=tokens_col)
    ev = doc_shingles(eval_df, id_col, text_col, n).select(
        F.col(id_col).alias("__eval_id"), "shingle"
    )
    return (
        tr.join(ev, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("__eval_id").alias("n_eval_docs"),
        )
    )


#: Most edges (as given, before symmetrizing) that ``connected_components``
#: resolves on the driver: one bounded Arrow collect of two longs an edge
#: (16 MB at the bound) and a numpy label propagation. A longer edge list
#: runs the distributed loop.
LOCAL_CC_MAX_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list: the last
    stage of a near-dedup pipeline, turning pairwise matches into
    dup *clusters* so one canonical doc per cluster survives.

    Returns (node, component) where component = min node id in the
    node's component, for every node that appears in an edge.

    Up to ``LOCAL_CC_MAX_EDGES`` edges, one bounded collect of the edge
    list and min-label propagation with pointer jumping in numpy
    (``_local_components``); the result is a local relation. The
    loop below costs a persist, a checkpoint and a few jobs per
    iteration whatever the edge list's size, and the ``curate_corpus``
    benchmark's seed-1 corpus clusters 78 edges. The edge list is
    persisted before the collect, so ``pairs``' plan (typically the
    whole LSH and verification) runs once on either side of the
    bound: above it the loop reads that cache. The probe's price there
    is one shuffle of at most ``LOCAL_CC_MAX_EDGES + 1`` edges per
    partition and their collect.

    Above the bound: distributed min-label propagation with pointer
    jumping, the DataFrame rendering of the MapReduce CC algorithms
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14):

    - each iteration is two shuffles (neighbor-min groupBy + label
      self-join), both on node keys — no driver state, no collect;
    - pointer jumping (label <- label(label)) contracts long paths so
      convergence is O(log diameter) iterations, not O(diameter);
    - labels only decrease, so SUM(label) is a strictly decreasing
      convergence witness — one cheap aggregate per iteration instead
      of a change-detection join;
    - each iteration ``localCheckpoint``s the label frame: lineage
      stays O(1) across iterations (the repo's coordinate-descent
      persist discipline, reference RandomEffectDataset.scala:279-341
      eager-materialization pattern).

    Dup clusters are dense (diameter is tiny), so in practice the loop
    runs 2-3 iterations; ``max_iter`` is a hard stop against
    pathological chain graphs, raising rather than silently returning
    partial components. It bounds the loop only; the local path always
    converges.

    Both paths give the same labels, NULL endpoints included: a NULL
    endpoint never joins two nodes, and the NULL node itself takes the
    component of its smallest non-NULL neighbour (NULL if it has none).
    """
    # SERIALIZED caching throughout: edge and label frames are one row
    # per edge/node — at corpus scale, deserialized storage means
    # billions of per-row objects (the GC-pressure failure mode the
    # round-8 dictionary stress hit); serialized blocks are a few big
    # buffers, and the per-iteration reads of (long, long) rows
    # deserialize for pennies.
    e = persist(
        pairs.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
    )
    head = e.limit(LOCAL_CC_MAX_EDGES + 1).toArrow()
    if head.num_rows <= LOCAL_CC_MAX_EDGES:
        release(e)
        return _local_components(pairs.sparkSession, head)
    del head
    edges = persist(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
    )
    from pyspark.sql import Observation

    # init: label(u) = min(u, min neighbor) — one propagation step for
    # free. Its convergence-witness sum rides the init checkpoint job
    # (r13): dup clusters are typically stars/cliques whose init labels
    # ARE the fixpoint, and seeding prev_sum here lets the loop confirm
    # convergence after ONE iteration instead of needing two samples
    # from inside the loop.
    init_obs = Observation()
    labels = checkpoint(
        edges.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select("u", F.least(F.col("u"), F.col("m")).alias("label"))
        .observe(
            init_obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        )
    )
    prev_sum = init_obs.get["s"]
    # the init job filled the edge cache; nothing reads e again
    release(e)
    converged = False
    for _ in range(max_iter):
        # neighbor-min via the SYMMETRIC edge list joined on its cached
        # partitioning key (r13, guide §2.2): labels attach to the "u"
        # side (edges are hash-partitioned on u — shuffle-free on the
        # edge side, only the node-sized labels move) and the min
        # aggregates by "v"; by symmetry min{label(w) : (w,v) ∈ E} is
        # exactly the old min-over-neighbors of v. The previous join on
        # "v" re-shuffled the full edge relation every iteration in the
        # shuffled-join regime (labels too big to broadcast — the corpus
        # case); under a broadcast join both forms leave edges in place
        # and an interleaved A/B measured them equal.
        nbr = (
            edges.join(labels, "u")
            .groupBy("v")
            .agg(F.min("label").alias("nl"))
            .select(F.col("v").alias("u"), "nl")
        )
        stepped = labels.join(nbr, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                "label"
            ),
        )
        parent = stepped.select(
            F.col("u").alias("p"), F.col("label").alias("pl")
        )
        jumped = (
            stepped.join(parent, stepped["label"] == parent["p"], "left")
            .select(
                stepped["u"],
                F.least(
                    stepped["label"], F.coalesce(parent["pl"], stepped["label"])
                ).alias("label"),
            )
        )
        # labels are monotone non-increasing: unchanged sum == fixpoint.
        # The witness sum rides the checkpoint's own materialization job
        # via observe() (CollectMetrics is row-transparent — checkpointed
        # rows and schema are identical) instead of a separate aggregate
        # job per iteration: one eager job per iteration, not two (r13,
        # guide §1.2 — same rows read, half the actions).
        obs = Observation()
        new_labels = checkpoint(
            jumped.observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            )
        )
        s = obs.get["s"]
        # superseded: new_labels is materialized and no longer reads it
        release(labels)
        labels = new_labels
        # elementwise non-increasing => equal sums mean a fixpoint
        # (both None on an empty edge list: converged trivially)
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    release(edges)
    if not converged:
        release(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    return labels.select(
        F.col("u").alias("node"), F.col("label").alias("component")
    )


def _local_components(spark, edges) -> DataFrame:
    """``connected_components`` of a collected (u, v) Arrow table.

    Nodes are numbered in sorted order, so the smallest number in a
    component is its smallest id. Each round hooks the root of every
    edge's larger-rooted end onto the smaller root (``np.minimum.at``),
    then pointer jumping points every node at its root; a round that
    changes no root is the fixpoint, where each component has one root,
    its minimum. On a chain of n nodes the first round hooks every node
    onto its smaller neighbour, ~log2(n) jumps finish it, and a second
    round confirms the fixpoint.
    """
    u_ok, v_ok = (edges.column(c).is_valid().to_numpy(zero_copy_only=False)
                  for c in ("u", "v"))
    u, v = (edges.column(c).fill_null(0).to_numpy() for c in ("u", "v"))
    nodes = np.unique(np.concatenate([u[u_ok], v[v_ok]]))
    both = u_ok & v_ok
    a, b = np.searchsorted(nodes, u[both]), np.searchsorted(nodes, v[both])
    label = np.arange(len(nodes))
    while True:
        new = label.copy()
        low = np.minimum(label[a], label[b])
        np.minimum.at(new, label[a], low)
        np.minimum.at(new, label[b], low)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            break
        label = new
    node = pa.array(nodes, pa.int64())
    component = pa.array(nodes[label], pa.int64())
    if not both.all():
        # the distributed loop's NULL node: present as an edge end, it
        # joins nothing, and pointer jumping gives it the component of
        # its init label, the smallest non-NULL neighbour
        partners = np.concatenate([v[~u_ok & v_ok], u[u_ok & ~v_ok]])
        null_comp = (
            nodes[label[np.searchsorted(nodes, partners.min())]]
            if len(partners) else None
        )
        node = pa.concat_arrays([node, pa.array([None], pa.int64())])
        component = pa.concat_arrays(
            [component, pa.array([null_comp], pa.int64())]
        )
    return spark.createDataFrame(
        pa.table({"node": node, "component": component}),
        "node long, component long",
    )


def cluster_and_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Annotate every doc with its dup-cluster id and a keep flag.

    Docs in no pair form singleton clusters (cluster_id = own id,
    kept); within a cluster the min-id doc is the canonical survivor —
    the same keep rule as ``exact_duplicates``.

    The keeper is the min id among the cluster's docs PRESENT in
    ``docs`` (one groupBy on cluster_id), not the raw component label:
    if ``pairs`` references ids absent from ``docs`` (a stale edge
    list) the phantom id can be the component minimum, and labeling it
    the keeper would silently drop the whole cluster under
    ``filter(is_keep)``. When pair ids ⊆ doc ids the two rules agree
    exactly."""
    cc = connected_components(pairs, src, dst).withColumnRenamed("node", id_col)
    labeled = docs.join(cc, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(id_col))
    )
    keepers = labeled.groupBy("cluster_id").agg(
        F.min(id_col).alias("__keep_id")
    )
    return (
        labeled.join(keepers, "cluster_id")
        .withColumn("is_keep", F.col(id_col) == F.col("__keep_id"))
        .drop("component", "__keep_id")
    )


# ------------------------------------------------------- substring dedup

# Double rolling-hash parameters for the scale path: two independent
# (base, modulus) pairs over ~2^31 primes; identity of a window is the
# (h1, h2) pair — 2^62 key space, collision-free in practice and
# verified against the exact string strategy in tests.
_SUBDUP_HASHES: list[tuple[int, int]] = [
    (1_000_003, 2_147_483_647),  # Mersenne 2^31-1
    (999_983, 2_147_483_629),
]


def _window_keys_string(toks: DataFrame, n: int) -> DataFrame:
    """(id, pos, wkey): every length-n token window as its joined
    string. Exact and ANSI-replayable; shuffles ~n tokens per window."""
    return toks.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - n),
                lambda i: F.concat_ws(
                    " ", F.slice("__toks", i + 1, n)
                ),
            )
        ).alias("pos", "wkey"),
    )


def _window_keys_rolling(toks: DataFrame, n: int) -> DataFrame:
    """(id, pos, wkey): length-n windows keyed by a double polynomial
    hash Σ h(tok_{pos+j})·B^{n-1-j} mod M.

    Each token row fans out to its n containing windows with a
    LITERAL power-of-B coefficient, and the per-window modular sum
    folds in the map-side partial aggregate — the explode never hits
    the shuffle. Wire cost per window: 16 bytes of hashes vs ~n
    joined tokens for the string strategy (~10-20x less). This is the
    100 TB path; exactness vs the string strategy is a regression
    test, and callers needing a proof can re-verify flagged groups."""
    powers = [
        [pow(b, k, m) for k in range(n - 1, -1, -1)] for b, m in _SUBDUP_HASHES
    ]
    tok_rows = toks.select(
        "__id",
        F.posexplode("__toks").alias("idx", "tok"),
        F.size("__toks").alias("__nt"),
    ).select(
        "__id",
        "idx",
        "__nt",
        *[
            F.pmod(F.xxhash64(F.lit(hi), "tok"), F.lit(m)).alias(f"h{hi}")
            for hi, (_, m) in enumerate(_SUBDUP_HASHES)
        ],
    )
    # token at idx contributes h·B^{n-1-j} to window starting at idx-j
    contrib = tok_rows.select(
        "__id",
        "__nt",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n - 1)),
                    lambda j: F.struct(
                        (F.col("idx") - j).alias("pos"),
                        *[
                            F.element_at(
                                F.array([F.lit(p) for p in powers[hi]]),
                                (j + 1).cast("int"),
                            ).alias(f"p{hi}")
                            for hi in range(len(_SUBDUP_HASHES))
                        ],
                    ),
                ),
                lambda s: (s["pos"] >= 0) & (s["pos"] <= F.col("__nt") - n),
            )
        ).alias("c"),
        *[F.col(f"h{hi}") for hi in range(len(_SUBDUP_HASHES))],
    )
    agg = contrib.groupBy("__id", F.col("c.pos").alias("pos")).agg(
        *[
            F.pmod(
                F.sum(
                    F.pmod(
                        F.col(f"h{hi}") * F.col(f"c.p{hi}"),
                        F.lit(_SUBDUP_HASHES[hi][1]),
                    )
                ),
                F.lit(_SUBDUP_HASHES[hi][1]),
            ).alias(f"w{hi}")
            for hi in range(len(_SUBDUP_HASHES))
        ]
    )
    return agg.select(
        "__id", "pos", F.concat_ws(":", "w0", "w1").alias("wkey")
    )


def duplicated_window_spans(
    df: DataFrame,
    n: int = 10,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "string",
) -> DataFrame:
    """Exact substring-level dedup at token granularity (the
    dedup-training-data pattern of Lee et al. 2022, arXiv:2107.06499,
    done with shuffles instead of a suffix array): find every length-n
    token window occurring >= min_df times corpus-wide and return each
    doc's duplicated regions merged into maximal spans.

    Returns (id, span_start, span_end, n_windows): token-coordinate
    half-open spans, overlapping/adjacent window hits coalesced
    (gaps-and-islands over a per-doc ordered window — partitioned by
    doc, no global sort).

    strategy="string" groups windows by their joined token string —
    exact by construction, ANSI-replayable (the oracle path).
    strategy="rolling" groups by a double rolling hash — same spans,
    ~10-20x less shuffle; use at scale.
    """
    if strategy not in ("string", "rolling"):
        raise ValueError(f"unknown strategy {strategy!r}")
    toks = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    keyed = (
        _window_keys_string(toks, n)
        if strategy == "string"
        else _window_keys_rolling(toks, n)
    )
    dup_keys = (
        keyed.groupBy("wkey")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("wkey")
    )
    hits = keyed.join(dup_keys, "wkey", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "__new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn("__island", F.sum("__new").over(w))
    return (
        islands.groupBy(F.col("__id").alias(id_col), "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__island")
    )


def strip_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every token covered by a duplicated span, keeping the
    first (canonical) occurrence corpus-wide is NOT attempted — like
    Lee et al.'s self-deduplication, all copies of a duplicated run
    are dropped. Spans collect per doc (bounded by doc length), then a
    single array filter keeps uncovered tokens. Returns
    (id, clean_text, n_removed_tokens)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = tokens(F.col(text_col))
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter(toks, lambda t, i: ~covered(i))
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            "__kept",
            F.when(F.col("__spans").isNull(), toks).otherwise(kept),
        )
        .select(
            id_col,
            F.array_join("__kept", " ").alias("clean_text"),
            (F.size(toks) - F.size("__kept")).alias("n_removed_tokens"),
        )
    )


# ------------------------------------------------- incremental near-dedup


def token_ids_hashed(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 1,
    tokens_col: str | None = None,
) -> DataFrame:
    """(doc, sid) with ``sid = pmod(xxhash64(shingle), MINHASH_PRIME)``
    — the scale/incremental twin of ``token_ids``: no vocabulary sort,
    no dictionary state, and (crucially for incremental dedup) the id
    of a shingle is STABLE across batches, so signatures computed today
    join against signatures computed last month. The trade is losing
    SQL-portable dense ids (the gate queries keep using ``token_ids``)
    and a ~n²/2p birthday collision rate in the prime field —
    negligible overcount of intersections below ~10M distinct shingles
    per verification pair's union."""
    sh = doc_shingles(df, id_col, text_col, n, tokens_col=tokens_col)
    return sh.select(
        id_col, F.pmod(F.xxhash64("shingle"), F.lit(MINHASH_PRIME)).alias("sid")
    ).distinct()


def save_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = 16,
    sid_fn=None,
) -> None:
    """Materialize the incremental-dedup state for a corpus:
    ``{path}/doc_sids`` (hashed shingle sets, for exact-Jaccard
    verification of future cross pairs) and ``{path}/signatures``
    (minhash rows, for LSH banding).

    ``sid_fn`` (optional): shingle-id relation builder with the
    ``token_ids_hashed`` signature ``(docs, id_col, text_col, n) ->
    (id_col, sid)``; default ``token_ids_hashed`` (corpus-independent
    hashed ids — the production incremental flow). The correctness
    gate injects dense SQL-portable ids here so the whole
    index→increment→resolution flow replays exactly in the DuckDB
    oracle; every writer and reader of ONE index must use the same
    ``sid_fn`` (``params.json`` guards the numeric knobs, not this).

    Canonical layout: every writer of an index — this batch bootstrap
    AND the streaming increments (``streaming.curation``) — stages its
    rows under a ``batch=<id>`` subdirectory of each relation, so
    parquet partition discovery always yields a ``batch`` column and
    the stream's replay-staging overwrites compose with a batch-built
    index instead of breaking discovery with mixed flat/partitioned
    files. The batch bootstrap uses the reserved id ``batch=-1``
    (stream batch ids are >= 0). ``params.json`` is written LAST — it
    doubles as the bootstrap-complete commit marker (a crash before it
    leaves a rebuildable directory, never a half-index that passes an
    existence check)."""
    sids = (sid_fn or token_ids_hashed)(docs, id_col, text_col, n)
    sids.write.mode("overwrite").parquet(
        f"{path}/doc_sids/batch={BOOTSTRAP_BATCH_ID}"
    )
    spark = docs.sparkSession
    saved = spark.read.parquet(f"{path}/doc_sids")
    minhash_signatures(saved, id_col, num_hashes).write.mode(
        "overwrite"
    ).parquet(f"{path}/signatures/batch={BOOTSTRAP_BATCH_ID}")
    write_index_params(spark, path, n=n, num_hashes=num_hashes)


#: reserved ``batch=`` partition id for batch-built (non-stream) index
#: bootstraps; stream micro-batch ids are always >= 0
BOOTSTRAP_BATCH_ID = -1


INDEX_PARAMS_FILE = "params.json"


def write_index_params(spark, path: str, **params) -> None:
    """Persist the index's construction parameters next to its
    relations. Signatures computed with different shingle n or hash
    counts barely intersect — a parameter-mismatched increment finds
    almost no duplicates while reporting success — so every index
    carries a manifest and every increment validates against it."""
    from photon_ml_spark.sources.model_io import _hadoop_write_text

    _hadoop_write_text(
        spark, f"{path}/{INDEX_PARAMS_FILE}", json.dumps(params, sort_keys=True)
    )


def validate_index_params(spark, path: str, **params) -> None:
    """Raise when the stored index was built with different parameters
    than this increment is using. Pre-manifest indexes (no params.json)
    are accepted as-is — nothing to check. Only the file's ABSENCE is
    tolerated: a transient read/permission/parse failure propagates,
    because swallowing it would silently disable the mismatch guard and
    revert to the no-duplicates-found failure mode it exists to stop."""
    from photon_ml_spark.sources.model_io import (
        _hadoop_exists,
        _hadoop_read_text,
    )

    if not _hadoop_exists(spark, f"{path}/{INDEX_PARAMS_FILE}"):
        return
    stored = json.loads(
        _hadoop_read_text(spark, f"{path}/{INDEX_PARAMS_FILE}")
    )
    bad = {
        k: (stored[k], v)
        for k, v in params.items()
        if k in stored and stored[k] != v
    }
    if bad:
        detail = ", ".join(
            f"{k}: index={s} vs increment={v}" for k, (s, v) in bad.items()
        )
        raise ValueError(
            "minhash index parameter mismatch — an increment run with "
            "different shingle/signature parameters would silently "
            f"miss duplicates ({detail})"
        )


def incremental_neardup(
    new_docs: DataFrame,
    index_path: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    num_hashes: int = 16,
    bands: int = 4,
    new_sids: DataFrame | None = None,
    old_sids: DataFrame | None = None,
    old_sigs: DataFrame | None = None,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs introduced by a NEW batch against an indexed
    corpus — the daily-increment production flow: never recompute the
    existing corpus, just LSH-join the batch's signatures against the
    stored index and exact-verify the candidates.

    ``collapse_exact``: hot-bucket guard on the NEW side — a
    boilerplate-heavy batch collapses to one representative per
    distinct shingle set before the bucket join (see
    ``collapse_exact_sets``); pairs expand back afterwards (indexed
    ids pass through the expansion as singletons), so the output is
    identical.

    ``new_sids`` (optional): a pre-built ``token_ids_hashed`` frame the
    caller persists and reuses (e.g. for the index-append write after
    resolution) — the ``doc_sids`` pattern; when omitted one is cached
    here and left to LRU eviction, fine for a one-shot batch but a
    leak-per-trigger in a streaming loop.

    ``old_sids``/``old_sigs`` (optional): override the index state
    relations instead of reading them from ``index_path`` — the
    replay path of ``streaming.curation`` passes the stored relations
    with the current batch's own staging partition filtered out, so a
    re-run sees exactly the pre-batch state.

    Returns (id_a, id_b, jaccard) for every pair with Jaccard ≥
    ``threshold`` where at least one side is a new doc (new-old and
    new-new; old-old pairs were resolved when the index was built).
    Restricting one join side to the batch keeps the bucket join
    O(|batch| · bucket-occupancy): the index side is touched only on
    buckets the batch actually hits — with the signature table
    partitioned on the bucket key, that is an index lookup, not a
    corpus scan. New batch ids must be disjoint from indexed ids
    (raises otherwise — colliding ids would silently merge shingle
    sets in verification).

    After resolving, extend the index by writing the batch's
    ``token_ids_hashed`` / ``minhash_signatures`` rows alongside the
    stored relations (append mode) so the next increment sees them.
    """
    spark = new_docs.sparkSession
    validate_index_params(
        spark, index_path, n=n, num_hashes=num_hashes
    )
    # column-pinned reads: the stored relations may carry extra layout
    # columns (e.g. a batch=N staging partition) — select exactly the
    # logical schema so unions line up
    if old_sids is None:
        old_sids = spark.read.parquet(f"{index_path}/doc_sids")
    old_sids = old_sids.select(id_col, "sid")
    if old_sigs is None:
        old_sigs = spark.read.parquet(f"{index_path}/signatures")
    old_sigs = old_sigs.select(
        id_col, *[f"mh{i}" for i in range(num_hashes)]
    )
    if new_sids is None:
        new_sids = persist(
            token_ids_hashed(new_docs, id_col, text_col, n),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
    new_sids = new_sids.select(id_col, "sid")
    # id-collision guard FUSED into the batch-signature checkpoint job
    # (r14, guide §1.2 — same rows read, half the eager actions): the
    # batch's 1-row/doc signature relation left-joins the index-side id
    # column and an observe() counts the matches while the checkpoint's
    # own materialization job runs — one eager job per batch where the
    # checkpoint + a separate semi-join/limit guard job ran before. The
    # signature aggregation happens pre-join (groupBy the batch's
    # doc×shingle relation), the index-id scan count is unchanged (one
    # per batch, the r13 examined-note's floor without a persisted id-
    # summary artifact), and every NEW id is checked — the join runs on
    # the pre-collapse 1-row/doc frame in both paths. mh values are
    # untouched by the left join (index ids are unique), so outputs are
    # identical.
    from pyspark.sql import Observation

    clash_obs = Observation()
    old_ids_flagged = old_sigs.select(id_col).withColumn(
        "__clash", F.lit(1)
    )

    def _guarded_ckpt(per_doc: DataFrame) -> DataFrame:
        return checkpoint(
            per_doc.join(old_ids_flagged, id_col, "left")
            .observe(clash_obs, F.count("__clash").alias("clashes")),
            eager=True,
        )

    membership = None
    if collapse_exact:
        # fused signature+fingerprint aggregation (one pass over the
        # batch's doc×shingle relation — see minhash_lsh_collapsed)
        aggs = [
            F.min((F.col("sid") * a + b) % MINHASH_PRIME).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
        ] + _fingerprint_aggs()
        sigfp = _guarded_ckpt(new_sids.groupBy(id_col).agg(*aggs))
        membership = _membership_from_fingerprints(
            sigfp.select(id_col, "__n", "__s1", "__s2"), id_col
        )
        reps = membership.filter(
            F.col(id_col) == F.col("__rep")
        ).select(id_col)
        new_sigs = sigfp.join(reps, id_col, "left_semi").select(
            id_col, *[f"mh{i}" for i in range(num_hashes)]
        )
        new_sids = new_sids.join(reps, id_col, "left_semi")
    else:
        # materialize the batch signatures once (1 row/doc — small):
        # the fused guard above and BOTH banded join branches consume
        # this relation, and unmaterialized each would re-run the
        # shingle semi-join + num_hashes-way aggregation from scratch
        # (r13; the ivf_topk_from_index count-becomes-the-
        # materialization pattern, guide §5 cache-on-reuse)
        new_sigs = _guarded_ckpt(
            minhash_signatures(new_sids, id_col, num_hashes)
        ).select(id_col, *[f"mh{i}" for i in range(num_hashes)])
    # cannot block: the eager checkpoint above already ran the observed plan
    if clash_obs.get["clashes"] > 0:
        raise ValueError(
            "incremental_neardup: new batch ids overlap the indexed "
            "corpus ids — re-key the batch before indexing"
        )

    all_b = _banded(
        old_sigs.unionByName(new_sigs), id_col, num_hashes, bands
    ).select(F.col(id_col).alias("id_a"), "band", "bucket")
    new_b = _banded(new_sigs, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_b"), "band", "bucket"
    )
    cand = (
        all_b.join(new_b, ["band", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    pairs = _verify_jaccard_pairs(
        cand, old_sids.unionByName(new_sids), id_col, threshold
    )
    if membership is not None:
        pairs = expand_collapsed_pairs(pairs, membership, id_col)
    return pairs


def drop_new_duplicates(
    new_docs: DataFrame,
    pairs: DataFrame,
    indexed_ids: DataFrame,
    id_col: str = "doc_id",
    validate_contract: bool = False,
) -> DataFrame:
    """Resolve an increment's pairs into surviving new docs: a new doc
    matching ANY indexed doc is dropped (the corpus copy wins —
    first-seen semantics, the batch analog of the streaming e5
    operator); among new-new clusters the canonical min-id keeper
    survives (``cluster_and_keep`` on the batch-internal edges).

    Contract (the ``incremental_neardup`` flow both call sites use):
    every pair endpoint is in ``indexed_ids`` ∪ ``new_docs`` ids, and
    the two are disjoint (the flow's clash guard raises otherwise) —
    so "endpoint ∈ indexed" ⟺ "endpoint ∉ batch". Membership is
    therefore tested against the BATCH-side ids (tiny, broadcastable)
    instead of semi/anti-joining the corpus-sized ``indexed_ids``
    relation four times: per streaming trigger that removes all four
    index-id scans from resolution, a saving that grows with corpus
    size (r13, guide §3.1). ``indexed_ids`` stays in the signature as
    the contract's explicit witness; on the fast path it is never
    scanned.

    ``validate_contract`` (r14, opt-in — it re-introduces one
    indexed_ids scan, which is the cost the fast path removes): raise
    if any pair endpoint is outside ``new_docs`` ∪ ``indexed_ids`` —
    an out-of-contract caller would otherwise get silently inverted
    membership (endpoint-not-in-batch misread as indexed). Use it when
    wiring a NEW caller; the incremental_neardup/streaming flows
    establish the contract structurally (their clash guard enforces
    disjointness and their pairs only ever reference batch ∪ index
    ids), so they leave it off."""
    if validate_contract:
        known = new_docs.select(F.col(id_col)).unionByName(
            indexed_ids.select(F.col(id_col).alias(id_col))
        )
        endpoints = pairs.select(F.col("id_a").alias(id_col)).unionByName(
            pairs.select(F.col("id_b").alias(id_col))
        )
        orphan = endpoints.join(known, id_col, "left_anti")
        if orphan.limit(1).count() > 0:
            raise ValueError(
                "drop_new_duplicates: pair endpoints outside new_docs ∪ "
                "indexed_ids — the batch-side membership contract does "
                "not hold for this caller"
            )
    new_ids = new_docs.select(F.col(id_col))
    a_new = new_ids.withColumnRenamed(id_col, "id_a")
    b_new = new_ids.withColumnRenamed(id_col, "id_b")
    hits_old = (
        pairs.join(a_new, "id_a", "left_anti")
        .select(F.col("id_b").alias(id_col))
        .unionByName(
            pairs.join(b_new, "id_b", "left_anti")
            .select(F.col("id_a").alias(id_col))
        )
        .distinct()
    )
    survivors = new_docs.join(hits_old, id_col, "left_anti")
    new_new = (
        pairs.join(a_new, "id_a", "left_semi")
        .join(b_new, "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    return (
        cluster_and_keep(survivors, new_new, id_col=id_col)
        .filter("is_keep")
        .drop("cluster_id", "is_keep")
    )
