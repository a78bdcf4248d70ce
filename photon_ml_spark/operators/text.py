"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, token counting, fingerprinting.

These extend the reference's capability set (it is a tabular/GLM
engine) with the operations a 100 TB document pipeline needs; all are
pure Catalyst expressions — no Python in the hot path — so they run at
scan speed and push through whole-stage codegen.

Determinism: every function is a deterministic expression of the text
column; the paired oracle queries in queries_pipeline.py replicate the
exact arithmetic in SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F, types as T

# Tiny per-language stopword profiles for the n-gram/stopword-hit
# language heuristic. Real deployments plug in fasttext-style models
# via mapInPandas (see operators/multimodal.py for the UDF plumbing
# pattern); the heuristic here is the deterministic, JVM-side baseline.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "fr": ["le", "la", "et", "un", "une"],
    "es": ["el", "la", "de", "y", "un"],
}


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def tokens_expr(text_col: str, tokens_col: str | None) -> Column:
    """The shared-tokenization seam: a pre-materialized token-array
    column when the caller has one (``tokens_col``), else tokenize the
    text column in place. A multi-stage pipeline (quality → dedup →
    contamination → selection) computes ``tokens(text)`` once into a
    cached column and passes its name through every stage's
    ``tokens_col`` parameter, so the corpus is tokenized ONCE per run
    instead of once per stage — at 100 TB the re-split of every
    document per stage is pure waste."""
    return F.col(tokens_col) if tokens_col else tokens(F.col(text_col))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: runs of letters, runs of digits, and
    single punctuation marks each count as one token (the regex
    approximation of a BPE pre-tokenizer)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))


def quality_features(df: DataFrame, text_col: str = "text",
                     tokens_col: str | None = None) -> DataFrame:
    """Per-document quality signals: char/token counts, mean token
    length, stopword ratio, punctuation ratio, all-caps ratio.

    Ratios are exact rationals (int/int) — identical across engines.
    ``tokens_col``: see ``tokens_expr`` (shared-tokenization seam).
    """
    t = F.col(text_col)
    toks = tokens_expr(text_col, tokens_col)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin("a", "the", "and", "of", "to")))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    n_char = F.length(t)
    return df.withColumns(
        {
            "n_chars_q": n_char,
            "n_tokens": n_tok,
            "mean_token_len": (F.length(F.regexp_replace(t, r"\s+", "")) / n_tok),
            "stopword_ratio": stop_hits / n_tok,
            "punct_ratio": n_punct / F.greatest(n_char, F.lit(1)),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  out_col: str = "quality",
                  tokens_col: str | None = None) -> DataFrame:
    """Composite heuristic quality in [0,1]: rewards mid-length docs
    with some stopwords and low punctuation density (the classic
    Gopher/C4-style rule-of-thumb shape, arithmetic kept exact)."""
    q = quality_features(df, text_col, tokens_col=tokens_col)
    len_score = F.least(F.col("n_tokens"), F.lit(100)) / 100.0
    stop_score = F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - F.col("punct_ratio") * 10.0, F.lit(0.0))
    return q.withColumn(out_col, (len_score + stop_score + punct_pen) / 3.0)


def adjacent_pairs(toks: Column) -> Column:
    """Adjacent-token pair structs [(u=tok_i, w=tok_{i+1}), ...] — the
    shared bigram construction (empty for <2 tokens; the
    greatest(size-1, 0) guard keeps slice() legal on short docs)."""
    n = F.size(toks)
    prev = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    cur = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    return F.zip_with(
        prev, cur, lambda a, b: F.struct(a.alias("u"), b.alias("w"))
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (the Gopher-style repetition
    filters): duplicate-token fraction (1 − distinct/total) and
    duplicate-bigram fraction. High values flag boilerplate/spam —
    standard LLM-corpus curation cuts. Exact int/int rationals, pure
    Catalyst."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    bigrams = F.transform(
        adjacent_pairs(toks), lambda p: F.concat(p["u"], F.lit(" "), p["w"])
    )
    nb = F.size(bigrams)
    nb_dist = F.size(F.array_distinct(bigrams))
    return df.withColumns(
        {
            "dup_token_frac": F.when(
                n > 0, (n - n_dist) / n.cast("double")
            ).otherwise(F.lit(0.0)),
            "dup_bigram_frac": F.when(
                nb > 0, (nb - nb_dist) / nb.cast("double")
            ).otherwise(F.lit(0.0)),
        }
    )


# PII detectors: deliberately simple, deterministic regexes (emails,
# dashed phone-number shapes, 16-digit card-number shapes) — the
# curation-pipeline scan stage; swap patterns per policy.
PII_PATTERNS = {
    "emails": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phones": r"\b\d{3}-\d{3}-\d{4}\b",
    "card_numbers": r"\b\d{16}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII match counts + a redacted text column (matches
    replaced with ``[PII]``). Counting and redaction are single-pass
    JVM regex ops — no Python in the loop."""
    t = F.col(text_col)
    out = df
    redacted = t
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(t, F.lit(pat), 0))
        )
        redacted = F.regexp_replace(redacted, pat, "[PII]")
    return out.withColumn("text_redacted", redacted)


def language_scores(text: Column) -> Column:
    """Map lang → stopword-hit count (the n-gram heuristic kernel)."""
    toks = tokens(text)
    pairs = [
        F.struct(
            F.lit(lang).alias("lang"),
            F.size(F.filter(toks, lambda x: x.isin(*words))).alias("hits"),
        )
        for lang, words in LANG_PROFILES.items()
    ]
    return F.array(*pairs)


def identify_language(df: DataFrame, text_col: str = "text",
                      out_col: str = "lang_pred") -> DataFrame:
    """Argmax language with deterministic tie-break (max hits, then
    lexicographically first language). Docs with zero hits anywhere →
    'und' (undetermined)."""
    scores = language_scores(F.col(text_col))
    # sort by (-hits, lang) and take the head
    best = F.sort_array(
        F.transform(scores, lambda s: F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang"))),
    )[0]
    return df.withColumn(
        out_col,
        F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip punctuation,
    collapse whitespace."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^\w\s]", ""), r"\s+", " "
        )
    )


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint = md5 of normalized text (portable across
    engines — both Spark and DuckDB expose md5)."""
    return F.md5(normalize_text(text))


def bow_signature(text: Column) -> Column:
    """Bag-of-words canonical signature: sorted distinct tokens joined.
    Collides for docs that are permutations/repetitions of the same
    vocabulary — the cheap first-stage near-dup key."""
    return bow_signature_of(tokens(text))


def bow_signature_of(toks: Column) -> Column:
    """``bow_signature`` over a pre-built token array (the shared-
    tokenization seam — see ``tokens_expr``)."""
    return F.array_join(F.array_sort(F.array_distinct(toks)), " ")


def shingles_of(toks: Column, n: int) -> Column:
    """Word n-gram shingles over a pre-built token array (the shared-
    tokenization seam — see ``tokens_expr``).

    Built by zip_with-ing the array against its own 1..n−1 shifted
    slices — each input array expression is evaluated ONCE per row.
    The previous transform(sequence)+element_at form re-evaluated
    ``toks`` per position whenever it was a COMPUTED expression
    (element_at on an array expression re-runs the whole expression),
    making every shingle pass O(tokens²) per document — measured 5.7 s
    vs 0.4 s for the sf0.1 bigram explode. zip_with pads the shorter
    side with null and concat_ws SKIPS nulls, so the trailing n−1
    entries are corrupted rather than null — the final slice to
    k = L−n+1 elements drops exactly those."""
    if n == 1:
        return toks
    k = F.size(toks) - (n - 1)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(
            toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))
        )
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(k > 0, F.slice(grams, 1, k)).otherwise(
        F.array().cast("array<string>")
    )


def unigram_perplexity(
    df: DataFrame,
    lm_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed unigram
    language model — the CCNet-style quality filter shape (documents
    far from the reference distribution score high perplexity; filter
    or bucket on it downstream). A unigram LM keeps the whole pipeline
    in Catalyst; swapping in externally-trained n-gram logprobs only
    changes the model table.

    ``lm_df`` is the reference corpus to fit the model on (defaults to
    ``df`` itself — self-perplexity, which still ranks outliers).
    Returns (id, n_tokens, ppl) for docs with ≥ 1 token, where
    ppl = exp(−Σ ln p(tok) / n) with p(tok) = (count + 1) /
    (total + vocab) and unseen tokens backed off to count 0.

    Scale shape: the model is one token-count aggregate (vocab-sized,
    typically broadcastable) plus a 1-row total; scoring is one join
    on the token key + one per-doc aggregation — two shuffles on
    token/doc keys, no driver state.
    """
    lm_src = lm_df if lm_df is not None else df
    # tokens_col applies to ``df``; the LM source shares it only when it
    # IS df (an external lm_df need not carry the pre-built column)
    lm_toks = (
        tokens_expr(text_col, tokens_col)
        if lm_df is None
        else tokens(F.col(text_col))
    )
    toks_rel = lm_src.select(F.explode(lm_toks).alias("__tok"))
    counts = toks_rel.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    totals = counts.agg(
        F.sum("__cnt").alias("__total"), F.count(F.lit(1)).alias("__vocab")
    )
    doc_toks = df.select(
        F.col(id_col),
        F.explode(tokens_expr(text_col, tokens_col)).alias("__tok"),
    )
    scored = (
        doc_toks.join(counts, "__tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("__cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("__total") + F.col("__vocab")).cast("double")
            ).alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.exp(-F.sum("__lp") / F.count(F.lit(1))).alias("ppl"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Split each document into token-window chunks of at most
    ``max_tokens`` tokens, consecutive chunks sharing ``overlap``
    tokens — the standard context-window preparation for LLM training.

    Chunk i covers tokens [i·stride + 1, i·stride + max_tokens] with
    stride = max_tokens − overlap; the final chunk may be short; empty
    documents produce no chunks. Output: the input row's id plus
    (chunk_id, chunk_tokens = token count, chunk_text = the chunk
    re-joined with single spaces).

    Pure Catalyst expressions (tokenize → index arithmetic → slice →
    posexplode): chunking is a flatMap with no shuffle at all — it
    composes with downstream packing (``greedy_pack``) or dedup without
    ever moving data for the split itself.
    """
    if overlap >= max_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < max_tokens ({max_tokens})"
        )
    stride = max_tokens - overlap
    toks = tokens_expr(text_col, tokens_col)

    def _n_chunks_of(t):
        n = F.size(t)
        # 1 chunk when n <= max_tokens, else 1 + ceil((n-max_tokens)/stride)
        return F.when(n <= 0, F.lit(0)).otherwise(
            F.lit(1)
            + F.greatest(
                F.ceil((n - F.lit(max_tokens)) / F.lit(stride)), F.lit(0)
            ).cast("int")
        )

    n_chunks = _n_chunks_of(toks)
    # let-bind the token array through a 1-element-array transform so
    # the slicing lambda reads an evaluated VALUE (tv): a HOF lambda
    # body re-evaluates any embedded expression per element, so slicing
    # `toks` directly would re-run the tokenizer once per chunk —
    # O(tokens²/stride) on book-length documents (the element_at
    # hazard, same class the shingle/SQ8 rewrites removed)
    chunks = F.element_at(
        F.transform(
            F.array(toks),
            lambda tv: F.transform(
                F.sequence(F.lit(0), _n_chunks_of(tv) - 1),
                lambda i: F.slice(tv, (i * stride + 1).cast("int"), max_tokens),
            ),
        ),
        1,
    )
    return (
        df.withColumn("__n_chunks", n_chunks)
        .filter(F.col("__n_chunks") > 0)
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "__chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("__chunk").alias("chunk_tokens"),
            F.concat_ws(" ", "__chunk").alias("chunk_text"),
        )
    )


def greedy_pack(
    df: DataFrame,
    token_budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for LLM training: assign docs to fixed
    token-budget packs by running-sum position (doc d joins the pack
    its preceding cumulative token count falls into).

    Deterministic and shard-parallel: docs are routed to ``n_shards``
    independent streams (windows partition by shard, so no global
    sort — the packing unit of parallelism at 100 TB is the shard).
    Contiguous greedy packing trades ~ one partially-filled pack per
    shard for a plan with a single shuffle; true first-fit-decreasing
    would need stateful per-bin bookkeeping for marginal utilization
    gain.

    Returns one row per doc: (id, shard, pack_id, n_tokens).
    """
    from pyspark.sql import Window

    n = token_count(F.col(text_col))
    shard = (F.col(id_col) % n_shards).cast("long")
    win = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = df.select(
        F.col(id_col), shard.alias("shard"), n.cast("long").alias("n_tokens")
    )
    cum = F.sum("n_tokens").over(win)
    return staged.withColumn(
        "pack_id", F.floor((cum - F.col("n_tokens")) / token_budget).cast("long")
    )


def model_quality_filter(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    reg_param: float = 10.0,
    keep_cutoff: float = 650.0,
) -> DataFrame:
    """Model-based quality filtering: distill the heuristic quality
    score into one tiny linear probe per group and keep documents the
    MODEL predicts above the cutoff — the classifier-filter curation
    pattern (a fasttext-style quality model deciding keep/drop), with
    the training done by the distributed per-entity solver instead of
    a driver-side library.

    Features and targets are integer-quantized (ROUND(ratio·1000)) so
    the probe's normal equations stay exact and engine-replayable (the
    m2 discipline). Returns per-doc rows with the group's fitted
    (coef, intercept), the prediction, and the keep flag; aggregate
    downstream as needed. Scale shape: feature extraction is
    scan-speed Catalyst, training shuffles once on group, scoring is a
    broadcast-size model join.
    """
    from photon_ml_spark.ml.random_effects import fit_random_effects

    q = quality_score(df, text_col)
    feats = q.withColumns(
        {
            "x_q": F.round(F.col("stopword_ratio") * 1000, 0),
            "y_q": F.round(F.col("quality") * 1000, 0),
        }
    )
    train = feats.select(
        F.col(group_col).cast("string").alias("entity"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array(F.col("x_q").cast("double")).alias("features_values"),
        F.col("y_q").alias("response"),
    )
    models = fit_random_effects(
        train,
        entity_col="entity",
        dim=1,
        family="gaussian",
        weight_col=None,
        offset_col=None,
        reg_param=reg_param,
        tol=1e-12,
    ).select(
        F.col("entity").alias(group_col),
        F.element_at("coefficients", 1).alias("probe_coef"),
        F.col("intercept").alias("probe_intercept"),
    )
    scored = feats.join(F.broadcast(models), group_col).withColumn(
        "probe_pred",
        F.round(
            F.col("probe_coef") * F.col("x_q") + F.col("probe_intercept"), 6
        ),
    )
    return scored.withColumn("is_keep", F.col("probe_pred") >= keep_cutoff)


# ------------------------------------------------------------ BPE tokenizer

# Symbol-string layout for BPE merge rounds: symbols joined by TWO
# spaces with double-space sentinels at both ends. A merge of the pair
# (a, b) is then the leftmost-non-overlapping global regex replace of
# " a  b " with " ab " — each match consumes ONE of the two boundary
# spaces on each side and the replacement restores it, so adjacent
# matches (e.g. "a a a a" merging (a,a) twice) still fire, while odd
# runs merge left-to-right exactly like the reference algorithm
# (Sennrich et al., ACL 2016). The same replace runs verbatim in any
# regex engine with global leftmost semantics (Java, RE2), which is
# what makes the training loop engine-replayable.
_BPE_SEP = "  "


def _bpe_symbol_string(word: Column) -> Column:
    return F.concat(
        F.lit(_BPE_SEP), F.array_join(F.split(word, ""), _BPE_SEP), F.lit(_BPE_SEP)
    )


def _bpe_merge_word(syms: list, left: str, right: str):
    """Merge every (left, right) adjacency in a symbol list,
    left-to-right non-overlapping (aaa + (a,a) -> [aa, a]) — the same
    scan order a single regex-replace pass applies. Returns the input
    list unchanged (identity) when nothing merged, so callers can test
    ``is`` for staleness."""
    out, i, n, changed = [], 0, len(syms), False
    while i < n:
        if i < n - 1 and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
            changed = True
        else:
            out.append(syms[i])
            i += 1
    return out if changed else syms


def _bpe_local_merge_loop(
    vocab: list, n_merges: int, min_pair_count: int
) -> list:
    """The greedy BPE merge loop over a collected word-frequency table
    ``[(symbol_list, count), …]`` — pure driver-local data-structure
    work, the sentencepiece/HF shape. Pair selection is (count desc,
    then (left, right) lexicographic) via a lazy-deletion heap; counts
    are maintained incrementally, touching only the words that contain
    the merged pair (a pair→word-ids index). Returns
    [(merge_idx, left, right, merged, pair_count), …]."""
    import heapq
    from collections import Counter, defaultdict

    pair_counts: Counter = Counter()
    pair_words: dict = defaultdict(set)
    for wi, (syms, cnt) in enumerate(vocab):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += cnt
            pair_words[p].add(wi)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple] = []
    while len(merges) < n_merges and heap:
        negc, l, r = heapq.heappop(heap)
        c = pair_counts.get((l, r))
        if c is None or c != -negc:
            continue  # stale heap entry (count changed since push)
        if c < min_pair_count:
            break  # heap top is the true max — nothing else qualifies
        merges.append((len(merges), l, r, l + r, c))
        del pair_counts[(l, r)]
        for wi in pair_words.pop((l, r), ()):
            syms, cnt = vocab[wi]
            new = _bpe_merge_word(syms, l, r)
            if new is syms:
                continue  # stale index entry — pair already gone
            vocab[wi] = (new, cnt)
            old_p = Counter(zip(syms, syms[1:]))
            new_p = Counter(zip(new, new[1:]))
            for p in set(old_p) | set(new_p):
                d = new_p.get(p, 0) - old_p.get(p, 0)
                if d == 0 or p == (l, r):
                    continue
                nc = pair_counts.get(p, 0) + d * cnt
                if nc <= 0:
                    pair_counts.pop(p, None)
                else:
                    pair_counts[p] = nc
                    if d > 0:
                        pair_words[p].add(wi)
                    heapq.heappush(heap, (-nc, p[0], p[1]))
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_pair_count: int = 2,
    word_pattern: str | None = r"^[a-z0-9]+$",
    max_vocab_rows: int = 10_000_000,
):
    """Learn a byte-pair-encoding merge table from a corpus, Spark-first.

    Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus
    — so 100 TB of text reduces to ONE distributed
    ``groupBy(word).count()`` (the only stage that touches the
    corpus). The vocab-bounded frequency table (a few million rows for
    web-scale text under ``word_pattern``) is then collected and the
    merge loop runs DRIVER-LOCAL with incremental pair counts and a
    lazy-deletion heap — exactly how sentencepiece/HF train. A
    production merge budget is 30k–100k rounds; one Spark job per
    round would cost O(days) of job-launch latency independent of data
    size, so the loop must not scale with n_merges × job-latency.
    (Earlier design, for the record: a per-round distributed
    pair-count + regex rewrite — correct, vocab-bounded, but
    structurally unable to reach real merge budgets.)

    Argmax ties break (count desc, then (left, right) lexicographic) —
    deterministic. Training stops early when no pair reaches
    ``min_pair_count``. ``word_pattern`` filters words (None keeps
    everything). ``max_vocab_rows`` bounds the driver collect: the
    word-frequency table is small by construction for natural-language
    corpora, but a pathological corpus (random strings) could make
    "vocab-bounded" unbounded — raises instead of OOMing the driver
    (mitigate with a tighter ``word_pattern`` or pre-filtering).

    Returns a DataFrame (merge_idx, left, right, merged, pair_count).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    if word_pattern is not None:
        words = words.filter(F.col("word").rlike(word_pattern))
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    rows = freq.limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"bpe_train: word-frequency table exceeds max_vocab_rows="
            f"{max_vocab_rows}; tighten word_pattern or raise the cap"
        )
    vocab = [(list(r.word), int(r.cnt)) for r in rows]
    merges = _bpe_local_merge_loop(vocab, n_merges, min_pair_count)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_idx int, left string, right string, merged string, pair_count long",
    )


#: merge-list size above which bpe_encode_words switches from a
#: Catalyst regex chain to the Arrow-batched local encoder: one
#: regexp_replace expression per merge is scan-speed for tokenizer-
#: artifact-sized lists, but a production merge table (30k-100k rows)
#: would build a plan tree 100k expressions deep — analysis, not data,
#: becomes the bottleneck (same class of limit as the enforced
#: literal-coefficient cap in functions/vectors.py).
BPE_ENCODE_PLAN_CAP = 64


def _bpe_rank_encode(word: str, ranks: dict) -> list:
    """Encode ONE word with a merge-rank table: repeatedly merge the
    lowest-rank adjacent pair present (ties impossible — ranks are
    unique). Equivalent to applying the merges sequentially in
    training order, because a merge can only create pairs involving
    its own output symbol, and any merge consuming that symbol was
    necessarily learned LATER — so earlier merges can never become
    newly applicable."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_i = rk, i
        if best_rank is None:
            break
        l, r = syms[best_i], syms[best_i + 1]
        syms = _bpe_merge_word(syms, l, r)
    return syms


def bpe_encode_words(words: DataFrame, merges: list, word_col: str = "word") -> DataFrame:
    """Apply an ordered merge list to a word relation → ``syms`` array
    column (the word's BPE segmentation). ``merges`` is a list of
    (left, right) pairs (or rows with .left/.right) in training order —
    a tokenizer artifact embedded in the plan the way model
    coefficients are.

    Two physical strategies, same output (equivalence asserted in
    tests): up to ``BPE_ENCODE_PLAN_CAP`` merges, one Catalyst
    regexp_replace per merge (JVM scan-speed, SQL-replayable — the
    gate-query path); above it, an Arrow-batched ``mapInPandas``
    rank-greedy encoder whose cost is independent of merge count per
    plan (the ranks dict ships once per task), which is how a
    production 30k-merge tokenizer encodes. Both run over the
    DISTINCT-WORD relation, never the corpus."""
    import re as _re

    pairs = [
        (m.left, m.right) if hasattr(m, "left") else (m[0], m[1])
        for m in merges
    ]
    if len(pairs) <= BPE_ENCODE_PLAN_CAP:
        s = _bpe_symbol_string(F.col(word_col))
        for l, r in pairs:
            pat = " " + _re.escape(l) + _BPE_SEP + _re.escape(r) + " "
            s = F.regexp_replace(s, pat, f" {l}{r} ")
        return words.withColumn("syms", F.split(F.trim(s), _BPE_SEP))

    ranks = {p: i for i, p in enumerate(pairs)}
    out_schema = T.StructType(
        words.schema.fields
        + [T.StructField("syms", T.ArrayType(T.StringType()))]
    )

    def encode(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["syms"] = [
                _bpe_rank_encode(w, ranks) for w in pdf[word_col]
            ]
            yield pdf

    return words.mapInPandas(encode, schema=out_schema)


def bpe_encode(
    df: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_pattern: str | None = r"^[a-z0-9]+$",
) -> DataFrame:
    """Encode documents with a trained merge list: (id, bpe_tokens).

    Scale shape: encoding is applied to the DISTINCT-WORD relation
    (vocab-bounded) and joined back — the regex chain never runs over
    the full corpus; the join broadcasts while the vocab fits and
    shuffles on word otherwise. Token order is restored by sorting the
    collected (position, syms) pairs — per-document state only."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    )
    if word_pattern is not None:
        toks = toks.filter(F.col("word").rlike(word_pattern))
    vocab = bpe_encode_words(toks.select("word").distinct(), merges)
    return (
        toks.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda x: x["syms"],
                )
            ).alias("bpe_tokens")
        )
    )


def corpus_report(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus data card — the summary a curation pipeline
    publishes alongside its output shards (doc/token counts,
    exact-duplicate mass, PII incidence). One pass over the corpus:
    every signal is a scan-speed expression feeding a single grouped
    aggregate; the only non-trivial aggregate is the count-distinct of
    normalized-content fingerprints. ``exact=True`` (default, and the
    oracle-compared path) computes it exactly — Catalyst partial-
    aggregates map-side, but the distinct set is still materialized
    per group; ``exact=False`` switches to the mergeable
    ``approx_count_distinct`` HLL sketch (~2% relative error, O(1)
    state per group) — the right setting at extreme group
    cardinalities (billions of docs per language).

    Returns one row per group: (group, n_docs, n_tokens,
    n_unique_docs, n_pii_docs, dup_doc_frac).
    """
    t = F.col(text_col)
    # a doc is PII-bearing when ANY registered detector fires — the
    # card must not under-report classes pii_scan itself would flag.
    # Presence-only, so rlike (find-first, short-circuiting through
    # the OR chain in codegen) instead of materializing EVERY match
    # with regexp_extract_all just to test size>0 (r13, guide §1.2
    # step 2 — same booleans, same Java regex engine, less per-row
    # work on the card's full-corpus scan)
    has_pii = F.lit(False)
    for pat in PII_PATTERNS.values():
        has_pii = has_pii | t.rlike(pat)
    base = df.select(
        F.col(group_col),
        token_count(t).alias("__nt"),
        fingerprint_md5(t).alias("__fp"),
        has_pii.alias("__pii"),
    )
    return (
        base.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            (
                F.countDistinct("__fp")
                if exact
                else F.approx_count_distinct("__fp", rsd=0.02)
            ).alias("n_unique_docs"),
            F.sum(F.when(F.col("__pii"), 1).otherwise(0))
            .cast("long")
            .alias("n_pii_docs"),
        )
        .withColumn(
            # clamped at 0: the HLL estimate in exact=False mode can
            # overshoot n_docs slightly, and a negative duplicate
            # fraction must never reach a published data card
            "dup_doc_frac",
            F.greatest(
                F.lit(0.0),
                F.round(
                    (F.col("n_docs") - F.col("n_unique_docs"))
                    / F.col("n_docs").cast("double"),
                    6,
                ),
            ),
        )
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's DISTINCT
    word n-grams that occur in no other document — high novelty marks
    original content, low novelty boilerplate/templated text (the
    curation signal complementing near-dup removal: a doc can be below
    every pairwise dup threshold yet consist entirely of corpus-common
    n-grams).

    Returns (id, n_ngrams, n_novel, novelty). Scale shape: one distinct
    (doc, shingle) relation feeding (a) the per-shingle document-
    frequency aggregate and (b) a join back for the per-doc fraction —
    two shuffles on the shingle key, partial-agg'd map-side; no
    all-pairs anything. Docs with fewer than n tokens have no n-grams
    and are omitted (novelty is undefined for them).
    """
    sh = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of(tokens_expr(text_col, tokens_col), n))
        ).alias("shingle"),
    )
    docfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    return (
        sh.join(docfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.col("n_novel") / F.col("n_ngrams").cast("double")
        )
    )


# ------------------------------------------------ unigram-LM tokenizer

# The sentencepiece-style companion to BPE: a vocabulary of scored
# subword pieces; encoding = highest-scoring segmentation (Viterbi DP);
# training = EM over the segmentation lattice. Same scale shape as
# bpe_train — ONE distributed word-frequency pass, then driver-local
# iteration over the vocab-bounded table (Kudo 2018; the reference has
# no tokenizer, this is part of the LLM-pipeline extension).


def _viterbi_segment(word: str, scores: dict, max_piece: int):
    """Best-scoring segmentation of ``word`` under a piece→score map.

    Deterministic tie-break: score DESC, then lexicographically
    smallest space-joined segmentation — compositional under the
    backwards DP (appending a common prefix piece preserves string
    order), and exactly replayable by a brute-force enumeration oracle
    ordering by (score DESC, seg ASC). Returns (pieces, score) or
    (None, None) when no segmentation exists (missing char
    coverage)."""
    n = len(word)
    INF = float("-inf")
    best: list = [None] * (n + 1)  # position -> (score, seg_string)
    best[n] = (0.0, "")
    for i in range(n - 1, -1, -1):
        cand = None
        for j in range(i + 1, min(n, i + max_piece) + 1):
            piece = word[i:j]
            sc = scores.get(piece)
            if sc is None or best[j] is None:
                continue
            tail_sc, tail_seg = best[j]
            seg = piece if not tail_seg else piece + " " + tail_seg
            c = (sc + tail_sc, seg)
            if cand is None or c[0] > cand[0] or (
                c[0] == cand[0] and c[1] < cand[1]
            ):
                cand = c
        best[i] = cand
    if best[0] is None:
        return None, None
    return best[0][1].split(" "), best[0][0]


def _lattice_expected_counts(word: str, logp: dict, max_piece: int, freq: float):
    """Forward-backward over the segmentation lattice: expected count of
    each piece under the unigram model P(seg) ∝ Π p(piece), weighted by
    the word's corpus frequency. Returns (counts dict, marginal
    log-likelihood of the word)."""
    n = len(word)
    NEG = float("-inf")
    # alpha[i]: log total prob of prefix word[:i]; beta[i]: of suffix word[i:]
    alpha = [NEG] * (n + 1)
    beta = [NEG] * (n + 1)
    alpha[0] = 0.0
    beta[n] = 0.0
    edges = []  # (i, j, piece, lp)
    for i in range(n):
        for j in range(i + 1, min(n, i + max_piece) + 1):
            lp = logp.get(word[i:j])
            if lp is not None:
                edges.append((i, j, word[i:j], lp))
    for i, j, _, lp in edges:  # edges sorted by i asc already
        x = alpha[i] + lp
        a = alpha[j]
        alpha[j] = x if a == NEG else max(a, x) + math.log1p(
            math.exp(-abs(a - x))
        )
    for i, j, _, lp in reversed(edges):  # j desc order works: i < j
        x = beta[j] + lp
        b = beta[i]
        beta[i] = x if b == NEG else max(b, x) + math.log1p(
            math.exp(-abs(b - x))
        )
    z = alpha[n]
    counts: dict = {}
    if z == NEG:
        return counts, NEG
    for i, j, piece, lp in edges:
        post = math.exp(alpha[i] + lp + beta[j] - z)
        counts[piece] = counts.get(piece, 0.0) + post * freq
    return counts, z * freq


def unigram_train(
    df: DataFrame,
    vocab_size: int = 512,
    text_col: str = "text",
    word_pattern: str | None = r"^[a-z0-9]+$",
    max_piece: int = 6,
    seed_size: int = 4096,
    n_em_iters: int = 2,
    shrink: float = 0.75,
    max_vocab_rows: int = 10_000_000,
):
    """Train a unigram-LM subword vocabulary (Kudo 2018, the
    sentencepiece algorithm, simplified): seed with the most frequent
    substrings (+ full single-char coverage), then alternate EM over
    the segmentation lattice (forward-backward expected counts →
    re-estimated piece probabilities) with pruning of the
    lowest-expected-count pieces until ``vocab_size`` remains.

    Scale shape = ``bpe_train``: one distributed
    ``groupBy(word).count()`` touches the corpus; everything after
    runs driver-local on the vocab-bounded frequency table — so
    training cost is decoupled from corpus size. The EM loop itself is
    pure Python over the word lattice: O(words × len × max_piece) per
    iteration, seconds at a 100k-word vocabulary, minutes toward the
    ``max_vocab_rows`` cap — acceptable for a train-once tokenizer
    artifact (sentencepiece pays the same loop in C++). Returns a
    DataFrame (piece string, logprob double) — single chars are never
    pruned, so every word of the training alphabet stays encodable."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    if word_pattern is not None:
        words = words.filter(F.col("word").rlike(word_pattern))
    freq_rows = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .limit(max_vocab_rows + 1)
        .collect()
    )
    if len(freq_rows) > max_vocab_rows:
        raise ValueError(
            f"unigram_train: word-frequency table exceeds max_vocab_rows="
            f"{max_vocab_rows}; tighten word_pattern or raise the cap"
        )
    wf = [(r.word, float(r.cnt)) for r in freq_rows]

    # seed: substring counts (weighted by word freq), full char coverage
    sub_counts: dict = {}
    chars: set = set()
    for w, c in wf:
        chars.update(w)
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + max_piece) + 1):
                p = w[i : j]
                sub_counts[p] = sub_counts.get(p, 0.0) + c
    multi = sorted(
        (p for p in sub_counts if len(p) > 1),
        key=lambda p: (-sub_counts[p] * len(p), p),
    )[: max(0, seed_size - len(chars))]
    vocab = set(chars) | set(multi)

    def em_round(pieces: set) -> dict:
        total = sum(sub_counts.get(p, 1.0) for p in pieces)
        logp = {
            p: math.log(sub_counts.get(p, 1.0) / total) for p in pieces
        }
        for _ in range(n_em_iters):
            exp_counts: dict = {}
            for w, c in wf:
                counts, _ = _lattice_expected_counts(w, logp, max_piece, c)
                for p, v in counts.items():
                    exp_counts[p] = exp_counts.get(p, 0.0) + v
            smooth = 1e-9
            tot = sum(exp_counts.values()) + smooth * len(pieces)
            logp = {
                p: math.log((exp_counts.get(p, 0.0) + smooth) / tot)
                for p in pieces
            }
        return logp

    logp = em_round(vocab)
    while len(vocab) > vocab_size:
        keep_n = max(vocab_size, int(len(vocab) * shrink))
        prunable = sorted(
            (p for p in vocab if len(p) > 1),
            key=lambda p: (logp[p], p),
        )
        n_drop = min(len(prunable), len(vocab) - keep_n)
        if n_drop <= 0:
            break
        vocab -= set(prunable[:n_drop])
        logp = em_round(vocab)
    rows = sorted(
        ((p, float(lp)) for p, lp in logp.items()),
        key=lambda t: (-t[1], t[0]),
    )
    return df.sparkSession.createDataFrame(rows, "piece string, logprob double")


def unigram_encode_words(
    words: DataFrame,
    vocab: dict,
    word_col: str = "word",
    max_piece: int | None = None,
) -> DataFrame:
    """Viterbi-segment a word relation under a piece→score map →
    ``syms`` array column (+ ``seg_score``). Arrow ``mapInPandas``
    over the vocab-bounded DISTINCT-WORD relation (the bpe_encode_words
    shape) — the scores dict ships once per task, per-word cost is the
    O(len · max_piece) DP. Words with no segmentation (characters
    outside the vocab) yield NULL syms."""
    mp = max_piece or max((len(p) for p in vocab), default=1)
    out_schema = T.StructType(
        words.schema.fields
        + [
            T.StructField("syms", T.ArrayType(T.StringType())),
            T.StructField("seg_score", T.DoubleType()),
        ]
    )

    def encode(batches):
        for pdf in batches:
            pdf = pdf.copy()
            segs, scs = [], []
            for w in pdf[word_col]:
                pieces, sc = _viterbi_segment(w, vocab, mp)
                segs.append(pieces)
                scs.append(sc)
            pdf["syms"] = segs
            pdf["seg_score"] = scs
            yield pdf

    return words.mapInPandas(encode, schema=out_schema)


def unigram_encode(
    df: DataFrame,
    vocab: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_pattern: str | None = r"^[a-z0-9]+$",
) -> DataFrame:
    """Encode documents under a trained unigram vocabulary:
    (id, unigram_tokens). Same corpus shape as ``bpe_encode`` — the DP
    runs over the DISTINCT-WORD relation and joins back; unencodable
    words are dropped (sentencepiece would emit <unk>)."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    )
    if word_pattern is not None:
        toks = toks.filter(F.col("word").rlike(word_pattern))
    seg = unigram_encode_words(toks.select("word").distinct(), vocab)
    return (
        toks.join(seg.filter(F.col("syms").isNotNull()), "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda x: x["syms"],
                )
            ).alias("unigram_tokens")
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf — the keyword-
    extraction stage of a curation/retrieval pipeline (document
    descriptors for data cards, cluster labeling, filter audits).

    tf = term count within the document, idf = ln(N / df) with df the
    number of documents containing the term. Pure DataFrame shapes that
    scale: one explode → (doc, term) count, a term-keyed document-
    frequency aggregate joined back (broadcast while the vocabulary
    fits, shuffle-on-term beyond), the corpus size as a broadcast 1-row
    frame, and a per-document rank window. Ranking keys on the ROUNDED
    score then the term (ties broken lexicographically) so the order is
    reproducible across engines — the oracle convention.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # count docs from the already-grouped tf relation (exactly the
    # docs with >= 1 token), not the full token explode
    n = tf.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    win = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bigram_perplexity(
    df: DataFrame,
    lam: float = 0.7,
    lm_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document perplexity under an INTERPOLATED bigram LM — one
    Jelinek-Mercer step up from ``unigram_perplexity`` toward the
    KenLM-class models CCNet uses: p(w|u) = λ·p_bi(w|u) + (1−λ)·p_uni(w)
    with p_bi the MLE bigram probability (0 when the context or pair is
    unseen — interpolation absorbs it) and p_uni the add-one unigram.

    Scored over a document's n−1 transitions; docs with < 2 tokens are
    excluded (no transitions to score). Returns (id, n_bigrams, ppl).

    Scale shape: the model is TWO count aggregates (bigram-pair and
    unigram, both vocab-bounded) plus a 1-row total; scoring joins each
    transition to the pair relation and the unigram relation — shuffles
    on token keys only, no driver state, exactly the unigram operator's
    profile with one extra join.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    lm_src = lm_df if lm_df is not None else df

    def transitions(frame, with_id):
        pairs = adjacent_pairs(tokens(F.col(text_col)))
        cols = [F.col(id_col)] if with_id else []
        return frame.select(*cols, F.explode(pairs).alias("__p")).select(
            *([id_col] if with_id else []),
            F.col("__p.u").alias("__u"),
            F.col("__p.w").alias("__w"),
        )

    bi = transitions(lm_src, False).groupBy("__u", "__w").agg(
        F.count(F.lit(1)).alias("__bi_cnt")
    )
    ctx = bi.groupBy("__u").agg(F.sum("__bi_cnt").alias("__ctx_cnt"))
    uni = (
        lm_src.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__uni_cnt"))
    )
    totals = uni.agg(
        F.sum("__uni_cnt").alias("__total"), F.count(F.lit(1)).alias("__vocab")
    )
    p_bi = (
        F.coalesce(F.col("__bi_cnt"), F.lit(0)).cast("double")
        / F.coalesce(F.col("__ctx_cnt"), F.lit(1)).cast("double")
    )
    p_uni = (
        (F.coalesce(F.col("__uni_cnt"), F.lit(0)) + 1).cast("double")
        / (F.col("__total") + F.col("__vocab")).cast("double")
    )
    # p = 0 is REACHABLE at lam = 1 (pure MLE, unseen transition):
    # ln(0) is NULL in Spark, and a NULL silently vanishing from SUM
    # would hand out-of-distribution docs a PERFECT score — map it to
    # -inf so their ppl is +inf
    p = F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni
    scored = (
        transitions(df, True)
        .join(bi, ["__u", "__w"], "left")
        .join(ctx, "__u", "left")
        .join(uni, "__w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.when(p > 0, F.log(p))
            .otherwise(F.lit(float("-inf")))
            .alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.exp(-F.sum("__lp") / F.count(F.lit(1))).alias("ppl"),
    )
